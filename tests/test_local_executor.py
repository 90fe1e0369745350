"""Driver-side executor for small-candidate queries (query/local.py):
identical rows to the Spark scatter on the store and the live tier,
one Spark job per warm store query, and the reader/live-tier defects
that path runs through."""

import datetime
import time

import pytest
from pyspark.sql import functions as F

from coa_codesearch_mcp_spark.index.store import IndexConfig, IndexReader, IndexWriter
from coa_codesearch_mcp_spark.query import local
from coa_codesearch_mcp_spark.query.ast import BoolQ, TermQ
from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher
from coa_codesearch_mcp_spark.streaming.incremental import (
    DeltaIndexManager,
    _url_doc_id,
)

TS = datetime.datetime(2024, 4, 1)
N_DOCS = 900


def _text(i: int) -> str:
    """Every doc holds `common`; `alpha beta` is a phrase in every
    7th doc; `gamma` is selective; `delta` marks a later doc band
    (NOT-exclusions across ranges)."""
    words = ["common", f"filler{i % 13}", f"pad{i % 5}", "common"]
    if i % 7 == 0:
        words += ["alpha", "beta"]
    if i % 11 == 0:
        words += ["beta", "alpha", "gamma"]
    if i % 29 == 0:
        words += ["gamma"] * (1 + i % 3)
    if 200 <= i < 260:
        words += ["delta"]
    return " ".join(words)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _both(monkeypatch, run):
    """(driver-path rows, scatter rows) of one query."""
    got = _rows(run())
    with monkeypatch.context() as m:
        m.setattr(local, "LOCAL_MAX_POSTINGS", -1)
        want = _rows(run())
    return got, want


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ix_local"))
    cfg = IndexConfig(
        field="content_patterns", n_buckets=4, range_size=128, chunk_size=256,
        chunks_per_wave=4, salt_threshold=200, max_salts=4,
    )
    docs = spark.createDataFrame(
        [(i, _text(i)) for i in range(N_DOCS)], "doc_id long, text string"
    )
    IndexWriter(spark, root, cfg).build(docs)
    return StoreSearcher(IndexReader(spark, root))


@pytest.fixture(scope="module")
def live(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inc_local"))
    cfg = IndexConfig(
        field="content_patterns", n_buckets=4,
        range_size=1 << 59,  # 62-bit url-hash ids: up to 8 ranges
        chunk_size=1 << 59, chunks_per_wave=32, salt_threshold=10_000,
    )
    docs = spark.createDataFrame(
        [(f"doc://{i}", _text(i)) for i in range(300)], "url string, text string"
    ).withColumn("doc_id", _url_doc_id())
    m = DeltaIndexManager(spark, root, cfg)
    m.init_main(docs)
    m.apply_batch(
        spark.createDataFrame(
            [
                ("doc://0", "upsert", "common gamma alpha beta gamma", TS, TS),
                ("doc://7", "delete", None, None, TS),
                ("doc://22", "upsert", "alpha beta delta", TS, TS),
                ("doc://new1", "upsert", "common alpha beta gamma", TS, TS),
            ],
            "url string, op string, text string, warc_ts timestamp, event_ts timestamp",
        )
    )
    assert len(m.segments()) == 2
    return m


QUERIES = [
    ("term", lambda s: s.search_or(["gamma"], k=10)),
    ("or", lambda s: s.search_or(["common", "gamma"], k=10)),
    ("and", lambda s: s.search_and(["alpha", "gamma"], k=10)),
    ("not", lambda s: s.search_or(["alpha"], k=10, exclude=["delta"])),
    ("phrase", lambda s: s.search_phrase(["alpha", "beta"], k=10)),
    ("wildcard", lambda s: s.search_wildcard("gam*", k=10)),
]


@pytest.mark.parametrize("name,run", QUERIES, ids=[q[0] for q in QUERIES])
def test_store_executors_agree(monkeypatch, store, name, run):
    got, want = _both(monkeypatch, lambda: run(store))
    assert want, name
    assert got == want, name


@pytest.mark.parametrize("name,run", QUERIES, ids=[q[0] for q in QUERIES])
def test_live_executors_agree(monkeypatch, live, name, run):
    got, want = _both(monkeypatch, lambda: run(live))
    assert want, name
    assert got == want, name


# k does not pick the executor: the driver path's rows never exceed the
# candidate postings. Deep k rounds and returns every tied hit (all 900
# docs hold `common`), and the full clause relation takes the driver too.
DEEP = [
    ("or_k1000", lambda s: s.search_or(["common", "gamma"], k=1000)),
    ("phrase_k1000", lambda s: s.search_phrase(["alpha", "beta"], k=1000)),
]


@pytest.mark.parametrize("name,run", DEEP, ids=[q[0] for q in DEEP])
def test_deep_k_executors_agree(monkeypatch, store, live, name, run):
    for tier in (store, live):
        got, want = _both(monkeypatch, lambda: run(tier))
        assert len(want) > 10, name
        assert got == want, name


def test_store_full_clause_relation_executors_agree(monkeypatch, store):
    run = lambda: store._wand_search(["common"], StoreSearcher._ALL, "or")  # noqa: E731
    got, want = _both(monkeypatch, run)
    assert len(want) == N_DOCS
    assert got == want


LIVE_ROUTED = [
    ("or", lambda s: s.search_or(["gamma"], k=10)),
    ("phrase", lambda s: s.search_phrase(["alpha", "beta"], k=10)),
]


@pytest.mark.parametrize("name,run", LIVE_ROUTED, ids=[q[0] for q in LIVE_ROUTED])
def test_tombstone_rows_count_toward_live_routing(monkeypatch, live, name, run):
    """The live driver path reads every committed tombstone row, so
    those rows count toward LOCAL_MAX_POSTINGS: a query whose postings
    alone fit takes the scatter once postings + tombstones do not."""
    ctx = live._query_context(["alpha", "beta", "gamma"], [])
    assert ctx.n_tombs == live._tombstones_raw().count() == 4
    uniq = {"or": ["gamma"], "phrase": ["alpha", "beta"]}[name]
    postings = sum(df for (t, _s), df in ctx.seg_df.items() if t in uniq)
    calls = []
    real = DeltaIndexManager._score_local

    def spy(self, *args):
        calls.append(name)
        return real(self, *args)

    monkeypatch.setattr(DeltaIndexManager, "_score_local", spy)
    monkeypatch.setattr(local, "LOCAL_MAX_POSTINGS", postings + ctx.n_tombs - 1)
    scattered = _rows(run(live))
    assert calls == []
    monkeypatch.setattr(local, "LOCAL_MAX_POSTINGS", postings + ctx.n_tombs)
    assert _rows(run(live)) == scattered
    assert calls == [name]


def test_store_bool_and_not_executors_agree(monkeypatch, store):
    q = BoolQ(must=[TermQ("common"), TermQ("gamma")], must_not=[TermQ("delta")])
    got, want = _both(monkeypatch, lambda: store.execute(q, k=10))
    assert want and got == want


def _jobs(spark, run):
    """(rows, Spark job ids) of one collected query."""
    sc = spark.sparkContext
    group = f"local_probe_{time.monotonic_ns()}"
    sc.setJobGroup(group, "driver-path store query")
    try:
        rows = _rows(run())
    finally:
        sc.setJobGroup(None, None)
    return rows, list(sc.statusTracker().getJobIdsForGroup(group))


def test_store_local_query_launches_one_job(spark, store):
    """A warm driver-path query is one Spark job: the block scan. The
    term cache already holds the dictionary rows, and the rounding and
    the top-k run over local relations."""
    store.search_or(["common", "gamma"], k=10).collect()  # warm term cache
    rows, jobs = _jobs(spark, lambda: store.search_or(["common", "gamma"], k=10))
    assert len(rows) == 10
    assert len(jobs) == 1, jobs


def test_store_local_empty_result_launches_one_job(spark, store):
    """A phrase whose terms never meet ("delta" ends its docs) returns
    no rows, still from the block scan alone: an empty pandas frame
    would become an RDD scan, so no rows is a SQL relation."""
    phrase = lambda: store.search_phrase(["delta", "alpha"], k=10)  # noqa: E731
    phrase().collect()  # warm term cache
    rows, jobs = _jobs(spark, phrase)
    assert rows == []
    assert len(jobs) == 1, jobs


def test_wand_stats_runs_local_executor(live):
    hits, stats = live.wand_stats(["common", "gamma"], k=10, bootstrap=False)
    assert hits == _rows(live.search_or(["common", "gamma"], k=10))
    assert stats.blocks_total > 0 and stats.docs_scored > 0


def test_lookup_terms_mixed_hit_after_cache_clear(spark, store, monkeypatch):
    """A lookup mixing a cached term with a new one, once the cache
    bound trips, returns both: the clear must not drop the cached
    term's entry from this lookup's result."""
    reader = IndexReader(spark, store.reader.root)
    monkeypatch.setattr(IndexReader, "TERM_CACHE_MAX", 1)
    reader.lookup_terms(["alpha", "beta"])
    info = reader.lookup_terms(["alpha", "gamma"])
    assert sorted(info) == ["alpha", "gamma"]
    assert info["alpha"]["df"] == store.reader.lookup_terms(["alpha"])["alpha"]["df"]


def test_reader_follows_in_place_rebuild(spark, tmp_path):
    """A StoreSearcher whose reader never called snapshot_token() must
    still read the rebuilt index: the memoized dictionary/postings
    relations pin the old parquet file listing otherwise."""
    from coa_codesearch_mcp_spark.functions.tools_ops import clear_index

    root = str(tmp_path / "ix_rebuild")
    cfg = IndexConfig(field="content", n_buckets=2, range_size=1 << 14, chunk_size=1 << 14)
    v1 = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma")], "doc_id long, text string"
    )
    IndexWriter(spark, root, cfg).build(v1)
    ss = StoreSearcher(IndexReader(spark, root))
    assert len(_rows(ss.search_term("alpha", k=5))) == 2
    time.sleep(0.02)
    clear_index(root)
    v2 = v1.unionByName(
        spark.createDataFrame([(2, "alpha delta")], "doc_id long, text string")
    )
    IndexWriter(spark, root, cfg).build(v2)
    got = _rows(ss.search_term("alpha", k=5))
    fresh = _rows(StoreSearcher(IndexReader(spark, root)).search_term("alpha", k=5))
    assert len(got) == 3
    assert got == fresh


def test_live_or_finds_delta_doc_below_live_avgdl(spark, tmp_path, monkeypatch):
    """A delta's block ub is built with the delta's avgdl but scored
    with the live avgdl. Here the delta holds one 3-token doc while the
    main segment's docs are ~60 tokens long, so the delta doc's true
    score (tfn 1.63) beats the main doc's (1.36) although its stored
    bound (1.0) does not; unscaled, WAND pruned it from the top 1."""
    cfg = IndexConfig(
        field="content_patterns", n_buckets=2, range_size=1 << 62,
        chunk_size=1 << 62, chunks_per_wave=4, salt_threshold=10_000,
    )
    main = [
        (f"doc://{i}", " ".join(f"w{i}x{j}" for j in range(60)))
        for i in range(20)
    ]
    main[0] = (main[0][0], "target target " + " ".join(f"w0x{j}" for j in range(58)))
    docs = spark.createDataFrame(main, "url string, text string").withColumn(
        "doc_id", _url_doc_id()
    )
    m = DeltaIndexManager(spark, str(tmp_path / "inc_avgdl"), cfg)
    m.init_main(docs)
    m.apply_batch(
        spark.createDataFrame(
            [("doc://short", "upsert", "target alsoshort tiny", TS, TS)],
            "url string, op string, text string, warc_ts timestamp, event_ts timestamp",
        )
    )
    fresh = DeltaIndexManager(spark, str(tmp_path / "inc_avgdl_fresh"), cfg)
    fresh.init_main(
        docs.unionByName(
            spark.createDataFrame(
                [("doc://short", "target alsoshort tiny")], "url string, text string"
            ).withColumn("doc_id", _url_doc_id())
        )
    )
    want = _rows(fresh.search_or(["target"], k=1))
    short_id = spark.createDataFrame([("doc://short",)], "url string").select(
        _url_doc_id().alias("d")
    ).first()["d"]
    assert want[0][0] == short_id
    got, scattered = _both(monkeypatch, lambda: m.search_or(["target"], k=1))
    assert got == want
    assert scattered == want
    assert m.wand_stats(["target"], k=1, bootstrap=False)[0] == want


def test_worker_daemon_keeps_zip_directories(spark):
    """Python tasks run under worker_daemon, whose zipimporter skips the
    per-task archive re-read."""

    @F.udf("string")
    def probe(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__name__

    got = spark.range(1).select(probe("id").alias("f")).first()["f"]
    assert got == "keep_zip_directory"
