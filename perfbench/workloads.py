"""The two workloads. Each is a closed loop driven by one client.

search_store  read-only queries against an on-disk store built in set-up
live_churn    queries across the live tier's segments and tombstones,
              after a set-up that builds the main segment, applies one
              micro-batch of upserts, deletes and new pages and runs the
              size-tiered compaction check

Each run draws a fixed query pool and, after one warm-up pass, times
whole passes over it: at least two, and until the deadline.

Every operation's answer is checked against the pure-Python oracle built
from the same seeded pages; oracle work sits outside every timing.
"""

from __future__ import annotations

import datetime
import os
import random
import time
from statistics import mean, median

from pyspark.sql import functions as F

import layers
from common import (
    CLASSES,
    K,
    dir_bytes,
    expected,
    generate_pages,
    make_queries,
    query_text,
    same_topk,
    text_bytes,
    work_cpu_s,
)
from coa_codesearch_mcp_spark.index.hashing import xxh64_signed
from coa_codesearch_mcp_spark.index.store import IndexConfig, IndexReader, IndexWriter
from coa_codesearch_mcp_spark.oracle.pandas_oracle import build_oracle_index
from coa_codesearch_mcp_spark.query import expansion
from coa_codesearch_mcp_spark.query.engine import TextSearchEngine
from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher
from coa_codesearch_mcp_spark.streaming.incremental import DeltaIndexManager

# Input sizes. Spark job overhead, not data volume, sets most of the
# cost at this scale; the vocabulary sets the writer's postings stage
# (one encode group per distinct term). Both stay small so set-up plus
# the timed window fit one run.
#
# Query pools: the reader keeps a per-snapshot term cache, so a stream
# of fresh queries keeps getting faster for minutes as its terms repeat,
# and a window over it would measure how far the cache had filled.
# After one pass over a fixed pool, every pass costs the same.
SEARCH = {"pages": 600, "vocab": 250, "query_pool": 5}  # one query per class
LIVE = {
    "pages": 400, "pool": 100, "vocab": 250,
    "upserts": 10, "deletes": 4, "new": 4,
    # query classes. OR-shaped classes (term, or, expand) are
    # left out: on the seed code a block-max bound stored with a delta
    # segment's own avgdl can under-bound the score under the live
    # avgdl, and WAND then prunes a true top-k doc (README.md, "Known
    # engine defect"). The traced run issues all five classes once the
    # tier is merged back to one segment, where the bounds are exact.
    "classes": ("and", "phrase"),
    "query_pool": 2,  # one of each class
}
STORE_CFG = IndexConfig(
    field="content", n_buckets=8, range_size=512, chunk_size=1 << 14,
    chunks_per_wave=64, salt_threshold=1 << 20, with_positions=True,
)
# live ids are 62-bit url hashes: 4 doc ranges, 2 tokenize chunks
LIVE_CFG = IndexConfig(
    field="content", n_buckets=8, range_size=1 << 60, chunk_size=1 << 61,
    chunks_per_wave=64, salt_threshold=1 << 20, with_positions=True,
)
ID_MASK = (1 << 62) - 1
WRITER_STAGES = ("tokenize_stage", "dictionary_stage", "postings_stage")
PROBE_QUERIES = 5  # one of each class


def url_id(url: str) -> int:
    """The live tier's id for a url: xxhash64(url), masked to 62 bits."""
    return xxh64_signed(url.encode("utf-8")) & ID_MASK


def instrument(tracer) -> None:
    """Spans around the public entry points the workloads reach."""

    def n_terms(rec, args, _result):
        rec["n_terms"] = int(args[0].manifest.get_stats("corpus")["n_terms"])

    for stage in WRITER_STAGES:
        tracer.instrument(
            IndexWriter, stage, f"index.store.{stage}",
            after=n_terms if stage == "postings_stage" else None,
        )
    tracer.instrument(IndexWriter, "build", "index.store.build")
    tracer.instrument(IndexWriter, "build_from_tokens", "index.store.build_from_tokens")
    tracer.instrument(IndexReader, "lookup_terms", "index.store.lookup_terms")
    tracer.instrument(
        expansion, "expand_terms", "query.expansion.expand_terms",
        after=lambda rec, _a, res: rec.update(n_terms=len(res)),
    )
    tracer.instrument(DeltaIndexManager, "apply_batch", "streaming.incremental.apply_batch")
    tracer.instrument(DeltaIndexManager, "maybe_compact", "streaming.incremental.maybe_compact")
    tracer.instrument(DeltaIndexManager, "merge_deltas", "streaming.incremental.merge_deltas")


class Loop:
    """Bookkeeping shared by both workloads: timings, failures, spans."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.queries: list[dict] = []  # cls, key (pool slot), ms, span
        self.window_cpu_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def query(self, q: dict, key: int, run, want) -> None:
        """One timed query; ``run()`` returns the collected rows."""
        self.attempted += 1
        try:
            with self.tracer.span(f"query.{q['cls']}") as rec:
                t0 = time.perf_counter()
                rows = run()
                ms = (time.perf_counter() - t0) * 1000
        except Exception as exc:  # an operation that raised counts as failed
            self.fail(f"{q['cls']} {q['terms']}: {exc!r}"[:300])
            return
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if not same_topk(got, want):
            i = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want)))
            self.fail(f"{q['cls']} {q['terms']}: rank {i}: got {got[i:i + 3]} "
                      f"want {want[i:i + 3]} (lengths {len(got)}/{len(want)})")
        self.queries.append({"cls": q["cls"], "key": key, "ms": ms, "span": rec})

    def by_key(self) -> list[list[float]]:
        """Each pool query's timed latencies (ms), in pool order."""
        out: dict[int, list[float]] = {}
        for x in self.queries:
            out.setdefault(x["key"], []).append(x["ms"])
        return [out[k] for k in sorted(out)]

    def passes(self, pool: list[dict], seconds: float, run) -> int:
        """The timed window: whole passes over the pool, at least two and
        for at least ``seconds``. ``run(q)`` returns the collected rows."""
        pid = os.getpid()
        cpu0 = work_cpu_s(pid)
        deadline = time.perf_counter() + seconds
        n = 0
        while n < 2 or time.perf_counter() < deadline:
            for j, (q, want) in enumerate(pool):
                self.query(q, j, lambda: run(q), want)
            n += 1
        self.window_cpu_s = work_cpu_s(pid) - cpu0
        return n

    def wall_ms(self) -> float:
        # each pooled query's median over the run, then the mean over the
        # pool: every query weighs the same
        return mean(median(v) for v in self.by_key())

    def e2e(self, setup_s: float, index_ratio: float) -> dict:
        return {
            "setup_s": setup_s,
            "query_cpu_ms": self.window_cpu_s * 1000 / len(self.queries),
            "index_bytes_per_text_byte": index_ratio,
        }


def query_layers(loop: Loop) -> dict:
    tr = loop.tracer
    out = {}
    for cls in CLASSES:
        xs = [x for x in loop.queries if x["cls"] == cls]
        if not xs:
            raise RuntimeError(f"traced run issued no {cls} query; lengthen --seconds")
        out[f"query.p50_ms.{cls}"] = median([x["ms"] for x in xs])
        totals = [tr.total_jobs(x["span"]) for x in xs]
        out[f"query.jobs_per_query.{cls}"] = median([j for j, _ in totals])
        out[f"query.stages_per_query.{cls}"] = median([s for _, s in totals])
    out["query.self_ms"] = median(
        [
            x["ms"] - 1000 * sum(c["end"] - c["start"] for c in tr.children(x["span"]))
            for x in loop.queries
        ]
    )
    expands = tr.named("query.expansion.expand_terms")
    out["query.expansion.expand_ms"] = median([(s["end"] - s["start"]) * 1000 for s in expands])
    out["query.expansion.terms_per_query"] = median([s["n_terms"] for s in expands])
    out["trace.overhead_pct"] = tr.overhead_pct()
    return out


def writer_layers(tracer, builds: list[dict], write_ops: list[dict]) -> dict:
    """Writer stages per IndexWriter build of the timed write operations,
    and each write operation (store build or apply_batch) minus its
    writer stages."""

    def stage_s(span, stage):
        return sum(c["end"] - c["start"] for c in tracer.descendants(span, f"index.store.{stage}"))

    out = {f"index.store.{s}_s": median([stage_s(b, s) for b in builds]) for s in WRITER_STAGES}
    postings = [p for b in builds for p in tracer.descendants(b, "index.store.postings_stage")]
    out["index.store.postings_terms_per_s"] = sum(c["n_terms"] for c in postings) / sum(
        c["end"] - c["start"] for c in postings
    )
    totals = [tracer.total_jobs(b) for b in builds]
    out["index.store.build_jobs"] = median([j for j, _ in totals])
    out["index.store.build_stages"] = median([s for _, s in totals])
    out["write.op_s"] = median([op["end"] - op["start"] for op in write_ops])
    op_totals = [tracer.total_jobs(op) for op in write_ops]
    out["write.op_jobs"] = median([j for j, _ in op_totals])
    out["write.op_stages"] = median([s for _, s in op_totals])
    out["write.op_self_s"] = median(
        [
            (op["end"] - op["start"]) - sum(stage_s(op, s) for s in WRITER_STAGES)
            for op in write_ops
        ]
    )
    return out


def probe_layers(spark, root: str, texts: list[str], queries: list[dict]) -> dict:
    out = layers.tokenizer_rates(spark, texts)
    out.update(layers.planner_us(queries))
    out.update(layers.reader_and_scorer(spark, root, queries))
    return out


# ------------------------------------------------------------ search_store


def search_store(spark, work: str, seed: int, seconds: float, tracer) -> dict:
    loop = Loop(tracer)
    root = os.path.join(work, "store")
    t_setup = time.perf_counter()
    pages = generate_pages(spark, SEARCH["pages"], seed, SEARCH["vocab"])
    texts = pages["text"].tolist()
    pages["doc_id"] = range(len(pages))
    docs = spark.createDataFrame(pages[["doc_id", "url", "text"]])
    t0 = time.perf_counter()
    IndexWriter(spark, root, STORE_CFG).build(docs)
    build_s = time.perf_counter() - t0
    searcher = StoreSearcher(IndexReader(spark, root))
    engine = TextSearchEngine({"content": searcher}, cache=None, use_cache=False)
    setup_s = time.perf_counter() - t_setup

    # oracle and query pool: outside every timing
    ix = build_oracle_index(list(enumerate(texts)), analyzer="content")
    reader = searcher.reader
    loop.attempted += 1
    if reader.n_docs != ix.n_docs or abs(reader.avgdl - ix.avgdl) > 1e-9:
        loop.fail(f"store stats {reader.n_docs}/{reader.avgdl} != oracle {ix.n_docs}/{ix.avgdl}")
    pool = make_queries(ix, texts, seed, SEARCH["query_pool"])
    wants = [(q, expected(ix, q)) for q in pool]

    def run(q):
        if q["cls"] == "or":
            return searcher.search_or(q["terms"], K).collect()
        return engine.search(query_text(q), k=K).hits.collect()

    # warm-up, timed into setup_s and not into queries: one pass over
    # the pool fills the reader's term cache and the first-use costs of
    # a fresh JVM (the first pass is ~1.5x the later ones, which are flat)
    t0 = time.perf_counter()
    for q in pool:
        run(q)
    setup_s += time.perf_counter() - t0

    passes = loop.passes(wants, seconds, run)

    text_b = text_bytes(texts)
    out = {
        "e2e": loop.e2e(setup_s, index_ratio=dir_bytes(root) / text_b),
        "loop": loop,
        "detail": {"pages": len(pages), "vocab": SEARCH["vocab"],
                   "pool": [q["terms"] for q in pool], "passes": passes,
                   "query_wall_ms": loop.wall_ms(),
                   "build_s": build_s, "write_docs_per_s": len(pages) / build_s},
    }
    if tracer.traced:
        layer = query_layers(loop)
        layer["query.wall_ms"] = loop.wall_ms()
        builds = tracer.named("index.store.build")
        layer.update(writer_layers(tracer, builds, builds))
        layer["write.docs_per_s"] = out["detail"]["write_docs_per_s"]
        layer.update(probe_layers(spark, root, texts, make_queries(ix, texts, seed, PROBE_QUERIES)))
        layer.update(layers.storage_ratios(root, text_b))
        # the store is the one-segment case of the live tier
        layer.update(
            {
                "streaming.incremental.segments": 1,
                "streaming.incremental.tombstone_rows_raw": 0,
                "streaming.incremental.tombstone_rows_live": 0,
                "streaming.incremental.merges": 0,
                "streaming.incremental.merge_s": 0.0,
            }
        )
        out["layers"] = layer
    return out


# ------------------------------------------------------------ live_churn

CHANGES_SCHEMA = "url string, op string, text string, warc_ts timestamp, event_ts timestamp"
T0 = datetime.datetime(2024, 4, 1)


class Churn:
    """The benchmark's own view of the live corpus (url -> text) and the
    seeded micro-batches that change it."""

    def __init__(self, main, pool, seed: int):
        self.live = dict(zip(main["url"], main["text"]))
        self.pool_urls = list(pool["url"])
        self.pool_texts = list(pool["text"])
        self.rng = random.Random(seed * 7919 + 1)
        self.tick = 0
        # tombstone rows the protocol appends (one per changed url per
        # batch) since the last merge, and the distinct ids they hide
        self.tomb_raw = 0
        self.tomb_ids: set[int] = set()

    def _ts(self):
        self.tick += 1
        return T0 + datetime.timedelta(seconds=self.tick)

    def next_batch(self) -> tuple[list[tuple], int]:
        """Change events for one micro-batch, applied to the benchmark's
        own corpus view; returns (rows, distinct urls changed)."""
        rng, cfg = self.rng, LIVE
        changed = rng.sample(sorted(self.live), cfg["upserts"] + cfg["deletes"])
        ups, dels = changed[: cfg["upserts"]], changed[cfg["upserts"]:]
        new = [self.pool_urls.pop(0) for _ in range(cfg["new"])]
        # a superseded event: the last event per url wins inside a batch
        rows = [(ups[0], "upsert", rng.choice(self.pool_texts), T0, self._ts())]
        for u in ups + new:
            text = rng.choice(self.pool_texts)
            rows.append((u, "upsert", text, T0, self._ts()))
            self.live[u] = text
        for u in dels:
            rows.append((u, "delete", None, None, self._ts()))
            del self.live[u]
        distinct = ups + dels + new
        self.tomb_raw += len(distinct)
        self.tomb_ids.update(url_id(u) for u in distinct)
        return rows, len(distinct)

    def merged(self) -> None:
        self.tomb_raw = 0
        self.tomb_ids.clear()

    def oracle(self):
        return build_oracle_index(
            [(url_id(u), t) for u, t in sorted(self.live.items())], analyzer="content"
        )


def live_query(m: DeltaIndexManager, q: dict):
    cls, terms = q["cls"], q["terms"]
    if cls in ("term", "or"):
        return m.search_or(terms, K).collect()
    if cls == "and":
        return m.search_and(terms, K).collect()
    if cls == "phrase":
        return m.search_phrase(terms, K).collect()
    return m.search_wildcard(terms[0], K).collect()


def live_churn(spark, work: str, seed: int, seconds: float, tracer) -> dict:
    loop = Loop(tracer)
    root = os.path.join(work, "live")
    t_setup = time.perf_counter()
    pages = generate_pages(spark, LIVE["pages"] + LIVE["pool"], seed, LIVE["vocab"])
    main, pool = pages.iloc[: LIVE["pages"]], pages.iloc[LIVE["pages"]:]
    docs = spark.createDataFrame(main[["url", "text"]]).withColumn(
        "doc_id", F.xxhash64("url").bitwiseAND(F.lit(ID_MASK))
    )
    m = DeltaIndexManager(spark, root, LIVE_CFG)
    m.init_main(docs)
    loop.attempted += 1
    setup_s = time.perf_counter() - t_setup
    main_root, main_text = m.segments()[0][1].root, text_bytes(main["text"])

    # one seeded micro-batch, then the size-tiered compaction check that
    # attach_stream(auto_compact=True) runs; both are timed into setup_s.
    # The window's queries then scatter over the main segment, the delta
    # and its tombstones.
    churn = Churn(main, pool, seed)
    rows, n_events = churn.next_batch()
    changes = spark.createDataFrame(rows, CHANGES_SCHEMA)
    loop.attempted += 2
    t0 = time.perf_counter()
    m.apply_batch(changes)
    t1 = time.perf_counter()
    if m.maybe_compact():
        churn.merged()
    t2 = time.perf_counter()
    setup_s += t2 - t0
    batch_s, compact_s = t1 - t0, t2 - t1
    segments = len(m.segments())

    # oracle and query pool: outside every timing
    ix = churn.oracle()
    check_live_corpus(m, ix, loop)

    def queries(ix, n, classes):
        qs = make_queries(ix, sorted(churn.live.values()), seed + 101 * n, 2 * len(CLASSES))
        return [q for q in qs if q["cls"] in classes]

    qpool = queries(ix, 0, LIVE["classes"])[: LIVE["query_pool"]]
    wants = [(q, expected(ix, q)) for q in qpool]

    # warm-up, timed into setup_s: one pass over the pool
    t0 = time.perf_counter()
    for q in qpool:
        live_query(m, q)
    setup_s += time.perf_counter() - t0

    passes = loop.passes(wants, seconds, lambda q: live_query(m, q))

    out = {
        "e2e": loop.e2e(setup_s, index_ratio=dir_bytes(root) / text_bytes(churn.live.values())),
        "loop": loop,
        "detail": {
            "pages": LIVE["pages"], "vocab": LIVE["vocab"],
            "pool": [q["terms"] for q in qpool], "passes": passes, "segments": segments,
            "query_wall_ms": loop.wall_ms(),
            "events": n_events, "batch_s": batch_s, "compact_s": compact_s,
            "write_docs_per_s": n_events / (batch_s + compact_s),
        },
    }
    if tracer.traced:
        batches = tracer.named("streaming.incremental.apply_batch")
        builds = [b for op in batches for b in tracer.descendants(op, "index.store.build")]
        layer = writer_layers(tracer, builds, batches)
        layer["query.wall_ms"] = loop.wall_ms()  # across segments and tombstones
        # change events / (apply_batch + maybe_compact)
        layer["write.docs_per_s"] = out["detail"]["write_docs_per_s"]
        # storage split of the set-up main, before churn and the merge
        layer.update(layers.storage_ratios(main_root, main_text))
        layer.update(
            {
                "streaming.incremental.segments": segments,
                "streaming.incremental.tombstone_rows_raw": churn.tomb_raw,
                "streaming.incremental.tombstone_rows_live": len(churn.tomb_ids),
            }
        )
        # a merge costs more than a run can hold beside the batch, so the
        # traced run folds the delta once after the window, through the
        # same policy call with a threshold that always fires, checks the
        # merged corpus, then times the first query of every class on it
        loop.attempted += 1
        t0 = time.perf_counter()
        merged = m.maybe_compact(max_deltas=0)
        merge_s = time.perf_counter() - t0
        churn.merged()
        check_live_corpus(m, ix, loop)
        merged_pool = queries(ix, 1, CLASSES)[: len(CLASSES)]
        loop.queries = []
        for j, q in enumerate(merged_pool):
            loop.query(q, j, lambda: live_query(m, q), expected(ix, q))
        layer.update(query_layers(loop))
        layer.update(
            {
                "streaming.incremental.merges": int(merged),
                "streaming.incremental.merge_s": merge_s,
            }
        )
        # probes run on the main segment, which now holds the live corpus
        texts = sorted(churn.live.values())
        layer.update(
            probe_layers(
                spark, m.segments()[0][1].root, texts,
                make_queries(ix, texts, seed, PROBE_QUERIES),
            )
        )
        out["layers"] = layer
    return out


def check_live_corpus(m: DeltaIndexManager, ix, loop: Loop) -> None:
    """The live corpus stats (N, avgdl) equal the oracle's over the
    benchmark's own url -> text map."""
    loop.attempted += 1
    n, avgdl = m.combined_stats()
    if n != ix.n_docs or abs(avgdl - ix.avgdl) > 1e-9:
        loop.fail(f"live stats {n}/{avgdl} != oracle {ix.n_docs}/{ix.avgdl}")


WORKLOADS = {"search_store": search_store, "live_churn": live_churn}
