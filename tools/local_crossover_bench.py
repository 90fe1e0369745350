"""Driver executor vs Spark scatter: where does the crossover sit?

Store queries whose candidate postings (summed dictionary df of their
terms) are at most ``query/local.py`` LOCAL_MAX_POSTINGS run on the
driver; larger ones run the applyInPandas scatter. This tool times
both executors on the same queries over the skewed web corpus of
``tools/wand_skew_bench.py`` (webgen extended vocabulary, Zipf 1.3,
log-normal doc lengths, same IndexConfig), for candidate-posting
counts from 10^3 to 10^6, on an OR shape and a two-term phrase shape,
at k = 10. Up to 65 536 postings it repeats both shapes at k = 100,
1000 and "all" (StoreSearcher._ALL, the full clause relation of
execute()): WAND prunes less as k grows, and the driver scores on one
core where the scatter uses every worker. The executor is forced by setting the constant, and each point checks that
both executors return identical rows.

Reps alternate driver/scatter after one warm-up of each (the warm-up
also fills the reader's term cache); the reported figure is the median
wall time of ``.collect()``, with the Spark jobs one query launched.

Usage: python tools/local_crossover_bench.py [n_docs] [vocab_size] [reps] [work_dir]
Writes one JSON line (commit to BENCH/local_crossover.json).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TARGETS = [1_000, 3_000, 10_000, 16_384, 32_768, 65_536, 100_000, 300_000, 1_000_000]
K_SWEEP_TARGETS = [1_000, 10_000, 16_384, 32_768, 65_536]


def pick_terms(dfs: list[tuple[str, int]], target: int, max_terms: int) -> list[str]:
    """Greedy: largest-df terms that still fit under what remains of
    ``target`` (dfs sorted by df descending)."""
    out, left = [], target
    for term, df in dfs:
        if len(out) == max_terms:
            break
        if df <= left:
            out.append(term)
            left -= df
    return out


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000
    vocab_size = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    work = sys.argv[4] if len(sys.argv) > 4 else "/tmp/spark_graft_wandskew"

    from pyspark.sql import functions as F

    from coa_codesearch_mcp_spark.fixtures.webgen import generate_webpages
    from coa_codesearch_mcp_spark.index.store import (
        IndexConfig,
        IndexReader,
        IndexWriter,
    )
    from coa_codesearch_mcp_spark.query import local
    from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher
    from coa_codesearch_mcp_spark.session import get_spark

    spark = get_spark("local_crossover")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    root = os.path.join(work, f"ix_{n_docs}_{vocab_size}")
    if not os.path.exists(os.path.join(root, "manifest.json")):
        docs = generate_webpages(
            spark, n_docs, partitions=64, vocab_size=vocab_size
        ).withColumn("doc_id", F.monotonically_increasing_id())
        # tools/wand_skew_bench.py's config
        cfg = IndexConfig(
            field="content", n_buckets=32, range_size=1 << 14,
            chunk_size=1 << 14, chunks_per_wave=64,
            salt_threshold=10_000, max_salts=64, with_positions=True,
        )
        IndexWriter(spark, root, cfg).build(docs)

    searcher = StoreSearcher(IndexReader(spark, root))
    dfs = [
        (r["term"], int(r["df"]))
        for r in searcher.reader.dictionary()
        .filter(F.col("term").rlike("^[a-z]+$"))
        .orderBy(F.desc("df"), "term")
        .limit(5000)
        .collect()
    ]
    # a sparser tail so small targets find terms near them
    dfs += [
        (r["term"], int(r["df"]))
        for r in searcher.reader.dictionary()
        .filter(F.col("term").rlike("^[a-z]+$") & (F.col("df") < dfs[-1][1]))
        .orderBy(F.desc("df"), "term")
        .limit(200)
        .collect()
    ]

    def timed(run, limit):
        local.LOCAL_MAX_POSTINGS = limit
        group = f"crossover_{time.monotonic_ns()}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            rows = [(r["doc_id"], r["score"]) for r in run().collect()]
        finally:
            sc.setJobGroup(None, None)
        ms = (time.perf_counter() - t0) * 1000
        return rows, ms, len(sc.statusTracker().getJobIdsForGroup(group))

    def point(shape, terms, k):
        if shape == "or":
            run = lambda: searcher._wand_search(terms, k, "or")  # noqa: E731
        else:
            run = lambda: searcher.search_phrase(terms, k=k)  # noqa: E731
        n_postings = sum(df for t, df in dfs if t in set(terms))
        out = {
            "shape": shape, "k": "all" if k == searcher._ALL else k,
            "terms": terms, "candidate_postings": n_postings,
        }
        times = {"driver": [], "scatter": []}
        rows_seen = {}
        for rep in range(reps + 1):
            for name, limit in (("driver", 1 << 40), ("scatter", -1)):
                rows, ms, jobs = timed(run, limit)
                rows_seen[name] = rows
                out[f"{name}_jobs"] = jobs
                if rep:  # rep 0 is the warm-up
                    times[name].append(round(ms, 1))
        for name, ts in times.items():
            out[f"{name}_ms"] = ts
            out[f"{name}_median_ms"] = statistics.median(ts)
        out["rows"] = len(rows_seen["driver"])
        out["rows_identical"] = rows_seen["driver"] == rows_seen["scatter"]
        out["driver_faster"] = out["driver_median_ms"] < out["scatter_median_ms"]
        print(json.dumps(out), file=sys.stderr, flush=True)
        return out

    def shapes(target):
        out = []
        terms = pick_terms(dfs, target, 8)
        if terms:
            out.append(("or", terms))
        # two distinct terms of about target/2 each
        first = pick_terms(dfs, target // 2, 1)
        rest = [x for x in dfs if x[0] not in first]
        pair = first + pick_terms(rest, target - sum(d for t, d in dfs if t in first), 1)
        if len(pair) == 2:
            out.append(("phrase", pair))
        return out

    points = []
    for target in TARGETS:
        for shape, terms in shapes(target):
            points.append(point(shape, terms, 10))
    for k in (100, 1000, searcher._ALL):
        for target in K_SWEEP_TARGETS:
            for shape, terms in shapes(target):
                points.append(point(shape, terms, k))

    master = sc.master
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "driver_vs_scatter_query_wall_ms",
                "corpus": {"n_docs": n_docs, "vocab_size": vocab_size},
                "hardware": {"nproc": os.cpu_count(), "master": master},
                "reps": reps,
                "points": points,
            }
        )
    )


if __name__ == "__main__":
    main()
