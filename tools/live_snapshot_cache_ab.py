"""Interleaved A/B of two checkouts on perfbench's end-to-end metrics,
plus the jobs and per-phase wall time of warm live and store queries.

    python tools/live_snapshot_cache_ab.py <parent_dir> <change_dir> <out.json> \
        [--seeds 701,702,...] [--workloads live_churn,search_store]

Each seed is one pair. Per pair and workload, each checkout runs
``python3 perfbench/run.py --workload W --seed S --seconds 3 --trace 0``
from its own root, the order alternating between pairs, with the 1-min
load average read before each run. Then each checkout runs this file's
``--probe S`` mode: perfbench's live_churn set-up (400 pages, one
seeded micro-batch), one warm-up of each pooled query (one ``and``, one
``phrase``), then five timed repetitions of each, recording the Spark
jobs the query launched and the wall time spent in
``DeltaIndexManager._query_context``, ``_score_local`` (tombstone map,
block read and scoring), ``IndexReader.read_blocks`` (the driver-side
block read, where the checkout has it), ``query.local.score_ranges``
(per-range scoring, plus the block scan where the checkout scans with
Spark) and ``query.local.top_k``. Then the same for perfbench's
search_store set-up (600 pages, one query per class, the ``expand``
class through the engine facade). The output is rewritten after every
run, so an interrupted A/B keeps what it measured.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

METRICS = ("setup_s", "query_cpu_ms", "index_bytes_per_text_byte", "driver_peak_rss_mb")
PROBE_REPS = 5


def run_bench(checkout: str, workload: str, seed: int) -> dict:
    load1 = os.getloadavg()[0]
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=600,
    )
    row = {"load1": load1, "wall_s": round(time.perf_counter() - t0, 1), "rc": p.returncode}
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        row["stderr_tail"] = p.stderr[-2000:]
        return row
    row.update({k: last.get(k) for k in ("correct", "attempted", "failed")})
    row.update({m: last["metrics"].get(m) for m in METRICS})
    return row


def run_probe(checkout: str, seed: int) -> dict:
    load1 = os.getloadavg()[0]
    env = dict(os.environ, PYTHONPATH=checkout)
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--probe", str(seed)],
        cwd=checkout, env=env, capture_output=True, text=True, timeout=600,
    )
    try:
        out = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return {"load1": load1, "rc": p.returncode, "stderr_tail": p.stderr[-2000:]}
    out["load1"] = load1
    return out


def probe(seed: int) -> dict:
    """Warm live- and store-query phases in the checkout this process
    runs from."""
    root = os.getcwd()
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import shutil
    import tempfile
    from collections import defaultdict

    from pyspark.sql import functions as F

    import workloads as wl
    from common import CLASSES, K, generate_pages, make_queries, query_text
    from coa_codesearch_mcp_spark.index.store import IndexReader, IndexWriter
    from coa_codesearch_mcp_spark.oracle.pandas_oracle import build_oracle_index
    from coa_codesearch_mcp_spark.query import local, store_executor
    from coa_codesearch_mcp_spark.query.engine import TextSearchEngine
    from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher
    from coa_codesearch_mcp_spark.session import get_spark
    from coa_codesearch_mcp_spark.streaming.incremental import DeltaIndexManager

    phases: dict[str, float] = defaultdict(float)

    def timed(owner, name: str, label: str) -> None:
        if not hasattr(owner, name):  # e.g. read_blocks on an older checkout
            return
        real = getattr(owner, name)

        def wrap(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return real(*args, **kwargs)
            finally:
                phases[label] += (time.perf_counter() - t0) * 1000

        setattr(owner, name, wrap)

    timed(DeltaIndexManager, "_query_context", "query_context_ms")
    timed(DeltaIndexManager, "_score_local", "score_local_ms")
    timed(IndexReader, "read_blocks", "read_blocks_ms")
    # the live tier looks these up in query.local per call, the store
    # executor binds them at import
    for module in (local, store_executor):
        timed(module, "score_ranges", "score_ranges_ms")
        timed(module, "top_k", "top_k_ms")

    spark = get_spark("live_phase_probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def warm_reps(q, run) -> dict:
        """One warm-up, then PROBE_REPS timed runs of ``run(q)``."""
        run(q)
        reps = []
        for i in range(PROBE_REPS):
            phases.clear()
            group = f"probe_{seed}_{i}_{time.monotonic_ns()}"
            sc.setJobGroup(group, "warm query")
            t0 = time.perf_counter()
            try:
                run(q)
            finally:
                sc.setJobGroup(None, None)
            rep = {"wall_ms": (time.perf_counter() - t0) * 1000}
            rep.update(phases)
            rep["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            reps.append(rep)
        keys = sorted({k for r in reps for k in r})
        return {
            "cls": q["cls"],
            "terms": q["terms"],
            "median": {k: statistics.median(r.get(k, 0.0) for r in reps) for k in keys},
            "reps": reps,
        }

    work = tempfile.mkdtemp(prefix="live_probe_", dir=root)
    try:
        cfg = wl.LIVE
        pages = generate_pages(spark, cfg["pages"] + cfg["pool"], seed, cfg["vocab"])
        main, pool = pages.iloc[: cfg["pages"]], pages.iloc[cfg["pages"]:]
        docs = spark.createDataFrame(main[["url", "text"]]).withColumn(
            "doc_id", F.xxhash64("url").bitwiseAND(F.lit(wl.ID_MASK))
        )
        m = DeltaIndexManager(spark, os.path.join(work, "live"), wl.LIVE_CFG)
        m.init_main(docs)
        churn = wl.Churn(main, pool, seed)
        rows, _ = churn.next_batch()
        m.apply_batch(spark.createDataFrame(rows, wl.CHANGES_SCHEMA))
        m.maybe_compact()
        ix = churn.oracle()
        # the timed pool of a live_churn run with this seed
        qs = make_queries(ix, sorted(churn.live.values()), seed, 2 * len(CLASSES))
        qpool = [q for q in qs if q["cls"] in cfg["classes"]][: cfg["query_pool"]]
        out = {"seed": seed, "segments": len(m.segments())}
        out["queries"] = [warm_reps(q, lambda q: wl.live_query(m, q)) for q in qpool]

        # the timed pool of a search_store run with this seed
        pages = generate_pages(spark, wl.SEARCH["pages"], seed, wl.SEARCH["vocab"])
        texts = pages["text"].tolist()
        pages["doc_id"] = range(len(pages))
        store_root = os.path.join(work, "store")
        IndexWriter(spark, store_root, wl.STORE_CFG).build(
            spark.createDataFrame(pages[["doc_id", "url", "text"]])
        )
        searcher = StoreSearcher(IndexReader(spark, store_root))
        engine = TextSearchEngine({"content": searcher}, cache=None, use_cache=False)
        ix = build_oracle_index(list(enumerate(texts)), analyzer="content")

        def store_query(q):
            if q["cls"] == "or":
                return searcher.search_or(q["terms"], K).collect()
            return engine.search(query_text(q), k=K).hits.collect()

        spool = make_queries(ix, texts, seed, wl.SEARCH["query_pool"])
        out["store_queries"] = [warm_reps(q, store_query) for q in spool]
        return out
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    if len(xs) < 2:
        return {"median": xs[0] if xs else None}
    q = statistics.quantiles(xs, n=4)
    return {"q1": q[0], "median": statistics.median(xs), "q3": q[2]}


def summarize(pairs: list[dict], workloads: list[str]) -> dict:
    out = {}
    for w in workloads:
        rows = [p[w] for p in pairs if w in p and "parent" in p[w] and "change" in p[w]]
        s = {}
        for metric in METRICS:
            par = [r["parent"][metric]["value"] for r in rows if r["parent"].get(metric)]
            chg = [r["change"][metric]["value"] for r in rows if r["change"].get(metric)]
            if not par or len(par) != len(chg):
                continue
            s[metric] = {
                "parent": quartiles(par),
                "change": quartiles(chg),
                "change_lower_pairs": sum(c < p for p, c in zip(par, chg)),
                "pairs": len(par),
            }
        s["failed"] = [r[side].get("failed") for r in rows for side in ("parent", "change")]
        out[w] = s
    return out


def summarize_probes(pairs: list[dict]) -> dict:
    """Per side, tier and query class: the range over pairs of each
    probed query's median jobs and wall time."""
    out: dict = {}
    for p in pairs:
        for side, probe_out in p.get("warm_probe", {}).items():
            for tier in ("queries", "store_queries"):
                for q in probe_out.get(tier, []):
                    row = out.setdefault(side, {}).setdefault(tier, {}).setdefault(
                        q["cls"], {"jobs": [], "wall_ms": []}
                    )
                    row["jobs"].append(q["median"]["jobs"])
                    row["wall_ms"].append(round(q["median"]["wall_ms"], 1))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--probe", type=int)
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("out", nargs="?")
    ap.add_argument("--seeds", default="701,702,703,704,705,711,712,713,714,715")
    ap.add_argument("--workloads", default="live_churn,search_store")
    args = ap.parse_args()
    if args.probe is not None:
        print(json.dumps(probe(args.probe)))
        return
    seeds = [int(s) for s in args.seeds.split(",")]
    workloads = args.workloads.split(",")
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    record = {
        "command": "python3 perfbench/run.py --workload W --seed S --seconds 3 --trace 0",
        "hardware": {"nproc": len(os.sched_getaffinity(0))},
        "pairs": [],
    }
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"pair": i, "seed": seed, "order": order}
        record["pairs"].append(pair)
        for w in workloads:
            pair[w] = {}
            for side in order:
                pair[w][side] = run_bench(sides[side], w, seed)
                print(f"pair {i} seed {seed} {w} {side}: "
                      f"{pair[w][side].get('query_cpu_ms')}", flush=True)
                record["summary"] = summarize(record["pairs"], workloads)
                with open(args.out, "w") as f:
                    json.dump(record, f, indent=1)
        pair["warm_probe"] = {}
        for side in order:
            pair["warm_probe"][side] = run_probe(sides[side], seed)
            record["probe_summary"] = summarize_probes(record["pairs"])
            with open(args.out, "w") as f:
                json.dump(record, f, indent=1)
    print(json.dumps(record["summary"], indent=1))


if __name__ == "__main__":
    main()
