"""Seeded, oracle-checked benchmark of the search engine.

Run from the repository root:

    python3 perfbench/run.py --workload search_store --seed 1 --seconds 3 --trace 0

Workloads (see perfbench/README.md): ``search_store`` and ``live_churn``.
With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, and ``--trace-file``
additionally writes every recorded span as JSON.

The last line on stdout is one JSON object: correct, attempted, failed,
metrics. The line before it is a JSON detail record (input sizes, the
query pool and its wall times, nproc and load1 before and after,
failures). Everything the run writes goes
under perfbench/.work/ in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
PACKAGE = "coa_codesearch_mcp_spark"
MAX_RUN_S = 170


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["search_store", "live_churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--trace-file", help="write the spans of a traced run here (JSON)")
    return p.parse_args(argv)


def box() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "load1": os.getloadavg()[0]}


def prepare_env(root: str, work: str) -> None:
    """Keep Spark, the JVM and Python workers inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def declared_metrics() -> tuple[list[dict], list[dict]]:
    with open(BENCHMARK) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    end_to_end, per_layer = declared_metrics()

    def on_alarm(_sig, _frame):
        raise TimeoutError(f"run exceeded {MAX_RUN_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(MAX_RUN_S)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = box()
    prepare_env(root, work)
    sys.path.insert(0, root)

    from coa_codesearch_mcp_spark.session import get_spark

    import workloads
    from common import vm_hwm_mb
    from tracer import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext, traced=bool(args.trace))
        if args.trace:
            workloads.instrument(tracer)
        try:
            res = workloads.WORKLOADS[args.workload](
                spark, work, args.seed, args.seconds, tracer
            )
        finally:
            tracer.restore()
        # the JVM's peak RSS follows its heap-growth policy more than the
        # program, so only the driver's is an end-to-end metric
        rss = {"driver": vm_hwm_mb(), "jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
        res["e2e"]["driver_peak_rss_mb"] = rss["driver"]
        if args.trace:
            res["layers"]["session.jvm_peak_rss_mb"] = rss["jvm"]
        if args.trace_file:
            with open(args.trace_file, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": tracer.export()}, f, indent=1)
    finally:
        stop_spark(spark)
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    chosen = per_layer if args.trace else end_to_end
    values = res["layers"] if args.trace else res["e2e"]
    missing = [m["name"] for m in chosen if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    loop = res["loop"]
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session_start_s": session_s,
        "box_before": before, "box_after": box(), "peak_rss_mb": rss, **res["detail"],
        "query_ms_by_pool_slot": loop.by_key(),
        "failures": loop.failures,
        "failed_ratio": loop.failed / max(loop.attempted, 1),
    }
    print(json.dumps(detail))
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in chosen
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
