"""Logical index build: the input guard and the release path."""

import time

from pyspark.sql import functions as F

from coa_codesearch_mcp_spark.index.build import build_logical_index, spread_input


def _job_count(spark, run):
    sc = spark.sparkContext
    group = f"build_probe_{time.monotonic_ns()}"
    sc.setJobGroup(group, "build probe")
    try:
        out = run()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_input_runs_no_job_for_aggregated_input(spark):
    """An aggregate's partition count is only known by running its
    shuffle stages, so spread_input must leave it alone."""
    agg = (
        spark.range(1000)
        .selectExpr("id % 7 AS doc_id", "CAST(id AS STRING) AS text")
        .groupBy("doc_id")
        .agg(F.max("text").alias("text"))
    )
    out, jobs = _job_count(spark, lambda: spread_input(agg))
    assert jobs == 0
    assert out is agg


def test_spread_input_widens_narrow_scan(spark, tmp_path):
    path = str(tmp_path / "one_file")
    spark.range(50).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text").coalesce(
        1
    ).write.parquet(path)
    scan = spark.read.parquet(path).select("doc_id", "text").filter("doc_id >= 0")
    wide, jobs = _job_count(spark, lambda: spread_input(scan))
    assert jobs == 0
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_logical_index_close_releases_caches(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    ix = build_logical_index(docs, field="content_patterns").cache()
    assert ix.tokens.is_cached and ix.postings.is_cached
    ix.close()
    for rel in (ix.tokens, ix.postings, ix.doclens, ix.dictionary):
        assert not rel.is_cached
