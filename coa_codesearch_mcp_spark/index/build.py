"""Logical inverted index as DataFrames — the dataflow core.

Build pipeline (reference analog: FileIndexingService Phase 3 +
Lucene IndexWriter, Services/FileIndexingService.cs:236-339):

    docs --tokenize(field chain)--> per-doc token rows (ONE pass)
         --explode-->               postings(term, doc_id, tf, positions, dl)
         --groupBy(term)-->         dictionary(term, df)
         --agg-->                   stats(n_docs, avgdl)

Round-6 optimization (guide §1.2/§2.3/§2.4 — fix the distributed
algorithm first): the round-5 build evaluated the tokenizer in THREE
independent plan subtrees (the postings groupBy, the doclens groupBy
feeding a LeftOuter join, and the stats aggregate) and then paid a
(term, doc_id) shuffle plus a postings⋈doclens join per build. Now:

- ``dl`` is attached to each doc BEFORE any explode (it is row-local:
  the emitted-token count of that doc), so the doclens join is GONE —
  postings carry dl from birth and doclens is a plain projection;
- for the Python analyzer chains the (term, doc) aggregation happens
  INSIDE the Arrow-batched UDF (a doc's tokens are row-local — the
  classic map-side combine done one level early), so the
  (term, doc_id) collect_list shuffle is GONE too;
- the tokenized per-doc relation is computed ONCE and persisted
  (MEMORY_AND_DISK) for the lifetime of the index, so the stats pass,
  the postings materialization and the dictionary aggregate share one
  tokenizer evaluation instead of re-running it per subtree. This is
  an intermediate of the build (recomputed from the parquet inputs on
  every build call), not a cross-run cache.

The whitespace chain (FIELD_PATTERNS) stays pure-JVM: one explode +
one hash-aggregate shuffle keyed (doc_id, term, dl); the code-aware
chains cross the Python boundary exactly once per doc.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analysis.chains import FIELD_PATTERNS
from ..analysis.udfs import tokens_col


# tokens per cached-postings partition: ~tens of MB of deserialized
# posting rows per partition, in line with AQE's advisory partition
# size — derived from measured data, capped at cluster parallelism
TOKENS_PER_CACHE_PARTITION = 2_000_000


def spread_input(df: DataFrame) -> DataFrame:
    """Unsplittable-input guard (guide §2.5 input skew): a single-file
    / single-row-group corpus scans as 1-2 partitions, which would
    serialize every downstream tokenizer pass on one or two cores no
    matter how many the cluster has. Repartition up to the session's
    default parallelism ONLY when the scan is narrower than that — at
    real scale the scan has plenty of splits and this adds nothing
    (no shuffle). The shuffle this introduces on tiny inputs moves the
    (id, text) projection once, strictly cheaper than the serialized
    tokenize it prevents.

    Only a scan is probed: a leaf relation under Project/Filter nodes
    of the optimized plan, whose partition count is file or local-data
    metadata. Any other input (an aggregate, a join, a cached relation)
    is returned unchanged, because under AQE asking its RDD for a
    partition count runs its shuffle stages; so is a Spark Connect
    DataFrame, which has neither a JVM plan nor ``.rdd``."""
    if not _is_scan(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _is_scan(df: DataFrame) -> bool:
    """Whether ``df``'s optimized plan is Project/Filter nodes over one
    uncached leaf relation. Planning only: no job runs."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return False
    node = jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "Filter"):
        node = node.children().apply(0)
    return node.children().isEmpty() and node.nodeName() != "InMemoryRelation"


def tokenize_docs(
    docs: DataFrame,
    field: str = FIELD_PATTERNS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, term, pos) — one row per emitted token."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_col(field, text_col)).alias("tok"),
        )
        .select("doc_id", F.col("tok.term").alias("term"), F.col("tok.pos").alias("pos"))
    )


@dataclass
class LogicalIndex:
    """The four relations every query path consumes."""

    postings: DataFrame  # doc_id, term, tf (long), positions array<int>, dl
    doclens: DataFrame   # doc_id, dl (long)
    dictionary: DataFrame  # term, df (long)
    n_docs: int
    avgdl: float
    field: str
    tokens: DataFrame | None = None  # per-doc tokenized rows (persisted)

    def cache(self) -> "LogicalIndex":
        self.postings.cache()
        self.doclens.cache()
        self.dictionary.cache()
        return self

    def close(self) -> None:
        """Release the persisted per-doc token rows and whatever
        cache() pinned. Idempotent; the relations stay usable, they
        just recompute from their inputs."""
        for df in (self.tokens, self.postings, self.doclens, self.dictionary):
            if df is not None:
                df.unpersist()


def build_logical_index(
    docs: DataFrame,
    field: str = FIELD_PATTERNS,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_positions: bool = True,
) -> LogicalIndex:
    src = spread_input(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    if field == FIELD_PATTERNS:
        # pure JVM chain: whole-stage codegen end to end. dl =
        # size(token array) per doc, attached BEFORE the explode so no
        # doclens join exists; size(NULL) is NULL (legacy sizeOfNull
        # off), coalesced to 0 like the old fillna.
        # persisted like the Python chains: with the input spread
        # across the cluster the one-off materialization is parallel,
        # and the stats pass + postings pass then share a single
        # tokenizer evaluation (A/B at sf1.0: 1.1s vs 2.7s warm).
        # MEMORY_AND_DISK, so an oversized corpus degrades to disk
        # instead of OOM — and the store path, not this in-memory
        # index, is the 100-TB tier.
        toks = tokens_col(field, "text")
        rows = src.select(
            "doc_id",
            F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("dl"),
            toks.alias("toks"),
        ).persist()
        exploded = rows.select(
            "doc_id", "dl", F.explode("toks").alias("tok")
        ).select(
            "doc_id",
            "dl",
            F.col("tok.term").alias("term"),
            F.col("tok.pos").alias("pos"),
        )
        agg = [F.count(F.lit(1)).alias("tf")]
        if with_positions:
            agg.append(F.sort_array(F.collect_list("pos")).alias("positions"))
        cols = ["doc_id", "term", "tf"]
        if with_positions:
            cols.append("positions")
        cols.append("dl")
        # dl rides as a grouping key (functionally dependent on
        # doc_id) — the ONLY shuffle in the whole build
        postings = exploded.groupBy("term", "doc_id", "dl").agg(*agg).select(*cols)
    else:
        # Python analyzer chain: tf/positions aggregated INSIDE the
        # Arrow boundary (row-local), so postings need no shuffle at
        # all — just an explode of the per-doc grouped array. The
        # nested Arrow arrays are built from flat buffers (guide §4.2,
        # no dict-per-token pandas conversion); position lists are
        # skipped outright when the caller does not want them.
        from ..analysis.udfs import grouped_tokens_arrow

        rows = grouped_tokens_arrow(
            src, field, with_positions=with_positions
        ).withColumnRenamed("tokens", "toks").persist()
        sel = [
            "doc_id",
            F.col("tok.term").alias("term"),
            F.col("tok.tf").cast("long").alias("tf"),
        ]
        if with_positions:
            sel.append(F.col("tok.positions").alias("positions"))
        sel.append("dl")
        postings = rows.select(
            "doc_id", "dl", F.explode("toks").alias("tok")
        ).select(*sel)

    # docs with zero tokens still count toward N and avgdl: rows has
    # one entry per input doc (the tokenizer maps empty/null text to
    # an empty array, not a dropped row).
    doclens = rows.select("doc_id", "dl")

    stats = doclens.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("total"),
    ).collect()[0]

    # size the postings relation's partition count to the measured
    # token volume (capped at cluster parallelism): the cached index
    # otherwise materializes one partition per static shuffle slot,
    # and every sub-second query scan pays a task per slot regardless
    # of data size. (AQE's cached-plan coalescing cannot fire here —
    # the aggregate's output partitioning is pinned.) Measured at
    # sf1.0: 25-30% off q6-q8/q3 latencies AND a faster cache
    # materialization (2.0s vs 3.0s).
    total_tokens = int(stats["total"] or 0)
    sc = docs.sparkSession.sparkContext
    nparts = max(
        1, min(sc.defaultParallelism, -(-total_tokens // TOKENS_PER_CACHE_PARTITION))
    )
    postings = postings.coalesce(nparts)

    dictionary = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    return LogicalIndex(
        postings=postings,
        doclens=doclens,
        dictionary=dictionary,
        n_docs=int(stats["n"]),
        avgdl=float(stats["avgdl"] or 0.0),
        field=field,
        tokens=rows,
    )
