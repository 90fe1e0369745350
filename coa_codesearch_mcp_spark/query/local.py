"""Driver-side executor for small-candidate queries, shared by the
store (query/store_executor.py) and the live tier
(streaming/incremental.py).

A query whose candidate postings -- the summed dictionary df of its
terms and NOT-terms, plus the committed tombstone rows on the live
tier -- number at most LOCAL_MAX_POSTINGS skips the Spark scatter. One Spark scan brings its column-pruned posting blocks
to the driver (``toPandas``), and the tier's own per-range scorer
(wand_topk, _score_range_segments, phrase_candidates) runs unchanged
in a loop over range_id. At that size a scatter is almost all fixed
cost (2-4 jobs with Python-worker tasks), against 0.4-0.5 ms per
128-posting block for WAND and 1.3-1.9 ms for phrase matching on the
driver. Above the constant the scatter runs as before.

One pass over every range needs no global threshold seed, so the OR
bootstrap pre-pass is skipped here: each range's output is what the
scatter computes with threshold0 = 0, and the merged top-k is the same.

Scores are rounded by Spark's own ``round(score, 4)`` (HALF_UP on the
decimal form, which Python's ``round`` does not reproduce), projected
over an Arrow-built local relation (cache.rows_to_local_df): Spark
evaluates that projection on the driver with zero jobs, while an
orderBy/limit on it launches one, so the final (score desc, doc_id
asc) order is applied in Python. The rows this path holds, returns
included, never exceed its candidate rows, and the constant sits below
the crossover of the deepest k (full clause relations,
StoreSearcher._ALL), so the choice ignores k.
"""

from __future__ import annotations

import heapq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bm25 import contrib_py
from .cache import rows_to_local_df

# Largest candidate-row count scored on the driver; it also bounds the
# posting (and tombstone) rows this path holds in driver memory. On the
# 240k-doc skewed corpus on 4 cores (tools/local_crossover_bench.py,
# BENCH/local_crossover.json) the driver path beats the scatter here at
# every k measured (10, 100, 1000 and full clause relations): OR by
# 1.1-1.8x, phrase by 2.4-2.9x. At 2^15 a full-relation OR already
# loses (1.30 s against 1.09 s): WAND prunes little there, and the
# scatter scores on 4 workers. At k = 10 alone the two meet between
# 10^5 and 3*10^5 postings.
LOCAL_MAX_POSTINGS = 1 << 14

# Spark's HALF_UP rounding moves a score by at most 0.5e-4, so a hit
# more than this below the k-th best raw score can never reach the top k.
_ROUND_SLACK = 2e-4


def runs_local(n_rows: int) -> bool:
    """Whether a query holding ``n_rows`` candidate rows on the driver
    (postings, plus tombstones on the live tier) runs here."""
    return n_rows <= LOCAL_MAX_POSTINGS


def score_ranges(blocks: DataFrame, per_range) -> list[tuple]:
    """One Spark scan of ``blocks``, then ``per_range(range_pdf)`` for
    each range_id on the driver; the rows it returns are concatenated."""
    pdf = blocks.toPandas()
    out: list[tuple] = []
    for _, grp in pdf.groupby("range_id", sort=True):
        out.extend(per_range(grp))
    return out


def phrase_scores(
    cands: list[tuple], n_docs: int, avgdl: float
) -> list[tuple[int, float]]:
    """BM25 of (doc_id, phrase_tf, dl) candidates with the phrase as a
    pseudo-term whose df is the exact candidate count (min 1), the
    same formula the scatter evaluates as a Spark expression."""
    phrase_df = max(len(cands), 1)
    return [
        (d, contrib_py(tf, phrase_df, dl, n_docs, avgdl)) for d, tf, dl in cands
    ]


def top_k(spark: SparkSession, hits: list[tuple[int, float]], k: int) -> DataFrame:
    """Global top-k of per-range hits as a local relation, with the
    scatter's contract: Spark-rounded 4dp scores ordered by (score
    desc, doc_id asc)."""
    if len(hits) > k:
        kth = heapq.nlargest(k, (s for _, s in hits))[-1]
        hits = [h for h in hits if h[1] >= kth - _ROUND_SLACK]
    rounded = (
        rows_to_local_df(spark, hits)
        .select("doc_id", F.round("score", 4).alias("score"))
        .collect()
    )
    rows = sorted(((r[0], r[1]) for r in rounded), key=lambda t: (-t[1], t[0]))
    return rows_to_local_df(spark, rows[:k])
