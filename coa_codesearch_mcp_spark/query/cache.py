"""Driver-side query result cache.

Reference parity: Services/QueryCacheService.cs:41-103 — an in-memory
LRU with a 15-minute SLIDING expiration, probed at the tool level
before any Lucene work (Tools/TextSearchTool.cs:147-162) and populated
after a search completes (TextSearchTool.cs:432-440). Every repeated
query in the reference is a cache hit; without this the engine
re-plans and re-launches a Spark job per repeat.

Scale notes: the cache lives on the DRIVER and stores only collected
top-k rows (k <= ~100 per entry), so memory is bounded by
max_entries * k — it never holds DataFrames, plans, or executor-side
state. A cache hit rebuilds the result as an Arrow-built local relation,
which Spark collects driver-side with ZERO jobs launched. Expiry is
TTL-based like the reference's, PLUS snapshot-consistent: the engine
folds the searcher's snapshot token (store manifest mtime) into every
key, so an index commit orphans pre-rebuild entries immediately — a
deliberate improvement over the reference, which can serve up to
ttl_seconds of stale hits after a rebuild (documented divergence).
"""

from __future__ import annotations

import time
from collections import OrderedDict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

DEFAULT_TTL_SECONDS = 15 * 60  # QueryCacheService.cs: SlidingExpiration


class QueryCache:
    """LRU + sliding-TTL map from a query key to collected result rows.

    Keys are (processed_query, field, mode, k) tuples; values are
    lists of (doc_id, score) tuples in final result order.
    """

    def __init__(
        self,
        ttl_seconds: float = DEFAULT_TTL_SECONDS,
        max_entries: int = 256,
        clock=time.monotonic,
    ):
        self.ttl = float(ttl_seconds)
        self.max_entries = int(max_entries)
        self.clock = clock
        self._data: OrderedDict[tuple, tuple[float, list]] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key: tuple):
        now = self.clock()
        entry = self._data.get(key)
        if entry is None:
            self.misses += 1
            return None
        expires_at, rows = entry
        if now >= expires_at:
            del self._data[key]
            self.misses += 1
            return None
        # sliding expiration: a hit renews the entry (reference
        # CacheItemPolicy.SlidingExpiration semantics) + LRU refresh
        self._data[key] = (now + self.ttl, rows)
        self._data.move_to_end(key)
        self.hits += 1
        return rows

    def put(self, key: tuple, rows: list) -> None:
        self._data[key] = (self.clock() + self.ttl, rows)
        self._data.move_to_end(key)
        while len(self._data) > self.max_entries:
            self._data.popitem(last=False)

    def clear(self) -> None:
        self._data.clear()

    def __len__(self) -> int:
        return len(self._data)


def rows_to_local_df(spark: SparkSession, rows: list) -> DataFrame:
    """(doc_id, score) tuples -> a LOCAL relation DataFrame.

    Built from a pandas frame through Arrow (session.get_spark enables
    spark.sql.execution.arrow.pyspark.enabled): below
    spark.sql.execution.arrow.localRelationThreshold (48 MB by default)
    Spark keeps the batch as a LocalRelation, which collects
    driver-side with zero jobs -- the whole point of a cache hit. A
    plain list passed to createDataFrame becomes an RDD scan (a real
    job per collect), and a SQL VALUES text costs analysis time linear
    in its rows (160 ms at 10^3 rows, 300 ms at 3*10^3, against 45-60
    ms here; local[4]). An empty frame would take the RDD path, so no
    rows is a SQL relation."""
    if not rows:
        return spark.sql(
            "SELECT CAST(NULL AS LONG) AS doc_id, "
            "CAST(NULL AS DOUBLE) AS score WHERE 1=0"
        )
    pdf = pd.DataFrame(rows, columns=["doc_id", "score"]).astype(
        {"doc_id": "int64", "score": "float64"}
    )
    return spark.createDataFrame(pdf, schema="doc_id long, score double")
