"""Search over the materialized index: block-max WAND and phrase
matching per doc range, on the driver or as a Spark scatter-gather.

Flow per query (SURVEY §3.1 step 9c):

  dictionary lookup (tiny, collected; cached)    [driver]
  postings blocks: bucket-pruned + term-pruned   [parquet scan]

then one of two executors, chosen by the query's candidate postings
(the summed dictionary df of its terms and NOT-terms):

  <= LOCAL_MAX_POSTINGS (2^14), query/local.py — the driver executor:
  blocks toPandas()                              [one Spark job]
  per-range WAND / phrase loop over range_id     [driver]
  round(score, 4) over an Arrow local relation;  [driver, zero jobs]
  top-k

  above it — the scatter:
  repartition by range_id                        [narrow shuffle of the
                                                  candidate block set —
                                                  proportional to query
                                                  terms only, never the
                                                  whole index]
  applyInPandas(WAND per doc range) -> local k   [executors]
  global top-k merge                             [TakeOrderedAndProject]

Both run the same per-range scorer (per_range / phrase_candidates), so
they return identical rows. The constant comes from a measured
crossover on the skewed corpus of tools/wand_skew_bench.py
(tools/local_crossover_bench.py, BENCH/local_crossover.json): at 2^14
postings the driver path is 1.1-1.8x (OR) and 2.4-2.9x (phrase)
faster than the scatter on 4 cores, at k = 10, 100, 1000 and for full
clause relations; at 2^15 the full-relation OR loses. A small scatter is
almost all fixed job and Python-worker cost, while the driver loop
costs 0.4-0.5 ms per 128-posting WAND block and 1.3-1.9 ms per phrase
block. The driver path skips the OR bootstrap pre-pass (one pass over
all ranges needs no seed). The choice ignores k: the constant sits
below the crossover of the deepest k, so full clause relations
(``_ALL``) take the driver path too, and the driver never holds more
rows than the constant.

Salted hot terms need no special handling at read: a (term, range)
pair lives in exactly one salt sub-list, so grouping by range_id
reassembles disjoint doc ranges.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.store import IndexReader
from .bm25 import idf_py
from .local import phrase_scores, runs_local, score_ranges, top_k
from .wand import BOOTSTRAP_DF_RATIO, BOOTSTRAP_MIN_DF_FACTOR, wand_topk

_RESULT_SCHEMA = "doc_id long, score double"


class StoreSearcher:
    """BM25 top-k over an on-disk index. Same result contract as the
    logical Searcher: (doc_id, score) by (rounded score desc, doc_id)."""

    def __init__(self, reader: IndexReader):
        self.reader = reader

    def snapshot_token(self):
        """Cheap identity of the on-disk snapshot (manifest mtime_ns;
        one stat, zero jobs). The engine's query cache folds this into
        its keys so a hit is always snapshot-consistent: the reference
        serves TTL-stale hits after a rebuild (QueryCacheService.cs
        sliding expiration), which at 10^12 docs means up to 15 min of
        wrong answers after every index commit. The call also
        REFRESHES the reader's manifest-cached corpus stats when the
        snapshot moved, so the cache-miss re-execution runs against
        the new n_docs/avgdl, not a mix of fresh parquet and
        pre-rebuild stats (round-4 ADVICE)."""
        return self.reader.refresh_if_changed()

    # ------------------------------------------------------ core path

    def _wand_search(
        self,
        terms: list[str],
        k: int,
        mode: str,
        exclude: list[str] | None = None,
    ) -> DataFrame:
        terms = sorted(set(terms))
        exclude = sorted(set(exclude or []))
        # WAND never reads positions: prune pos_blob (and the other
        # unused posting columns) out of the scan + Arrow scatter
        # (round-5 VERDICT #1; guide §2.3 project-before-the-boundary)
        from ..index.store import WAND_BLOCK_COLUMNS

        blocks, info = self.reader.postings_blocks(
            terms + exclude, columns=WAND_BLOCK_COLUMNS
        )
        present = [t for t in terms if t in info]
        if not present or (mode == "and" and len(present) < len(terms)):
            return self._empty()

        idfs = {t: info[t]["idf"] for t in present}
        exclude_set = set(exclude)
        avgdl = self.reader.avgdl
        # For AND, every query term must appear in the doc range, not
        # merely in the corpus: a range holding only `alpha` blocks must
        # answer AND(alpha, beta) with nothing, so the required count is
        # closed over here and enforced inside wand_topk (n_required).
        n_required = len(present) if mode == "and" else None

        def per_range(pdf: pd.DataFrame, theta0: float) -> list[tuple[int, float]]:
            term_blocks: dict[str, tuple[float, list[dict]]] = {}
            banned: set[int] = set()
            for term, grp in pdf.groupby("term", sort=True):
                rows = grp.sort_values("block_no").to_dict("records")
                if term in exclude_set:
                    from ..index.codec import decode_blocks

                    doc_ids, _ = decode_blocks(rows)
                    banned.update(int(d) for d in doc_ids)
                else:
                    term_blocks[term] = (idfs[term], rows)
            # NOT-exclusion via the banned predicate: excluded docs are
            # skipped at pivot evaluation, so the heap holds exactly k
            # and the threshold tightens as if the banned docs did not
            # exist (the previous k+len(banned) over-fetch weakened
            # pruning proportionally to the excluded doc count)
            return wand_topk(
                term_blocks,
                avgdl,
                k,
                mode=mode,
                threshold0=theta0,
                n_required=n_required,
                banned=banned.__contains__ if banned else None,
            )

        if runs_local(sum(v["df"] for v in info.values())):
            hits = score_ranges(blocks, lambda pdf: per_range(pdf, 0.0))
            return top_k(self.reader.spark, hits, k)
        theta0 = self._bootstrap_theta(blocks, info, present, k, mode, exclude)
        local = (
            blocks.repartition("range_id")
            .groupBy("range_id")
            .applyInPandas(
                lambda key, pdf: pd.DataFrame(
                    per_range(pdf, theta0), columns=["doc_id", "score"]
                ),
                _RESULT_SCHEMA,
            )
        )
        return (
            local.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # gate constants live in query/wand.py, shared with the live tier
    BOOTSTRAP_DF_RATIO = BOOTSTRAP_DF_RATIO
    BOOTSTRAP_MIN_DF_FACTOR = BOOTSTRAP_MIN_DF_FACTOR

    def _bootstrap_theta(
        self,
        blocks: DataFrame,
        info: dict,
        present: list[str],
        k: int,
        mode: str,
        exclude: list[str],
    ) -> float:
        """Global threshold bootstrap for the distributed WAND scatter.

        Scatter-gather top-k starts every doc range at threshold 0, so
        a range where a selective term has fewer than k postings can
        never prune a co-occurring stopword's list — its local top-k
        legitimately includes stopword-only docs. Globally those docs
        are merged away, so seed every range with a bound the merge is
        already guaranteed to reach: the k-th best single-term BM25
        score of the RAREST query term. Every doc containing that term
        has an OR score >= its rare-term contribution, so at least k
        docs globally score >= this seed — pruning below it can never
        evict a global top-k doc (local lists may shrink; the global
        merge is unchanged, which is the result contract).

        Valid for OR only (an AND result set is a subset of the rare
        term's docs but may be smaller than k) and only without NOT
        exclusions (banned docs could hollow out the guarantee). The
        pre-pass costs one extra job over the rarest term's postings —
        strictly smaller than the main scatter — so it is gated on the
        df skew that makes it profitable (stopword x selective, the
        shape block-max WAND exists for; Ding & Suel 2011 §6 report
        exactly this query class as the pruning win)."""
        if mode != "or" or exclude or len(present) < 2:
            return 0.0
        dfs = {t: info[t]["df"] for t in present}
        rare = min(present, key=lambda t: dfs[t])
        if (
            dfs[rare] < self.BOOTSTRAP_MIN_DF_FACTOR * k
            or max(dfs.values()) < self.BOOTSTRAP_DF_RATIO * dfs[rare]
        ):
            return 0.0
        idf, avgdl = info[rare]["idf"], self.reader.avgdl

        def per_range(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = pdf.sort_values("block_no").to_dict("records")
            hits = wand_topk({rare: (idf, rows)}, avgdl, k)
            return pd.DataFrame(hits, columns=["doc_id", "score"])

        scores = (
            blocks.filter(F.col("term") == rare)
            .repartition("range_id")
            .groupBy("range_id")
            .applyInPandas(lambda key, pdf: per_range(pdf), _RESULT_SCHEMA)
            .orderBy(F.desc("score"))
            .limit(k)
            .collect()
        )
        if len(scores) < k:
            return 0.0
        return float(scores[-1]["score"])

    def search_term(self, term: str, k: int = 10) -> DataFrame:
        return self._wand_search([term], k, "or")

    def search_or(
        self, terms: list[str], k: int = 10, exclude: list[str] | None = None
    ) -> DataFrame:
        return self._wand_search(terms, k, "or", exclude)

    def search_and(
        self, terms: list[str], k: int = 10, exclude: list[str] | None = None
    ) -> DataFrame:
        return self._wand_search(terms, k, "and", exclude)

    # -------------------------------------------------------- phrase

    def search_phrase(self, terms: list[str], k: int = 10, slop: int = 0) -> DataFrame:
        """Positional phrase over the encoded pos_blob columns.

        Pass 1 (distributed): per range, intersect candidates and count
        in-order matches within span (same pinned spec as the logical
        engine). Pass 2: BM25 with the phrase as a pseudo-term.
        """
        if not terms:
            raise ValueError("empty phrase")
        if len(terms) == 1:
            return self.search_term(terms[0], k)
        uniq = sorted(set(terms))
        from ..index.store import PHRASE_BLOCK_COLUMNS

        blocks, info = self.reader.postings_blocks(
            uniq, columns=PHRASE_BLOCK_COLUMNS
        )
        if any(t not in info for t in uniq):
            return self._empty()
        n = len(terms)
        max_span = (n - 1) + slop
        seq = list(terms)

        from .phrase import CAND_SCHEMA, phrase_candidates

        if runs_local(sum(v["df"] for v in info.values())):
            cands = score_ranges(
                blocks,
                lambda pdf: phrase_candidates(pdf, seq, max_span).itertuples(
                    index=False, name=None
                ),
            )
            hits = phrase_scores(cands, self.reader.n_docs, self.reader.avgdl)
            return top_k(self.reader.spark, hits, k)
        cand = blocks.repartition("range_id").groupBy("range_id").applyInPandas(
            lambda key, pdf: phrase_candidates(pdf, seq, max_span),
            CAND_SCHEMA,
        )
        # phrase df via a 1-row broadcast of a global count aggregate:
        # partial counts per partition, one row moved — the previous
        # global window (partitionBy(lit(1))) moved ALL candidates to
        # a single task, a straggler/OOM for a common phrase at scale
        # (round-2 VERDICT #2). The candidate shuffle (repartition by
        # range_id) is deduped across the two consumers by Spark's
        # ReuseExchange; no cache()+count() job pair, no driver
        # round-trip between candidate generation and scoring.
        from .bm25 import bm25_contrib

        total = cand.agg(
            F.greatest(F.count(F.lit(1)), F.lit(1)).alias("phrase_df")
        )
        cand = cand.crossJoin(F.broadcast(total))
        scored = cand.select(
            "doc_id",
            F.round(
                bm25_contrib(
                    F.col("phrase_tf"),
                    F.col("phrase_df"),
                    F.col("dl"),
                    self.reader.n_docs,
                    self.reader.avgdl,
                ),
                4,
            ).alias("score"),
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # --------------------------------------- dictionary expansions

    def _expand(self, predicate) -> list[str]:
        from .expansion import expand_terms

        return expand_terms(self.reader.dictionary(), predicate)

    def search_wildcard(self, pattern: str, k: int = 10) -> DataFrame:
        from .expansion import wildcard_predicate

        terms = self._expand(wildcard_predicate(pattern))
        return self.search_or(terms, k) if terms else self._empty()

    def search_regexp(self, pattern: str, k: int = 10) -> DataFrame:
        from .expansion import regexp_predicate

        terms = self._expand(regexp_predicate(pattern))
        return self.search_or(terms, k) if terms else self._empty()

    def search_fuzzy(self, term: str, k: int = 10, max_edits: int = 2) -> DataFrame:
        from .expansion import fuzzy_predicate

        terms = self._expand(fuzzy_predicate(term, max_edits))
        return self.search_or(terms, k) if terms else self._empty()

    def search_prefix(self, prefix: str, k: int = 10) -> DataFrame:
        from .expansion import prefix_predicate

        terms = self._expand(prefix_predicate(prefix))
        return self.search_or(terms, k) if terms else self._empty()

    def _empty(self) -> DataFrame:
        return self.reader.spark.createDataFrame([], _RESULT_SCHEMA)

    # ------------------------------------------------- facade contract

    # "all matches" k for full clause relations (comfortably above any
    # posting list; the scatter's local heaps stay bounded by the
    # actual per-range match counts)
    _ALL = 2_000_000_000

    def execute(self, q, k: int = 10) -> DataFrame:
        """Evaluate a planner AST — the same contract the logical
        Searcher exposes, so TextSearchEngine (routing, fallback,
        cache) runs over the MATERIALIZED index too. Round-4 addition:
        previously only the logical path satisfied the facade, so the
        engine could never front a store-backed index."""
        from .ast import BoolQ, FuzzyQ, MatchAllQ, PhraseQ, RegexpQ, TermQ, WildcardQ

        if isinstance(q, TermQ):
            return self.search_term(q.term, k)
        if isinstance(q, PhraseQ):
            return self.search_phrase(q.terms, k, slop=q.slop)
        if isinstance(q, WildcardQ):
            return self.search_wildcard(q.pattern, k)
        if isinstance(q, FuzzyQ):
            return self.search_fuzzy(q.term, k, q.max_edits)
        if isinstance(q, RegexpQ):
            return self.search_regexp(q.pattern, k)
        if isinstance(q, MatchAllQ):
            import os

            dl = self.reader.spark.read.parquet(
                os.path.join(self.reader.root, "doclens")
            )
            return (
                dl.select("doc_id", F.lit(1.0).alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )
        if isinstance(q, BoolQ):
            return self._execute_bool(q, k)
        raise TypeError(f"unknown query node {type(q)}")

    def _flat_terms(self, clauses) -> list[str] | None:
        from .ast import TermQ

        if all(isinstance(c, TermQ) for c in clauses):
            return [c.term for c in clauses]
        return None

    def _execute_bool(self, q, k: int) -> DataFrame:
        """Flat boolean over the store. The planner's common shapes
        (AND of terms, one OR group, single phrase/expansion, NOT of
        terms) run as single WAND scatters — identical scoring to the
        logical engine. Mixed multi-clause musts compose per-clause
        relations exactly like Searcher._execute_bool; clause scores
        are 4dp-rounded by the WAND contract before summing (documented
        <=1e-4/clause divergence from the logical path's raw-sum —
        flat shapes, which every driver oracle uses, are unaffected)."""
        from .ast import BoolQ, TermQ

        not_terms = self._flat_terms(q.must_not)
        must_terms = self._flat_terms(q.must) if q.must else None
        should_terms = self._flat_terms(q.should) if q.should else None

        if not_terms is not None:
            if q.must and must_terms is not None and not q.should:
                if len(q.must) == 1:
                    # single term: OR == AND, but exclusion must apply
                    return self.search_or(must_terms, k, exclude=not_terms)
                return self.search_and(must_terms, k, exclude=not_terms)
            if q.should and should_terms is not None and not q.must:
                return self.search_or(should_terms, k, exclude=not_terms)
            if (
                len(q.must) == 1
                and not q.should
                and isinstance(q.must[0], BoolQ)
                and not q.must[0].must
                and not q.must[0].must_not
            ):
                inner = self._flat_terms(q.must[0].should)
                if inner is not None:
                    return self.search_or(inner, k, exclude=not_terms)
        if (
            len(q.must) == 1
            and not q.should
            and not q.must_not
            and not isinstance(q.must[0], BoolQ)
        ):
            # single non-bool must: the dedicated path (WAND / phrase /
            # expansion) returns the same relation, pruned. A single
            # NESTED BoolQ must stays in the general composition so
            # nested should-group semantics (non-TermQ children
            # dropped, Searcher._clause_scores quirk) match the
            # logical engine exactly — unwrapping it to top level
            # would score children the logical path drops
            return self.execute(q.must[0], k)

        # general composition — SHARED with the logical engine
        # (query/boolops.py), parameterized by the clause-relation fn
        from .boolops import compose_bool

        out = compose_bool(q, self._clause_relation)
        if out is None:
            return self._empty()
        return (
            out.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _clause_relation(self, q) -> DataFrame:
        """FULL (doc_id, contrib) relation for one flat clause."""
        from .ast import BoolQ, FuzzyQ, PhraseQ, RegexpQ, TermQ, WildcardQ
        from .expansion import (
            fuzzy_predicate,
            regexp_predicate,
            wildcard_predicate,
        )

        def scores(df: DataFrame) -> DataFrame:
            return df.select("doc_id", F.col("score").alias("contrib"))

        if isinstance(q, TermQ):
            return scores(self._wand_search([q.term], self._ALL, "or"))
        if isinstance(q, BoolQ) and q.should and not q.must and not q.must_not:
            # same quirk as Searcher._clause_scores: non-TermQ children
            # of a should-group are DROPPED, not an error — the two
            # execute() implementations must accept identical ASTs
            # (review finding: the store path raised where the logical
            # path answered)
            terms = [c.term for c in q.should if isinstance(c, TermQ)]
            return scores(
                self._wand_search(terms, self._ALL, "or")
                if terms
                else self._empty()
            )
        if isinstance(q, WildcardQ):
            terms = self._expand(wildcard_predicate(q.pattern))
            return scores(
                self._wand_search(terms, self._ALL, "or") if terms else self._empty()
            )
        if isinstance(q, FuzzyQ):
            terms = self._expand(fuzzy_predicate(q.term, q.max_edits))
            return scores(
                self._wand_search(terms, self._ALL, "or") if terms else self._empty()
            )
        if isinstance(q, RegexpQ):
            terms = self._expand(regexp_predicate(q.pattern))
            return scores(
                self._wand_search(terms, self._ALL, "or") if terms else self._empty()
            )
        if isinstance(q, PhraseQ):
            return scores(self.search_phrase(q.terms, self._ALL, slop=q.slop))
        raise TypeError(f"unsupported clause {type(q)}")
