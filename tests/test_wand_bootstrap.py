"""Global threshold bootstrap for the distributed WAND scatter.

Scatter-gather top-k starts every doc range at threshold 0; a range
where the selective term has fewer than k postings then scores the
co-occurring stopword's ENTIRE list (its local top-k legitimately
contains stopword-only docs that the global merge discards). The
bootstrap seeds every range with the k-th best single-term score of
the rarest query term — a bound the global merge is guaranteed to
reach — restoring block skipping for the stopword x selective shape
(Ding & Suel 2011 §6) without changing the global top-k.

Spec pinned here:
1. unit: seeded wand_topk merges to EXACTLY the exhaustive top-k
   while decoding strictly fewer blocks than unseeded;
2. integration: StoreSearcher.search_or on a skewed corpus equals the
   logical engine row-for-row, and the gate actually fires;
3. the gate stays closed for AND, NOT-exclusions, balanced dfs, and
   rare terms with df < 4k.
"""

import numpy as np
import pytest

from coa_codesearch_mcp_spark.index.build import build_logical_index
from coa_codesearch_mcp_spark.index.codec import BLOCK_SIZE, encode_blocks, varint_encode
from coa_codesearch_mcp_spark.index.store import IndexConfig, IndexReader, IndexWriter
from coa_codesearch_mcp_spark.query.bm25 import idf_py
from coa_codesearch_mcp_spark.query.executor import Searcher
from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher
from coa_codesearch_mcp_spark.query.wand import (
    WandStats,
    exhaustive_topk_range,
    wand_topk,
)

K = 10
N = 20_000
AVGDL = 160.0


def _blocks(doc_ids, tfs, dls):
    docs = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    rows = encode_blocks(docs, tfs, dls.astype(np.float64), avgdl=AVGDL)
    for bi, blk in enumerate(rows):
        blk["dls"] = varint_encode(
            dls.astype(np.uint64)[bi * BLOCK_SIZE : (bi + 1) * BLOCK_SIZE]
        )
    return rows


@pytest.fixture(scope="module")
def skewed_lists():
    """ONE doc range of a larger corpus: the stopword covers every doc
    in the range, but only 5 of the selective term's 200 global
    postings fall here — fewer than k, so unseeded WAND's local top-k
    legitimately fills with stopword-only docs and can prune nothing.
    Returns (range term_blocks, global selective list, avgdl)."""
    rng = np.random.RandomState(7)
    stop_docs = np.arange(N)
    stop_tfs = rng.randint(1, 4, size=N)
    dls = np.clip(rng.lognormal(5.0, 0.6, size=N), 30, 4000).astype(np.int64)
    # global selective postings over a 40x larger doc space; 200 total
    glob_sel_docs = np.sort(
        rng.choice(40 * N, size=200, replace=False).astype(np.int64)
    )
    glob_sel_tfs = rng.zipf(1.5, size=200).clip(1, 50)
    glob_sel_dls = np.clip(
        rng.lognormal(5.0, 0.6, size=200), 30, 4000
    ).astype(np.int64)
    in_range = glob_sel_docs < N
    sel_idf = idf_py(200, 40 * N)
    term_blocks = {
        "the": (idf_py(40 * N, 40 * N), _blocks(stop_docs, stop_tfs, dls)),
        "sel": (
            sel_idf,
            _blocks(
                glob_sel_docs[in_range],
                glob_sel_tfs[in_range],
                glob_sel_dls[in_range],
            ),
        ),
    }
    glob_sel = (sel_idf, _blocks(glob_sel_docs, glob_sel_tfs, glob_sel_dls))
    assert 0 < int(in_range.sum()) < K
    return term_blocks, glob_sel, AVGDL


def test_seeded_topk_exact_and_prunes(skewed_lists):
    term_blocks, glob_sel, avgdl = skewed_lists
    want = [
        (d, round(s, 4))
        for d, s in exhaustive_topk_range(term_blocks, avgdl, K)
    ]

    cold = WandStats()
    got_cold = wand_topk(term_blocks, avgdl, K, stats=cold)
    assert [(d, s) for d, s in got_cold] == want

    # the executor's seed: GLOBAL k-th best single-term score of the
    # rare term (its full posting list across all ranges)
    theta0 = sorted(
        (s for _, s in exhaustive_topk_range({"sel": glob_sel}, avgdl, K)),
        reverse=True,
    )[K - 1]
    theta0 = round(theta0, 4)

    seeded = WandStats()
    got = wand_topk(term_blocks, avgdl, K, threshold0=theta0, stats=seeded)
    # merge-safety: every local doc that can still reach the global
    # top-k (score >= theta0) is returned, in order, ahead of any
    # EPS-slack extras — so the global merge result is unchanged
    kept = [r for r in want if r[1] >= theta0]
    got_list = [(d, s) for d, s in got]
    assert got_list[: len(kept)] == kept
    assert seeded.blocks_decoded < cold.blocks_decoded / 4, (
        seeded.blocks_decoded,
        cold.blocks_decoded,
    )
    assert seeded.docs_scored < cold.docs_scored / 100


def test_seed_above_true_kth_would_lose_docs(skewed_lists):
    """Sanity that the test can fail: an INVALID seed (above every
    in-range score) visibly drops results — i.e. the pruning the
    seeded run performs is real, not a no-op."""
    term_blocks, _, avgdl = skewed_lists
    want = exhaustive_topk_range(term_blocks, avgdl, K)
    best = round(want[0][1], 4)
    got = wand_topk(term_blocks, avgdl, K, threshold0=best + 1.0)
    assert got == []


# ------------------------------------------------------- integration

CFG = IndexConfig(
    field="content_patterns",
    n_buckets=4,
    range_size=128,          # many ranges; selective term sparse per range
    chunk_size=512,
    chunks_per_wave=2,
    salt_threshold=500,
    max_salts=4,
)

N_DOCS = 1024


def _mk_docs(spark):
    """`alpha` everywhere (df=1024); `zeta` in 80 docs spread across
    ranges (df=80: >= 4k and ratio 12.8 >= 8 — the gate fires); per-doc
    filler varies dl so scores are not degenerate."""
    rows = []
    for i in range(N_DOCS):
        words = ["alpha"] + [f"filler{j}" for j in range(i % 7)]
        if i % 13 == 0:
            words += ["zeta"] * (1 + i % 3)
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    return _mk_docs(spark).cache()


@pytest.fixture(scope="module")
def store(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ix_bootstrap"))
    IndexWriter(spark, root, CFG).build(corpus)
    return StoreSearcher(IndexReader(spark, root))


@pytest.fixture(scope="module")
def logical(corpus):
    return Searcher(build_logical_index(corpus, field="content_patterns").cache())


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_gate_fires_on_skewed_or(store):
    blocks, info = store.reader.postings_blocks(["alpha", "zeta"])
    theta0 = store._bootstrap_theta(
        blocks, info, ["alpha", "zeta"], K, "or", []
    )
    assert theta0 > 0.0


def test_gate_closed_when_unprofitable(store):
    blocks, info = store.reader.postings_blocks(["alpha", "zeta"])
    args = (blocks, info, ["alpha", "zeta"])
    assert store._bootstrap_theta(*args, K, "and", []) == 0.0
    assert store._bootstrap_theta(*args, K, "or", ["gamma"]) == 0.0
    # df < 4k: k=30 needs df >= 120 but zeta has ~80
    assert store._bootstrap_theta(*args, 30, "or", []) == 0.0
    # balanced dfs: ratio 1 < 8
    b2, i2 = store.reader.postings_blocks(["alpha"])
    assert store._bootstrap_theta(b2, i2, ["alpha"], K, "or", []) == 0.0


def test_bootstrapped_or_matches_logical(store, logical, scatter):
    got = rows(store.search_or(["alpha", "zeta"], k=K))
    want = rows(logical.search_or(["alpha", "zeta"], k=K))
    assert got == want
    # every top-10 doc contains zeta — exactly why seeding is safe
    assert all(d % 13 == 0 for d, _ in got)


def test_bootstrapped_or_deep_k_matches_logical(store, logical, scatter):
    """k deep enough that results spill past the zeta docs — the seed
    bound must not cut off the stopword-only tail wrongly."""
    got = rows(store.search_or(["alpha", "zeta"], k=20))
    want = rows(logical.search_or(["alpha", "zeta"], k=20))
    assert got == want
