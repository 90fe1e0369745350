"""Per-layer probes for the traced run.

Each probe calls one layer's public functions on the workload's own
index and inputs, after the timed loop, and times only that call:
tokenizer chains, the Arrow tokenizer boundary, the posting codec,
the reader's term lookup and block scan, the per-range WAND scorer and
the phrase matcher, and the query planner. Spans recorded during the
timed loop (tracer.py) cover the rest.
"""

from __future__ import annotations

import time
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from coa_codesearch_mcp_spark.analysis.chains import analyze_positions
from coa_codesearch_mcp_spark.analysis.udfs import grouped_tokens_arrow
from coa_codesearch_mcp_spark.index.codec import decode_blocks, varint_encode
from coa_codesearch_mcp_spark.index.store import (
    PHRASE_BLOCK_COLUMNS,
    WAND_BLOCK_COLUMNS,
    IndexReader,
)
from coa_codesearch_mcp_spark.query.phrase import phrase_candidates
from coa_codesearch_mcp_spark.query.planner import (
    build_query,
    smart_process,
    validate_query,
)
from coa_codesearch_mcp_spark.query.wand import WandStats, wand_topk

from common import K, dir_bytes, query_text

MB = 1 << 20
# fixed-width posting columns shipped per block row besides the blobs
_FIXED_BLOCK_BYTES = 8 * 5  # range_id, block_no, first_doc, last_doc, n/ub


def tokenizer_rates(spark, texts: list[str]) -> dict:
    """Docs/s of the content chain on the driver and through the Arrow
    tokenizer on the workers. The gap is the worker-boundary cost."""
    t0 = time.perf_counter()
    for t in texts:
        analyze_positions("content", t)
    driver_s = time.perf_counter() - t0

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    t0 = time.perf_counter()
    grouped_tokens_arrow(df, "content").agg(F.sum("dl")).collect()
    arrow_s = time.perf_counter() - t0
    return {
        "analysis.tokenize_docs_per_s": len(texts) / driver_s,
        "analysis.arrow_tokenize_docs_per_s": len(texts) / arrow_s,
    }


def storage_ratios(root: str, text_bytes: int) -> dict:
    return {
        f"index.store.bytes_per_text_byte.{table}": dir_bytes(f"{root}/{table}") / text_bytes
        for table in ("tokens", "doclens", "dictionary", "postings")
    }


def planner_us(queries: list[dict]) -> dict:
    """Driver-side planning per query string: smart_process +
    validate_query + build_query, as TextSearchEngine.search runs them."""
    reps = 20
    per_query = []
    for q in queries:
        text = query_text(q)
        t0 = time.perf_counter()
        for _ in range(reps):
            plan = smart_process(text)
            validate_query(plan.processed_query)
            build_query(plan.processed_query, "standard", "content")
        per_query.append((time.perf_counter() - t0) / reps * 1e6)
    return {"query.planner.plan_us": median(per_query)}


def _ranges(pdf):
    for _rid, grp in pdf.groupby("range_id", sort=True):
        yield {
            t: g.sort_values("block_no").to_dict("records")
            for t, g in grp.groupby("term", sort=True)
        }


def reader_and_scorer(spark, root: str, queries: list[dict]) -> dict:
    """Reader term lookup and block scan on a fresh (cold-cache) reader,
    then the per-range WAND scorer, the posting codec and the phrase
    matcher on the blocks that scan returned."""
    lookup_ms, scan_ms, n_blocks, scatter_bytes = [], [], [], []
    wand_s, stats, n_wand = 0.0, WandStats(), 0
    decode_s = encode_s = 0.0
    encoded_bytes = 0
    phrase_s, phrase_blocks = 0.0, 0
    for q in queries:
        if q["cls"] == "expand":
            continue
        reader = IndexReader(spark, root)
        terms = sorted(set(q["terms"]))
        t0 = time.perf_counter()
        info = reader.lookup_terms(terms)
        lookup_ms.append((time.perf_counter() - t0) * 1000)
        if len(info) < len(terms):
            continue
        columns = PHRASE_BLOCK_COLUMNS if q["cls"] == "phrase" else WAND_BLOCK_COLUMNS
        t0 = time.perf_counter()
        blocks, _ = reader.postings_blocks(terms, columns=columns)
        pdf = blocks.toPandas()
        scan_ms.append((time.perf_counter() - t0) * 1000)
        n_blocks.append(len(pdf))
        blob_cols = [c for c in ("doc_gaps", "tfs", "dls", "pos_blob") if c in pdf]
        scatter_bytes.append(
            int(sum(pdf[c].map(len).sum() for c in blob_cols))
            + int(pdf["term"].map(len).sum())
            + _FIXED_BLOCK_BYTES * len(pdf)
        )
        if q["cls"] == "phrase":
            for _rid, grp in pdf.groupby("range_id", sort=True):
                t0 = time.perf_counter()
                phrase_candidates(grp, q["terms"], len(q["terms"]) - 1)
                phrase_s += time.perf_counter() - t0
                phrase_blocks += len(grp)
            continue
        mode = "and" if q["cls"] == "and" else "or"
        n_wand += 1
        for rng_blocks in _ranges(pdf):
            term_blocks = {t: (info[t]["idf"], rows) for t, rows in rng_blocks.items()}
            t0 = time.perf_counter()
            wand_topk(
                term_blocks, reader.avgdl, K, mode=mode, stats=stats,
                n_required=len(terms) if mode == "and" else None,
            )
            wand_s += time.perf_counter() - t0
            for rows in rng_blocks.values():
                t0 = time.perf_counter()
                docs, tfs = decode_blocks(rows)
                decode_s += time.perf_counter() - t0
                encoded_bytes += sum(len(r["doc_gaps"]) + len(r["tfs"]) for r in rows)
                gaps = np.diff(docs, prepend=-1).astype(np.uint64)
                t0 = time.perf_counter()
                varint_encode(gaps)
                varint_encode(tfs.astype(np.uint64))
                encode_s += time.perf_counter() - t0
    return {
        "index.store.lookup_terms_ms": median(lookup_ms),
        "index.store.postings_blocks_ms": median(scan_ms),
        "index.store.blocks_per_query": median(n_blocks),
        "index.store.scatter_bytes_per_query": median(scatter_bytes),
        "index.codec.decode_mb_per_s": encoded_bytes / MB / decode_s,
        "index.codec.encode_mb_per_s": encoded_bytes / MB / encode_s,
        "query.wand.us_per_decoded_block": wand_s * 1e6 / max(stats.blocks_decoded, 1),
        "query.wand.decoded_block_ratio": stats.blocks_decoded / max(stats.blocks_total, 1),
        "query.wand.docs_scored_per_query": stats.docs_scored / max(n_wand, 1),
        "query.phrase.us_per_block": phrase_s * 1e6 / max(phrase_blocks, 1),
    }
