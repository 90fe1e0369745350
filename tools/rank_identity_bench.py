"""Rank identity AT SCALE against an independent engine.

The driver's correctness gate proves BM25 rank identity vs DuckDB at
sf0.01 (500 docs). This tool extends the same contract to the 240k
web-realistic skewed corpus (webgen extended vocab, Zipf 1.3 dfs,
log-normal doc lengths): the store path's compressed-block block-max
WAND scatter must return EXACTLY the top-10 (doc_id, 4dp score) that
DuckDB computes from the pinned BM25 formula over the identical
(doc_id, text) parquet — term, AND, OR, NOT and positional-phrase
shapes, across stopword/selective/rare df bands.

Both engines read the SAME corpus parquet (written once, so dense ids
are shared bytes, not re-derived). DuckDB materializes post/dl/stats
tables once; per-query SQL mirrors __spark_entry__._sql_bm25 and the
q5 phrase oracle verbatim.

Usage: python tools/rank_identity_bench.py [n_docs] [vocab_size]
Writes one JSON line (commit to BENCH/rank_identity_240k.json).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, "/root/repo")

OUT_ROOT = "/tmp/spark_graft_rankid"
K1, B = 1.2, 0.75


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000
    vocab_size = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    k = 10

    import duckdb
    from pyspark.sql import functions as F

    from coa_codesearch_mcp_spark.fixtures.webgen import generate_webpages
    from coa_codesearch_mcp_spark.index.store import (
        IndexConfig,
        IndexReader,
        IndexWriter,
    )
    from coa_codesearch_mcp_spark.query.local import runs_local
    from coa_codesearch_mcp_spark.query.store_executor import StoreSearcher
    from coa_codesearch_mcp_spark.session import get_spark

    spark = get_spark("rankid", master="local[16]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    corpus_path = os.path.join(OUT_ROOT, f"corpus_{n_docs}_{vocab_size}")
    if not os.path.exists(corpus_path):
        from coa_codesearch_mcp_spark.index.ids import assign_dense_doc_ids

        docs = assign_dense_doc_ids(
            generate_webpages(
                spark, n_docs, partitions=64, vocab_size=vocab_size
            ).select("url", "text"),
            key_col="url",
        )
        docs.select("doc_id", "text").write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)

    root = os.path.join(OUT_ROOT, f"ix_{n_docs}_{vocab_size}")
    if not os.path.exists(os.path.join(root, "manifest.json")):
        shutil.rmtree(root, ignore_errors=True)
        cfg = IndexConfig(
            field="content_patterns", n_buckets=32, range_size=1 << 14,
            chunk_size=1 << 14, chunks_per_wave=64,
            salt_threshold=10_000, max_salts=64, with_positions=True,
        )
        IndexWriter(spark, root, cfg).build(corpus)
    searcher = StoreSearcher(IndexReader(spark, root))

    con = duckdb.connect()
    con.sql(f"CREATE VIEW corpus AS SELECT * FROM '{corpus_path}/*.parquet'")
    # materialize the BM25 relations ONCE (the sf0.01 oracle recomputes
    # them per query via CTEs; at 240k that would re-tokenize per probe)
    con.sql(r"""
CREATE TABLE tok2 AS
  SELECT doc_id, t.term
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\s+'),
                           x -> x <> '') AS lf
        FROM corpus),
       LATERAL unnest(lf) AS t(term)
""")
    con.sql("""
CREATE TABLE dl AS
  SELECT c.doc_id, count(t.term) AS dl
  FROM corpus c LEFT JOIN tok2 t ON c.doc_id = t.doc_id
  GROUP BY c.doc_id
""")
    con.sql("CREATE TABLE stats AS SELECT count(*) AS n, avg(dl) AS avgdl FROM dl")
    con.sql("CREATE TABLE post AS SELECT term, doc_id, count(*) AS tf FROM tok2 GROUP BY 1, 2")
    con.sql("CREATE TABLE dfreq AS SELECT term, count(*) AS df FROM post GROUP BY 1")

    def duck_bm25(term_filter, having="", exclude="", limit=k):
        return con.sql(f"""
WITH scored AS (
  SELECT p.doc_id,
         sum( ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
              * p.tf * ({K1} + 1)
              / (p.tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) ) AS score,
         count(*) AS n_matched
  FROM post p
  JOIN dfreq f USING (term)
  JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
  WHERE {term_filter}
  GROUP BY p.doc_id
  {having}
)
SELECT doc_id, round(score, 4) AS score
FROM scored
{exclude}
ORDER BY round(score, 4) DESC, doc_id
LIMIT {limit}
""").fetchall()

    def duck_phrase(a, b, limit=k):
        # verbatim shape of the q5 phrase oracle (adjacent positions,
        # phrase tf per doc, phrase df, BM25 over the phrase "term")
        return con.sql(f"""
WITH tokordered AS (
  SELECT doc_id,
         unnest(lf) AS term,
         generate_subscripts(lf, 1) - 1 AS pos
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '') AS lf
        FROM corpus)
),
starts AS (
  SELECT a.doc_id, count(*) AS phrase_tf
  FROM tokordered a JOIN tokordered b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{a}' AND b.term = '{b}'
  GROUP BY a.doc_id
),
pdf AS (SELECT greatest(count(*), 1) AS df FROM starts),
scored AS (
  SELECT st.doc_id,
         ln(1 + (s.n - pdf.df + 0.5) / (pdf.df + 0.5))
           * st.phrase_tf * ({K1} + 1)
           / (st.phrase_tf + {K1} * (1 - {B} + {B} * d.dl / s.avgdl)) AS score
  FROM starts st
  JOIN dl d ON st.doc_id = d.doc_id
  CROSS JOIN stats s CROSS JOIN pdf
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id LIMIT {limit}
""").fetchall()

    def spark_rows(df):
        return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]

    def dd(rows):
        return [(int(d), float(s)) for d, s in rows]

    # term bands from the dictionary (same bands as the WAND benches)
    d = searcher.reader.dictionary().cache()
    top = [r["term"] for r in d.orderBy("df", ascending=False).limit(2).collect()]
    sel = [r["term"] for r in d.filter(
        (F.col("df") >= n_docs // 400) & (F.col("df") <= n_docs // 100)
    ).orderBy("df", ascending=False).limit(2).collect()]
    rare = [r["term"] for r in d.filter(
        (F.col("df") >= n_docs // 800) & (F.col("df") <= n_docs // 300)
    ).orderBy("df").limit(1).collect()]
    # an adjacent in-corpus word pair for the phrase probe
    first_txt = corpus.filter(F.col("doc_id") == 0).collect()[0]["text"]
    words = [w.lower() for w in first_txt.split() if w]
    ph = (words[0], words[1])

    def lit(terms):
        return "p.term IN (" + ", ".join(f"'{t}'" for t in terms) + ")"

    cases = {}

    def check(name, spark_df, duck_rows, terms):
        got, want = spark_rows(spark_df), dd(duck_rows)
        # which executor answered (query/local.py): the candidate
        # postings are the summed df of the query's terms and NOT-terms
        n_postings = sum(v["df"] for v in searcher.reader.lookup_terms(terms).values())
        cases[name] = {
            "match": got == want,
            "k": len(want),
            "candidate_postings": n_postings,
            "path": "driver" if runs_local(n_postings) else "scatter",
            "spark_top3": got[:3],
            "duckdb_top3": want[:3],
        }

    check("term_stopword", searcher.search_term(top[0], k=k), duck_bm25(lit([top[0]])),
          [top[0]])
    check("term_selective", searcher.search_term(sel[0], k=k), duck_bm25(lit([sel[0]])),
          [sel[0]])
    check("or_stop_x_selective", searcher.search_or([top[0], sel[0]], k=k),
          duck_bm25(lit([top[0], sel[0]])), [top[0], sel[0]])
    check("or_stop_x_rare", searcher.search_or([top[0]] + rare, k=k),
          duck_bm25(lit([top[0]] + rare)), [top[0]] + rare)
    check("and_stop_x_selective", searcher.search_and([top[0], sel[0]], k=k),
          duck_bm25(lit([top[0], sel[0]]), having="HAVING count(*) = 2"),
          [top[0], sel[0]])
    check("and_selective_pair", searcher.search_and(sel, k=k),
          duck_bm25(lit(sel), having=f"HAVING count(*) = {len(set(sel))}"), sel)
    check("not_stop_minus_selective",
          searcher.search_or([top[0]], k=k, exclude=[sel[0]]),
          duck_bm25(lit([top[0]]),
                    exclude=(f"WHERE doc_id NOT IN (SELECT doc_id FROM post "
                             f"WHERE term = '{sel[0]}')")),
          [top[0], sel[0]])
    check("phrase_adjacent", searcher.search_phrase(list(ph), k=k),
          duck_phrase(*ph), list(ph))

    out = {
        "metric": "bm25_rank_identity_vs_independent_engine",
        "corpus": {"n_docs": n_docs, "vocab_size": vocab_size,
                   "note": "webgen web-realistic skew; identical parquet "
                           "read by both engines"},
        "engine_pair": "store-path block-max WAND (compressed blocks; "
                       "driver executor or scatter, per case 'path') vs "
                       "DuckDB SQL BM25 from the pinned formula",
        "k": k,
        "cases": cases,
        "all_match": all(c["match"] for c in cases.values()),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
