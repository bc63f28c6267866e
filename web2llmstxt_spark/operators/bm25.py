"""BM25 lexical relevance search (engine extension).

The sparse-retrieval complement to the dense ANN family
(operators/similarity.py): score documents against a query string with
Okapi BM25 (Robertson & Zaragoza 2009) and return the top-k. The reference
has no search operator at all; a training-data pipeline needs one for
query-driven corpus auditing ("show me the docs that look like X").

Scale shape at 100 TB:
- the token explode is filtered to the QUERY'S terms before any shuffle —
  per-doc work is O(tokens), but only (doc_id, matched-term) pairs ever
  leave the scan, a tiny fraction of the corpus;
- document frequencies aggregate over that same filtered stream (one
  combiner-friendly shuffle on term — at most |query| distinct keys);
- corpus stats (N, avgdl) are one count/sum aggregate, broadcast back as
  literals;
- everything is JVM Column algebra in whole-stage codegen — no Python, no
  UDF.

Cross-engine determinism: scores are IEEE doubles (ln + division agree to
the last ulp between JVM and DuckDB libm in practice); outputs round to 4
decimals and the top-k cut orders by (rounded score DESC, doc_id ASC) in
BOTH engines so the cut is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame
from .dedup import tokens_col
from .textstats import whitespace_tokens_sql

K1 = 1.2
B = 0.75


def _query_terms(query: str) -> list[str]:
    """Lowercased whitespace terms, deduped, order-preserving — the same
    pinned tokenizer class as the corpus side."""
    seen: dict[str, None] = {}
    for t in query.lower().split():
        if t and t not in seen:
            seen[t] = None
    return list(seen)


def bm25_topk(
    df: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Okapi BM25 top-k: (doc_id, score) for the k best matches.

    idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))   [the +1 form: never
    negative, the Lucene choice]
    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    """
    terms = _query_terms(query)
    if not terms:
        return local_frame(df.sparkSession, [], f"{id_col} long, score double")

    toks = tokens_col(text_col)
    docs = df.select(F.col(id_col), toks.alias("__t")).select(
        id_col, F.explode("__t").alias("term"), F.size("__t").alias("dl")
    )
    # corpus stats: one tiny aggregate (N docs, average doc length)
    stats = df.select(
        F.count("*").alias("n"), F.sum(F.size(toks)).alias("sum_dl")
    ).collect()[0]
    n_docs, avgdl = stats["n"], stats["sum_dl"] / stats["n"]

    hits = docs.filter(F.col("term").isin(terms))
    tf = hits.groupBy(id_col, "term").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "__s",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def bm25_sql(
    query: str,
    text_expr: str,
    id_expr: str,
    from_table: str,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB twin of bm25_topk — same tokenizer, same +1 idf, same rounded
    deterministic cut."""
    terms = _query_terms(query)
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
        WITH toks AS (
            SELECT {id_expr} AS doc_id, {whitespace_tokens_sql(text_expr)} AS t
            FROM {from_table}
        ),
        stats AS (SELECT count(*)::DOUBLE AS n,
                         (sum(len(t))::DOUBLE / count(*)) AS avgdl FROM toks),
        hits AS (
            SELECT doc_id, unnest(t) AS term, len(t) AS dl FROM toks
        ),
        tf AS (
            SELECT doc_id, term, count(*)::DOUBLE AS tf, first(dl) AS dl
            FROM hits WHERE term IN ({term_list})
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)
        SELECT doc_id,
               round(sum(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * ({k1} + 1.0)
                   / (t.tf + {k1} * (1.0 - {b} + {b} * t.dl / s.avgdl))
               ), 4) AS score
        FROM tf t JOIN dfreq d USING (term), stats s
        GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC
        LIMIT {k}
    """
