"""Exact BM25 top-k over the uncompressed postings DataFrame.

This is the semantics-locking path (build plan step 4): pure DataFrame ops,
zero custom code beyond the JVM tokenizer expression. It answers the same
query as the reference's exact re-rank stage
(``colbert/ranking/colbert_ranker.py:111-130``: exact scoring → sort desc →
truncate to depth), with BM25 instead of MaxSim and a deterministic
(−score, doc_id) tie-break (reference relies on torch.sort stability).

Plan shape (why it scales):
  * query terms are tiny → exploded and **broadcast** into the postings join
    (no shuffle of the big side beyond the one it already has);
  * per-(qid, doc_id) aggregation partial-aggregates map-side;
  * top-k is a Window per qid — qids are many and independent, so the
    window shuffle is balanced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from colbert_spark.functions.tokenizer import tokens_col
from colbert_spark.oracle import B_DEFAULT, K1_DEFAULT


def query_terms_df(queries: DataFrame) -> DataFrame:
    """queries(qid, question) → (qid, term, qtf) with the shared tokenizer."""
    return (
        queries.select("qid", F.explode(tokens_col("question")).alias("term"))
        .groupBy("qid", "term")
        .agg(F.count("*").alias("qtf"))
    )


def idf_col(n_docs):
    """idf = ln(1 + (N − df + 0.5)/(df + 0.5)) over the `df` column
    (Lucene-style positive floor). `F.lit` of an int N is exact below 2^53."""
    return F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )


def bm25_col(weight, tf, k1: float, b: float, avgdl):
    """BM25 saturation over the `doclen` column:
    weight·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)). `weight` is qtf·idf for a
    term and Σ idf for a phrase (tf = its occurrence count). The product is
    taken weight-first, left to right, so every caller rounds identically.
    All JVM-side arithmetic; float64 throughout."""
    tf = tf.cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("doclen") / F.lit(avgdl)
    )
    return weight * tf * F.lit(k1 + 1.0) / norm


def bm25_score_col(k1: float, b: float, n_docs, avgdl):
    """Per-posting BM25 contribution: qtf · idf(df) · saturation(tf, doclen)."""
    return bm25_col(F.col("qtf") * idf_col(n_docs), F.col("tf"), k1, b, avgdl)


def bm25_topk_dataframe(
    postings: DataFrame,
    term_stats: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> DataFrame:
    """→ (qid, rank, doc_id, score), rank 1..k ordered by (−score, doc_id)."""
    qt = query_terms_df(queries)
    # qt is tiny: broadcast it into the vocab-sized term_stats join, then
    # broadcast the (query-terms-only) result into the big postings join —
    # the postings side never shuffles for the lookup.
    qt_with_df = term_stats.select("term", "df").join(F.broadcast(qt), "term")
    joined = postings.join(F.broadcast(qt_with_df), "term")
    scored = joined.withColumn("contrib", bm25_score_col(k1, b, n_docs, avgdl))
    agg = scored.groupBy("qid", "doc_id").agg(F.sum("contrib").alias("score"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )
