"""Rank-identity: Spark top-k (both the DataFrame path and the compressed
block-max segment path) == pure-Python oracle on the synthetic corpus.

This is the engine's correctness gate (north_rule: "matching the reference's
top-k docIDs and BM25 scores (rank-identical) on the reference query set").
The oracle plays the reference engine's role; doc ids are the deterministic
dense rank over url in both engines.
"""

import math

import pytest
from pyspark.sql import functions as F

from colbert_spark.index.build import (
    build_index,
    collection_stats,
    derive_docs,
    postings_df,
    term_stats,
)
from colbert_spark.oracle import OracleIndex
from colbert_spark.query.bm25 import bm25_topk_dataframe
from colbert_spark.query.wand import bm25_topk_segments

K = 10


@pytest.fixture(scope="module")
def corpus_df(spark, tiny_corpus):
    return spark.createDataFrame(tiny_corpus).cache()


@pytest.fixture(scope="module")
def oracle(tiny_corpus):
    ordered = tiny_corpus.sort_values("url").reset_index(drop=True)
    docs = list(zip(range(len(ordered)), ordered["text"]))
    return OracleIndex.build(docs)


@pytest.fixture(scope="module")
def golden(oracle, tiny_queries):
    out = {}
    for qid, q in zip(tiny_queries["qid"], tiny_queries["question"]):
        out[qid] = oracle.topk(q, K)
    return out


def _assert_rank_identical(got_rows, golden):
    by_qid = {}
    for r in got_rows:
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, expected in golden.items():
        got = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert len(got) == len(expected), f"qid={qid}: {len(got)} vs {len(expected)} results"
        for (exp_doc, exp_score), row in zip(expected, got):
            assert row["doc_id"] == exp_doc, (
                f"qid={qid} rank={row['rank']}: doc {row['doc_id']} != {exp_doc}"
            )
            assert math.isclose(row["score"], exp_score, rel_tol=1e-9), (
                f"qid={qid} doc={exp_doc}: {row['score']} != {exp_score}"
            )


def test_doc_id_assignment_matches_oracle(spark, corpus_df, tiny_corpus):
    docs = derive_docs(corpus_df)
    got = {r["url"]: r["doc_id"] for r in docs.select("url", "doc_id").collect()}
    expected_urls = sorted(tiny_corpus["url"])
    for i, url in enumerate(expected_urls):
        assert got[url] == i


def test_collection_stats_exact(spark, corpus_df, oracle):
    docs = derive_docs(corpus_df)
    stats = collection_stats(docs)
    assert stats["N"] == oracle.n_docs
    assert math.isclose(stats["avgdl"], oracle.avgdl, rel_tol=1e-12)


def test_df_exact(spark, corpus_df, oracle):
    docs = derive_docs(corpus_df)
    ts = term_stats(postings_df(docs))
    got = {r["term"]: r["df"] for r in ts.collect()}
    assert len(got) == len(oracle.postings)
    for term, plist in oracle.postings.items():
        assert got[term] == len(plist), term


def test_dataframe_path_rank_identity(spark, corpus_df, tiny_queries, oracle, golden):
    docs = derive_docs(corpus_df).cache()
    stats = collection_stats(docs)
    posts = postings_df(docs)
    ts = term_stats(posts)
    queries = spark.createDataFrame(tiny_queries)
    topk = bm25_topk_dataframe(posts, ts, queries, stats["N"], stats["avgdl"], k=K)
    _assert_rank_identical(topk.collect(), golden)


def test_bm25_columns_match_oracle(spark):
    """The one Spark-column BM25 (`query/bm25.py`) equals the scalar oracle
    over a (qtf, df, tf, doclen) grid, in both forms: the per-term
    `bm25_score_col` and the phrase form `bm25_col(idf_sum, n_occ)`."""
    import itertools

    from colbert_spark.oracle import B_DEFAULT, K1_DEFAULT, bm25_idf, bm25_term_score
    from colbert_spark.query.bm25 import bm25_col, bm25_score_col

    n_docs, avgdl = 1000, 37.25
    grid = [
        (qtf, df, tf, dl, bm25_idf(n_docs, df) + bm25_idf(n_docs, 7))
        for qtf, df, tf, dl in itertools.product(
            (1, 3), (1, 17, 500, 1000), (1, 2, 9), (1, 37, 300)
        )
    ]
    frame = spark.createDataFrame(
        grid, "qtf long, df long, tf long, doclen int, idf_sum double"
    )
    rows = frame.select(
        "qtf", "df", "tf", "doclen", "idf_sum",
        bm25_score_col(K1_DEFAULT, B_DEFAULT, n_docs, avgdl).alias("term"),
        bm25_col(F.col("idf_sum"), F.col("tf"), K1_DEFAULT, B_DEFAULT, avgdl)
        .alias("phrase"),
    ).collect()
    assert len(rows) == len(grid)
    for r in rows:
        idf = bm25_idf(n_docs, r["df"])
        want = r["qtf"] * bm25_term_score(r["tf"], r["doclen"], avgdl, idf)
        assert math.isclose(r["term"], want, rel_tol=1e-12), r
        want = bm25_term_score(r["tf"], r["doclen"], avgdl, r["idf_sum"])
        assert math.isclose(r["phrase"], want, rel_tol=1e-12), r


def test_segment_path_rank_identity(spark, corpus_df, tiny_queries, golden, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx"))
    # bucket_size=127 (prime, < corpus size) forces multi-bucket merges and
    # multi-block terms — exercises the per-bucket MaxScore + global merge
    build_index(spark, corpus_df, index_dir, bucket_size=127)
    queries = spark.createDataFrame(tiny_queries)
    topk = bm25_topk_segments(spark, index_dir, queries, k=K)
    _assert_rank_identical(topk.collect(), golden)


def test_segment_path_empty_query(spark, corpus_df, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_empty"))
    build_index(spark, corpus_df, index_dir, bucket_size=500)
    queries = spark.createDataFrame([(0, "zzzznotaterm")], "qid long, question string")
    topk = bm25_topk_segments(spark, index_dir, queries, k=K)
    assert topk.count() == 0


def test_block_max_is_true_upper_bound(spark, corpus_df, tmp_path_factory, oracle):
    """No block's stored max_unit underestimates any true UNIT (idf=1) BM25
    contribution of a posting in that block (FIXTURES.md §4 WAND invariant;
    idf-free format v2 — any idf ≥ 0 scales both sides equally)."""
    index_dir = str(tmp_path_factory.mktemp("idx_ub"))
    build_index(spark, corpus_df, index_dir, bucket_size=127)
    segs = spark.read.parquet(f"{index_dir}/segments")
    import numpy as np

    from colbert_spark.index.codec import decode_block
    from colbert_spark.oracle import bm25_term_score

    sample = segs.orderBy(F.desc("n")).limit(200).collect()
    for row in sample:
        docs = np.cumsum(decode_block(row["doc_bytes"]))
        tfs = decode_block(row["tf_bytes"])
        dls = decode_block(row["dl_bytes"])
        for d, tf, dl in zip(docs, tfs, dls):
            s = bm25_term_score(int(tf), int(dl), oracle.avgdl, 1.0)
            assert s <= row["max_unit"] + 1e-12
