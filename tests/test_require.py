"""Boolean MUST (`require` column, filter context) across every query path:
batch kernel, distributed resolution, point serving, filtered retrieval —
rank/score-identical to the pure-Python oracle's boolean top-k."""

import math

import pytest
from pyspark.sql import functions as F

from colbert_spark.index.build import build_index
from colbert_spark.oracle import OracleIndex
from colbert_spark.query.wand import IndexSearcher

K = 10

# (qid, question, require, exclude): exercises singleton MUST, comma
# OR-groups, multi-group conjunction, MUST+MUST_NOT, and a dead OOV group.
# The head terms above are in almost every doc of the tiny corpus, so a
# dropped require mask would go unseen; the last two require rare terms
# (term01573: docs 9, 335, 984 — three buckets — and term01475 / term01336,
# three docs each), so only the mask keeps the head-term matches out.
CASES = [
    (0, "term00000 term00003", "term00003", None),
    (1, "term00001 term00002", "term00001 term00002", None),
    (2, "term00000", "term00007,term00008", None),
    (3, "term00000 term00005", "term00005", "term00009"),
    (4, "term00000", "zzznotfound", None),  # dead group → no rows
    (5, "term00002", "term00004,zzznotfound", None),  # OOV alternative ok
    (6, "term00000 term00001", "term01573", None),
    (7, "term00002", "term01475,term01336", None),
]


@pytest.fixture(scope="module")
def ridx(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_req"))
    build_index(spark, spark.createDataFrame(tiny_corpus), d, bucket_size=127)
    ordered = tiny_corpus.sort_values("url").reset_index(drop=True)
    oracle = OracleIndex.build(list(zip(range(len(ordered)), ordered["text"])))
    return d, oracle


def _oracle_topk(oracle, question, require, exclude):
    groups = (
        [atom.replace(",", " ").split() for atom in require.split()]
        if require
        else None
    )
    return oracle.topk_boolean(
        question,
        k=K,
        require_groups=groups,
        exclude_terms=exclude.split() if exclude else None,
    )


def _assert_matches_oracle(rows, oracle):
    got = {}
    for r in rows:
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, question, require, exclude in CASES:
        want = _oracle_topk(oracle, question, require, exclude)
        have = sorted(got.get(qid, []))
        assert len(have) == len(want), (qid, have, want)
        for (rank, doc_id, score), (odoc, oscore) in zip(have, want):
            assert doc_id == odoc, (qid, rank, doc_id, odoc)
            assert math.isclose(score, oscore, rel_tol=1e-9), (qid, rank)


def _qdf(spark):
    return spark.createDataFrame(
        CASES, "qid long, question string, require string, exclude string"
    )


def test_require_batch_path(spark, ridx):
    d, oracle = ridx
    rows = IndexSearcher(spark, d).search(_qdf(spark), k=K).collect()
    _assert_matches_oracle(rows, oracle)
    assert not [r for r in rows if r["qid"] == 4]  # dead group: no rows


def test_require_distributed_resolution(spark, ridx):
    d, oracle = ridx
    s = IndexSearcher(spark, d)
    s.resolve_collect_max = 0  # force the large-batch distributed resolver
    rows = s.search(_qdf(spark), k=K).collect()
    _assert_matches_oracle(rows, oracle)


def test_require_point_path(spark, ridx):
    d, oracle = ridx
    s = IndexSearcher(spark, d)
    for qid, question, require, exclude in CASES:
        pdf = s.search_point(question, k=K, exclude=exclude, require=require)
        want = _oracle_topk(oracle, question, require, exclude)
        assert len(pdf) == len(want), (qid, pdf)
        for i, (odoc, oscore) in enumerate(want):
            assert int(pdf["doc_id"].iat[i]) == odoc, (qid, i)
            assert math.isclose(float(pdf["score"].iat[i]), oscore, rel_tol=1e-9)


def test_require_under_filtered_retrieval(spark, ridx):
    d, oracle = ridx
    s = IndexSearcher(spark, d)
    # allowed = even doc_ids; require + exclude must still apply
    n = oracle.n_docs
    allowed = spark.range(0, n, 2).select(F.col("id").alias("doc_id"))
    rows = s.search_filtered(_qdf(spark), allowed, k=K).collect()
    got = {}
    for r in rows:
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, question, require, exclude in CASES:
        deep = _oracle_topk_all(oracle, question, require, exclude)
        want = [(d_, s_) for d_, s_ in deep if d_ % 2 == 0][:K]
        have = sorted(got.get(qid, []), key=lambda x: (-x[1], x[0]))
        assert [d_ for d_, _ in have] == [d_ for d_, _ in want], (qid,)


def _oracle_topk_all(oracle, question, require, exclude):
    groups = (
        [atom.replace(",", " ").split() for atom in require.split()]
        if require
        else None
    )
    return oracle.topk_boolean(
        question,
        k=oracle.n_docs,
        require_groups=groups,
        exclude_terms=exclude.split() if exclude else None,
    )


def test_require_with_match_all(spark, ridx):
    """min_match=MATCH_ALL composes with require: strict-AND scoring plus a
    filter group neither term of which is in the question."""
    from colbert_spark.query.wand import MATCH_ALL

    d, oracle = ridx
    s = IndexSearcher(spark, d)
    qdf = spark.createDataFrame(
        [(0, "term00000 term00001", "term00004")],
        "qid long, question string, require string",
    )
    rows = s.search(qdf, k=K, min_match=MATCH_ALL).collect()
    scores = oracle.score_all("term00000 term00001")
    need0 = {doc for doc, _ in oracle.postings["term00000"]}
    need1 = {doc for doc, _ in oracle.postings["term00001"]}
    need4 = {doc for doc, _ in oracle.postings["term00004"]}
    keep = need0 & need1 & need4
    want = sorted(
        ((doc, sc) for doc, sc in scores.items() if doc in keep),
        key=lambda kv: (-kv[1], kv[0]),
    )[:K]
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])] == [
        d_ for d_, _ in want
    ]
