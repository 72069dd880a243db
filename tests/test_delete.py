"""Document deletion (index/delete.py) and expunging compaction.

Contract under test (the Lucene liveDocs / forceMergeDeletes model):

* tombstoned docs vanish from EVERY query path's results (BM25 search,
  filtered, match-set, QL-Dirichlet, phrase) while surviving docs keep
  their exact pre-delete scores — statistics stay encode-time until the
  expunging merge;
* time-travel snapshots show the pre-delete corpus (deletes are not epoch
  commits);
* `compact_index(expunge_deletes=True)` makes the index statistically
  EQUAL to a fresh build over the survivors: same avgdl (exactly — both
  are int/int divisions of identical aggregates), same df, rank/score
  identity under the url mapping (doc_ids are stable in the expunged
  index, renumbered in the fresh one); fsck --deep stays clean and the
  index stays appendable.
"""

import json
import math
import os

import pytest

from colbert_spark.index.build import append_index, build_index
from colbert_spark.index.compact import compact_index
from colbert_spark.index.delete import delete_docs
from colbert_spark.index.inspect import index_fsck
from colbert_spark.query.wand import IndexSearcher

K = 10


@pytest.fixture()
def del_index(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_del"))
    build_index(
        spark, spark.createDataFrame(tiny_corpus), d, bucket_size=127,
        positions=True,
    )
    return d


def test_delete_masks_every_query_path(spark, del_index, tiny_queries):
    qs = spark.createDataFrame(tiny_queries[:10])
    before = IndexSearcher(spark, del_index).search(qs, k=K).collect()
    dead = sorted({r["doc_id"] for r in before})[:7]
    delete_docs(
        spark, del_index,
        spark.createDataFrame([(d,) for d in dead], "doc_id long"),
    )

    s = IndexSearcher(spark, del_index)
    after = s.search(qs, k=K).collect()
    assert all(r["doc_id"] not in dead for r in after)
    # survivors keep their exact pre-delete scores (stats stay encode-time)
    bs = {(r["qid"], r["doc_id"]): r["score"] for r in before}
    assert all(
        abs(bs[(r["qid"], r["doc_id"])] - r["score"]) < 1e-12
        for r in after
        if (r["qid"], r["doc_id"]) in bs
    )
    # time-travel ignores later deletes
    tt = IndexSearcher(spark, del_index, as_of_epoch=0).search(qs, k=K).collect()
    assert {(r["qid"], r["doc_id"]) for r in tt} == {
        (r["qid"], r["doc_id"]) for r in before
    }
    # match set, filtered, QL, phrase
    assert all(
        r["doc_id"] not in dead for r in s.matching_docs(qs).collect()
    )
    allowed = spark.createDataFrame([(d,) for d in range(1000)], "doc_id long")
    assert all(
        r["doc_id"] not in dead
        for r in s.search_filtered(qs, allowed, k=K).collect()
    )
    from colbert_spark.query.lm import lm_topk_segments

    assert all(
        r["doc_id"] not in dead
        for r in lm_topk_segments(spark, del_index, qs, k=K).collect()
    )
    from colbert_spark.query.phrase import PositionalSearcher

    ph = PositionalSearcher(spark, del_index).phrase(
        spark.createDataFrame([(0, "term00001")], "phrase_id long, phrase string")
    )
    assert all(r["doc_id"] not in dead for r in ph.collect())
    # idempotent merge
    delete_docs(
        spark, del_index, spark.createDataFrame([(dead[0],)], "doc_id long")
    )
    st = json.load(open(os.path.join(del_index, "stats.json")))
    assert st["n_deleted"] == len(dead)


def test_expunge_equals_fresh_build(
    spark, del_index, tiny_corpus, tiny_queries, tmp_path_factory
):
    ordered = tiny_corpus.sort_values("url").reset_index(drop=True)
    dead = list(range(0, len(ordered), 3))
    delete_docs(
        spark, del_index,
        spark.createDataFrame([(d,) for d in dead], "doc_id long"),
    )
    st = compact_index(spark, del_index, expunge_deletes=True)
    assert st["live_docs"] == len(ordered) - len(dead)
    assert st["N"] == len(ordered)  # maxDoc: the id space never shrinks
    assert st["n_deleted"] == 0 and "tomb_dir" not in st
    assert index_fsck(spark, del_index, deep=True)["ok"]

    fresh = str(tmp_path_factory.mktemp("idx_fresh"))
    surv = ordered.drop(index=dead).reset_index(drop=True)
    build_index(spark, spark.createDataFrame(surv), fresh, bucket_size=127)
    fst = json.load(open(os.path.join(fresh, "stats.json")))
    assert math.isclose(fst["avgdl"], st["avgdl"], rel_tol=0)

    qs = spark.createDataFrame(tiny_queries[:20])
    a = IndexSearcher(spark, del_index).search(qs, k=K).collect()
    b = IndexSearcher(spark, fresh).search(qs, k=K).collect()
    old2url = dict(enumerate(ordered["url"]))
    new2url = dict(enumerate(surv["url"]))
    ka = sorted(
        (r["qid"], r["rank"], old2url[r["doc_id"]], round(r["score"], 9))
        for r in a
    )
    kb = sorted(
        (r["qid"], r["rank"], new2url[r["doc_id"]], round(r["score"], 9))
        for r in b
    )
    assert ka == kb

    # stays appendable: live_docs tracks, avgdl divides by the live count
    extra = tiny_corpus.iloc[:0]
    from colbert_spark.sources.synth import synth_web_pages

    extra = synth_web_pages(1200).iloc[1000:]
    st2 = append_index(spark, spark.createDataFrame(extra), del_index)
    assert st2["live_docs"] == st["live_docs"] + len(extra)
    assert math.isclose(st2["avgdl"], st2["total_cf"] / st2["live_docs"])
    assert IndexSearcher(spark, del_index).search(qs, k=K).count() > 0


def test_upsert_then_expunge_is_oracle_identical(
    spark, tiny_corpus, tiny_queries, tmp_path_factory
):
    """Update-by-url: modified docs replace their old versions (old masked
    immediately, dropped at expunge; ids stable), new urls insert — and
    after expunge the index is rank- AND score-identical to the pure-Python
    oracle over the FINAL corpus."""
    import pandas as pd

    from colbert_spark.index.delete import upsert_index
    from colbert_spark.oracle import OracleIndex
    from colbert_spark.sources.synth import synth_web_pages

    d = str(tmp_path_factory.mktemp("idx_upsert"))
    build_index(spark, spark.createDataFrame(tiny_corpus), d, bucket_size=127)
    n0 = len(tiny_corpus)
    mod = tiny_corpus.iloc[:40].copy()
    mod["text"] = mod["text"] + " upsertedmarker upsertedmarker"
    new = synth_web_pages(n0 + 15).iloc[n0:]
    st = upsert_index(
        spark, spark.createDataFrame(pd.concat([mod, new], ignore_index=True)), d
    )
    assert st["N"] == n0 + 40 + 15 and st["n_deleted"] == 40

    # only the 40 modified docs contain the marker
    marker = spark.createDataFrame(
        [(0, "upsertedmarker")], "qid long, question string"
    )
    assert IndexSearcher(spark, d).search(marker, k=n0).count() == 40

    st2 = compact_index(spark, d, expunge_deletes=True)
    assert st2["live_docs"] == n0 + 15
    final = pd.concat([tiny_corpus.iloc[40:], mod, new], ignore_index=True)
    ordered = final.sort_values("url").reset_index(drop=True)
    oracle = OracleIndex.build(list(zip(range(len(ordered)), ordered["text"])))
    url_rank = {u: i for i, u in enumerate(ordered["url"])}
    sink = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(os.path.join(d, st2["docs_dir"])).collect()
    }
    qs = tiny_queries[:15]
    res = IndexSearcher(spark, d).search(spark.createDataFrame(qs), k=K).collect()
    byq = {}
    for r in res:
        byq.setdefault(r["qid"], []).append(r)
    for qid, q in zip(qs["qid"], qs["question"]):
        got = sorted(byq.get(qid, []), key=lambda r: r["rank"])
        want = oracle.topk(q, K)
        assert len(got) == len(want)
        if not want:
            continue
        # scores are identical rank-for-rank; doc identity is only
        # well-defined off ties — an upserted doc's STABLE index id no
        # longer follows url order, so the (−score, doc_id) tie-break
        # legitimately permutes equal-scored docs vs the renumbered oracle
        for r, (_, sc) in zip(got, want):
            assert math.isclose(r["score"], sc, rel_tol=1e-9)
        tied = {
            s
            for i, (_, s1) in enumerate(want)
            for j, (_, s2) in enumerate(want)
            if i != j and round(s1, 9) == round(s2, 9)
            for s in (round(s1, 9),)
        }
        tied.add(round(want[-1][1], 9))  # the cut boundary may tie past k
        for r, (oid, sc) in zip(got, want):
            if round(sc, 9) not in tied:
                assert url_rank[sink[r["doc_id"]]] == oid


def test_load_tombstones_equals_spark_read(spark, tmp_path):
    """The driver-side pyarrow read of the tombstone dir returns what the
    Spark read returns — a sorted int64 array, or None for no ids — on an
    empty and on non-empty tombstone sets (`.crc`/`_SUCCESS` files beside
    the parquet part are skipped, as Spark skips them)."""
    import numpy as np

    from colbert_spark.index.build import commit_json
    from colbert_spark.index.delete import load_tombstones

    d = str(tmp_path)
    commit_json(os.path.join(d, "stats.json"), {"N": 1000})
    assert load_tombstones(d, {"N": 1000}) is None  # nothing deleted yet

    def spark_read(stats):
        rows = spark.read.parquet(os.path.join(d, stats["tomb_dir"])).collect()
        if not rows:
            return None
        return np.array(sorted(r["doc_id"] for r in rows), dtype=np.int64)

    for ids in ([], [977, 3, 500, 41], [12, 3, 999]):
        stats = delete_docs(
            spark, d, spark.createDataFrame([(i,) for i in ids], "doc_id long")
        )
        got, want = load_tombstones(d, stats), spark_read(stats)
        names = os.listdir(os.path.join(d, stats["tomb_dir"]))
        assert any(n.startswith((".", "_")) for n in names)
        if want is None:
            assert got is None and not ids
        else:
            assert got.dtype == np.int64
            assert got.tolist() == want.tolist() == sorted(set(want.tolist()))
