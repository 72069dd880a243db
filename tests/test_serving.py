"""Round-3 serving-path and durability regressions.

1. Warm serving fixed cost: after `warm()`, a cache-hot batch schedules ZERO
   dictionary jobs (the round-2 implementation re-scanned the term_dict
   parquet for every batch), term_dict is memory-resident, and results stay
   oracle-identical.
2. `search_filtered` honors boolean must_not (`exclude` column) — previously
   neg_map was silently dropped under filters.
3. `append_index` writes only bucket-grain (kind=0) manifest rows — kind=1
   dictionary partials with null buckets corrupted manifest consumers.
4. `append_index` scrubs orphan files of its own uncommitted epoch before
   encoding, so a crashed attempt retried under a different shuffle-partition
   count cannot duplicate (term, bucket, doc) postings.
5. A pre-segver (v1) index fails at load with a clear rebuild message, not a
   KeyError inside a kernel.
6. First-touch point reads go through the driver-side `SnapshotReader`: it
   lists exactly the files Spark lists for the snapshot, a stale searcher
   never sees a later append, and a first-touch `search_point` touches no
   Spark object at all.
"""

import glob
import json
import math
import os
import shutil
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from colbert_spark.index.build import append_index, build_index
from colbert_spark.oracle import OracleIndex
from colbert_spark.query.wand import IndexSearcher, _split_blocks

K = 10
BLOCK_COLS = [
    "bucket", "term_id", "first_doc", "last_doc", "max_unit",
    "doc_bytes", "tf_bytes", "dl_bytes",
]
EMPTY_POINT = pd.DataFrame(
    {
        "rank": pd.Series([], dtype="int64"),
        "doc_id": pd.Series([], dtype="int64"),
        "score": pd.Series([], dtype="float64"),
    }
)


@pytest.fixture(scope="module")
def sidx(spark, tiny_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_serv"))
    build_index(spark, spark.createDataFrame(tiny_corpus), d, bucket_size=127)
    ordered = tiny_corpus.sort_values("url").reset_index(drop=True)
    oracle = OracleIndex.build(list(zip(range(len(ordered)), ordered["text"])))
    return d, oracle, len(ordered)


def test_warm_cache_hot_batch_schedules_no_dict_jobs(
    spark, sidx, tiny_queries, tmp_path
):
    d, oracle, _ = sidx
    searcher = IndexSearcher(spark, d).warm()
    try:
        # dictionary is resident after warm(): misses hit an
        # InMemoryTableScan, never a parquet FileScan
        assert searcher.term_dict.storageLevel.useMemory
        probe = searcher.term_dict.filter(F.col("term").isin(["zzz"]))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # the executed scan is the in-memory one; any FileScan text below it
        # is just the cached relation's build lineage
        assert "InMemoryTableScan" in plan
        assert plan.index("InMemoryTableScan") < plan.index("FileScan")

        qdf = spark.createDataFrame(tiny_queries[:20])
        r1 = searcher.search(qdf, k=K).collect()
        jobs_after_first = searcher._dict_lookup_jobs
        assert jobs_after_first >= 1  # the misses paid exactly one lookup
        r2 = searcher.search(qdf, k=K).collect()
        # cache-hot: the repeat batch resolved entirely driver-side
        assert searcher._dict_lookup_jobs == jobs_after_first
        key = lambda rows: sorted((r["qid"], r["rank"], r["doc_id"]) for r in rows)
        assert key(r1) == key(r2)
        # and the results are still the oracle's
        by_qid = {}
        for r in r2:
            by_qid.setdefault(r["qid"], []).append(r)
        for qid, q in zip(tiny_queries["qid"][:20], tiny_queries["question"][:20]):
            want = sorted(
                oracle.score_all(q).items(), key=lambda kv: (-kv[1], kv[0])
            )[:K]
            got = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
            assert [r["doc_id"] for r in got] == [doc for doc, _ in want]
            for r, (_, s) in zip(got, want):
                assert math.isclose(r["score"], s, rel_tol=1e-9)
    finally:
        searcher.close()


def test_filtered_search_respects_exclude(spark, sidx, tiny_queries, tiny_corpus):
    """must_not terms apply under filtered retrieval: results equal the
    oracle restricted to (allowed ∖ docs-containing-excluded-terms)."""
    from colbert_spark.functions.tokenizer import py_tokenize

    d, oracle, n = sidx
    ordered = tiny_corpus.sort_values("url").reset_index(drop=True)
    doc_terms = {i: set(py_tokenize(t)) for i, t in enumerate(ordered["text"])}
    allowed = set(range(0, n, 2))
    qs = tiny_queries[:8].copy()
    # exclude the first token of the NEXT query — guaranteed in-vocabulary
    qs["exclude"] = [
        py_tokenize(q)[0] for q in tiny_queries["question"][1:9]
    ]
    qdf = spark.createDataFrame(qs)
    allowed_df = spark.createDataFrame([(int(x),) for x in allowed], "doc_id long")
    rows = IndexSearcher(spark, d).search_filtered(qdf, allowed_df, k=K).collect()
    by_qid = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(r)
    for qid, q, ex in zip(qs["qid"], qs["question"], qs["exclude"]):
        ok = {
            doc
            for doc in allowed
            if ex not in doc_terms[doc]
        }
        want = sorted(
            ((doc, s) for doc, s in oracle.score_all(q).items() if doc in ok),
            key=lambda kv: (-kv[1], kv[0]),
        )[:K]
        got = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in got] == [doc for doc, _ in want], f"qid={qid}"
        for r, (_, s) in zip(got, want):
            assert math.isclose(r["score"], s, rel_tol=1e-9)


def _mini_pages(spark, lo, hi):
    rows = [
        (
            f"https://ex.com/{i:04d}",
            f"alpha beta doc {i} " + ("gamma " * (i % 3)),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_append_manifest_has_only_bucket_rows(spark, tmp_path):
    d = str(tmp_path / "idx_app_manifest")
    build_index(spark, _mini_pages(spark, 0, 300), d, bucket_size=64)
    append_index(spark, _mini_pages(spark, 300, 450), d)
    man = spark.read.parquet(os.path.join(d, "manifest"))
    rows = man.collect()
    assert all(r["bucket"] is not None for r in rows), rows
    assert all(r["status"] == "done" for r in rows)
    # postings across manifest rows == Σ df over the dictionary (a posting
    # is one (term, doc) pair; total_cf counts occurrences, which exceed
    # postings whenever a term repeats within a doc)
    with open(os.path.join(d, "stats.json")) as f:
        stats = json.load(f)
    total_df = (
        spark.read.parquet(os.path.join(d, stats.get("dict_dir", "term_dict")))
        .agg(F.sum("df"))
        .collect()[0][0]
    )
    assert sum(r["n_postings"] for r in rows) == total_df
    # manifest consumers see integer buckets only (the null-bucket kind=1
    # rows ADVICE described would make this sort/compare crash on None)
    assert all(isinstance(r["bucket"], int) for r in rows)


def test_append_scrubs_crashed_epoch_orphans(spark, tmp_path, tiny_queries):
    """Plant fake segment/docs files tagged with the about-to-run epoch (a
    crashed attempt under a DIFFERENT partition count); append must remove
    them and produce an index rank-identical to a fresh build. The second
    input is a 2-epoch index compacted with preserve_epochs=True: compaction
    writes every epoch's blocks to one `p*.e0.parquet` per cell, so the
    scrub must remove only the orphan, never compacted data."""
    from colbert_spark.index.compact import compact_index

    qdf = spark.createDataFrame(
        [(0, "alpha gamma"), (1, "beta doc 0301")], "qid long, question string"
    )
    key = lambda rows: sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in rows
    )
    for compacted in (False, True):
        d = str(tmp_path / f"idx_app_scrub_{int(compacted)}")
        build_index(spark, _mini_pages(spark, 0, 300), d, bucket_size=64)
        lo = 300
        if compacted:
            append_index(spark, _mini_pages(spark, 300, 450), d)
            compact_index(spark, d, preserve_epochs=True)
            lo = 450
        stats = json.load(open(os.path.join(d, "stats.json")))
        seg = os.path.join(d, stats["seg_dir"])
        epoch = stats["epochs"]
        kept = glob.glob(os.path.join(seg, "**", "*.parquet"), recursive=True)
        orphan_seg = os.path.join(seg, "bucket=0", "tshard=0",
                                  f"p999999.e{epoch}.parquet")
        orphan_doc = os.path.join(d, "docs", f"p999999.e{epoch}.parquet")
        # duplicate a REAL e0 file under the orphan name: schema-valid, so if
        # the scrub regressed the reader would double-count these postings
        src = glob.glob(os.path.join(seg, "bucket=0", "tshard=0",
                                     "*.e0.parquet"))[0]
        shutil.copy(src, orphan_seg)
        shutil.copy(glob.glob(os.path.join(d, "docs", "*.parquet"))[0], orphan_doc)
        # a searcher opened before the scrub lists the orphans exactly as
        # Spark does
        _assert_reader_lists_spark_files(spark, IndexSearcher(spark, d))
        append_index(spark, _mini_pages(spark, lo, lo + 150), d)
        assert not os.path.exists(orphan_seg)
        assert not os.path.exists(orphan_doc)
        assert all(os.path.exists(f) for f in kept)

        fresh = str(tmp_path / f"idx_fresh_{int(compacted)}")
        build_index(spark, _mini_pages(spark, 0, lo + 150), fresh, bucket_size=64)
        a = IndexSearcher(spark, d).search(qdf, k=K).collect()
        b = IndexSearcher(spark, fresh).search(qdf, k=K).collect()
        assert key(a) == key(b), f"compacted={compacted}"
        # and the point path reads the scrubbed files the same way
        pt = IndexSearcher(spark, d)
        for qid, q in ((0, "alpha gamma"), (1, "beta doc 0301")):
            got = [
                (qid, int(r.rank), int(r.doc_id), round(r.score, 9))
                for r in pt.search_point(q, k=K).itertuples()
            ]
            assert got == [x for x in key(b) if x[0] == qid], (compacted, q)


def test_v1_index_fails_load_with_clear_error(spark, tmp_path):
    d = str(tmp_path / "idx_v1")
    os.makedirs(d)
    with open(os.path.join(d, "stats.json"), "w") as f:
        json.dump({"N": 10, "avgdl": 5.0, "k1": 0.9, "b": 0.4}, f)  # no segver
    with pytest.raises(ValueError, match="segver|rebuild"):
        IndexSearcher(spark, d)


def test_point_query_rank_identity_and_cache_hot_zero_jobs(
    spark, sidx, tiny_queries
):
    """search_point (driver-resident point serving) must be rank-identical
    to the distributed search() on the same snapshot, and a cache-hot
    repeat must schedule ZERO Spark jobs (neither dictionary lookups nor
    block fetches) — the reference's resident-server contract."""
    import time

    d, oracle, _ = sidx
    searcher = IndexSearcher(spark, d).warm()
    try:
        qdf = spark.createDataFrame(tiny_queries[:20])
        dist = {}
        for r in searcher.search(qdf, k=K).collect():
            dist.setdefault(r["qid"], []).append(r)
        for qid, q in zip(tiny_queries["qid"][:20], tiny_queries["question"][:20]):
            pt = searcher.search_point(q, k=K)
            exp = sorted(dist.get(qid, []), key=lambda r: r["rank"])
            assert len(pt) == len(exp), f"qid={qid}"
            for row, er in zip(pt.itertuples(), exp):
                assert row.doc_id == er["doc_id"], f"qid={qid}"
                assert math.isclose(row.score, er["score"], rel_tol=1e-12)

        # cache-hot: repeat every query; counters must not move and the
        # whole 20-query sweep must be driver-speed (no job scheduling)
        dict_jobs = searcher._dict_lookup_jobs
        fetch_jobs = searcher._block_fetch_jobs
        t0 = time.perf_counter()
        for q in tiny_queries["question"][:20]:
            searcher.search_point(q, k=K)
        dt = time.perf_counter() - t0
        assert searcher._dict_lookup_jobs == dict_jobs
        assert searcher._block_fetch_jobs == fetch_jobs
        assert dt < 2.0, f"20 cache-hot point queries took {dt:.2f}s"
    finally:
        searcher.close()


def test_point_query_absent_and_exclude(spark, sidx):
    d, oracle, _ = sidx
    searcher = IndexSearcher(spark, d)
    try:
        assert len(searcher.search_point("zzqqxplugh", k=K)) == 0
        assert len(searcher.search_point("...,,,", k=K)) == 0
        # must_not parity with the distributed exclude column
        base = searcher.search_point("term00001 term00002", k=K)
        negged = searcher.search_point(
            "term00001 term00002", k=K, exclude="term00003"
        )
        qdf = spark.createDataFrame(
            [(0, "term00001 term00002", "term00003")],
            "qid long, question string, exclude string",
        )
        dist = sorted(
            searcher.search(qdf, k=K).collect(), key=lambda r: r["rank"]
        )
        assert [int(x) for x in negged["doc_id"]] == [r["doc_id"] for r in dist]
        assert len(base) >= len(negged)
    finally:
        searcher.close()


def test_point_query_respects_small_tombstones(spark, tiny_corpus, tmp_path):
    from colbert_spark.index.delete import delete_docs

    d = str(tmp_path / "idx_pt_del")
    build_index(spark, spark.createDataFrame(tiny_corpus), d, bucket_size=127)
    s0 = IndexSearcher(spark, d)
    top = s0.search_point("term00001", k=3)
    assert len(top) > 0
    victim_doc = int(top["doc_id"].iloc[0])
    delete_docs(
        spark, d, spark.createDataFrame([(victim_doc,)], "doc_id long")
    )
    s1 = IndexSearcher(spark, d)
    after = s1.search_point("term00001", k=K)
    assert victim_doc not in set(int(x) for x in after["doc_id"])
    # parity with the distributed path post-delete
    qdf = spark.createDataFrame([(0, "term00001")], "qid long, question string")
    dist = sorted(s1.search(qdf, k=K).collect(), key=lambda r: r["rank"])
    assert [int(x) for x in after["doc_id"]] == [r["doc_id"] for r in dist]


def test_large_batch_distributed_resolution_parity(spark, sidx, tiny_queries):
    """Above resolve_collect_max the searcher resolves via distributed JVM
    tokenization (the driver never holds question strings); results must be
    identical to the driver-tokenized path, including must_not terms."""
    d, oracle, _ = sidx
    s = IndexSearcher(spark, d)
    try:
        qdf = spark.createDataFrame(tiny_queries[:25]).withColumn(
            "exclude",
            F.when(F.col("qid") % 5 == 0, F.lit("term00003")).otherwise(
                F.lit(None).cast("string")
            ),
        )
        base = sorted(
            (r["qid"], r["rank"], r["doc_id"], r["score"])
            for r in s.search(qdf, k=K).collect()
        )
        s.resolve_collect_max = 1  # force the distributed branch
        via_dist = sorted(
            (r["qid"], r["rank"], r["doc_id"], r["score"])
            for r in s.search(qdf, k=K).collect()
        )
        assert via_dist == base
        # strict-AND goes through the same resolver (n_tokens parity)
        base_and = sorted(
            (r["qid"], r["doc_id"])
            for r in s.search(
                spark.createDataFrame(tiny_queries[:10]), k=K, min_match=-1
            ).collect()
        )
        s.resolve_collect_max = 10_000
        and_driver = sorted(
            (r["qid"], r["doc_id"])
            for r in s.search(
                spark.createDataFrame(tiny_queries[:10]), k=K, min_match=-1
            ).collect()
        )
        assert base_and == and_driver
    finally:
        s.close()


def test_point_head_term_fetch_bound_falls_back(spark, sidx, tiny_queries):
    """A head term whose compressed postings would exceed
    `point_fetch_max_bytes` must NEVER be collected to the driver: the point
    path degrades to the distributed search() (exact, rank-identical) and
    the block cache stays empty of that term — the graceful-degrade contract
    for web-scale df 10^9 terms."""
    d, oracle, _ = sidx
    s = IndexSearcher(spark, d)
    try:
        q = "term00001 term00002"
        want = s.search_point(q, k=K)  # normal path, warm baseline
        s2 = IndexSearcher(spark, d)
        s2.point_fetch_max_bytes = 1  # every term is now a "head term"
        got = s2.search_point(q, k=K)
        assert s2._block_fetch_jobs == 0  # the collect never happened
        assert len(s2._block_cache) == 0
        assert [int(x) for x in got["doc_id"]] == [int(x) for x in want["doc_id"]]
        for gs, ws in zip(got["score"], want["score"]):
            assert math.isclose(float(gs), float(ws), rel_tol=1e-9)
        # and the bound is per-FETCH estimate, not a blanket off-switch:
        # a generous bound takes the resident path again
        s2.point_fetch_max_bytes = 1 << 30
        again = s2.search_point(q, k=K)
        assert s2._block_fetch_jobs == 1
        assert [int(x) for x in again["doc_id"]] == [int(x) for x in want["doc_id"]]
        s2.close()
    finally:
        s.close()


def test_point_pruned_path_rank_and_score_identity(spark, sidx, tiny_queries):
    """The block-max pruned point path (head-term regime, forced here with
    point_prune_min_postings=0) must be rank- AND score-identical to the
    distributed search() — same exactness contract as the dense point pass —
    and the decode counters must show whole blocks skipped (the pruning
    win)."""
    d, oracle, _ = sidx
    s = IndexSearcher(spark, d).warm()
    try:
        s.point_prune_min_postings = 0  # every point query takes θ pruning
        qdf = spark.createDataFrame(tiny_queries[:20])
        dist = {}
        for r in s.search(qdf, k=K).collect():
            dist.setdefault(r["qid"], []).append(r)
        for qid, q in zip(tiny_queries["qid"][:20], tiny_queries["question"][:20]):
            pt = s.search_point(q, k=K)
            exp = sorted(dist.get(qid, []), key=lambda r: r["rank"])
            assert len(pt) == len(exp), f"qid={qid}"
            for row, er in zip(pt.itertuples(), exp):
                assert row.doc_id == er["doc_id"], f"qid={qid}"
                assert math.isclose(row.score, er["score"], rel_tol=1e-12)
        st = s.point_prune_stats
        # every query that reached the scorer took the pruned path (queries
        # whose tokens are all OOV return empty before scoring)
        assert st["queries_pruned"] >= 1
        assert st["queries_dense"] == 0
        # θ pruning must actually skip blocks across the sweep
        assert st["blocks_decoded"] < st["blocks_seen"], st
        # oversized k: exactly the match set, nothing lost to pruning
        q0 = tiny_queries["question"][0]
        big = s.search_point(q0, k=10_000)
        full = {doc for doc, _ in oracle.score_all(q0).items()}
        assert set(int(x) for x in big["doc_id"]) == full
    finally:
        s.close()


def test_point_pruned_gate_masks_route_dense(spark, sidx, tiny_queries):
    """exclude/require and sub-gate queries must take the dense pass (θ
    pruning is unsound under masks, and below the df gate dense-cached wins);
    masked results stay parity-exact either way."""
    d, oracle, _ = sidx
    s = IndexSearcher(spark, d)
    try:
        s.point_prune_min_postings = 0
        base = s.point_prune_stats["queries_dense"]
        s.search_point("term00001 term00002", k=K, exclude="term00003")
        s.search_point("term00001 term00002", k=K, require="term00002")
        assert s.point_prune_stats["queries_dense"] == base + 2
        pruned_before = s.point_prune_stats["queries_pruned"]
        s.point_prune_min_postings = 1 << 60  # gate everything back to dense
        s.search_point("term00001 term00002", k=K)
        assert s.point_prune_stats["queries_pruned"] == pruned_before
        assert s.point_prune_stats["queries_dense"] == base + 3
    finally:
        s.close()


def test_point_concurrent_clients_rank_identical(spark, sidx, tiny_queries):
    """One resident IndexSearcher answering 8 overlapping clients: every
    answer must equal the single-threaded baseline, and the caches must not
    corrupt (the reference's Listener accept loop implies concurrency;
    dense_server_client.py:21-66)."""
    import threading

    d, oracle, _ = sidx
    s = IndexSearcher(spark, d).warm()
    try:
        questions = list(tiny_queries["question"][:10])
        baseline = {
            q: [(int(r.doc_id), round(float(r.score), 12))
                for r in s.search_point(q, k=K).itertuples()]
            for q in questions
        }
        errors = []
        def client(offset):
            try:
                for i in range(20):
                    q = questions[(i + offset) % len(questions)]
                    got = [
                        (int(r.doc_id), round(float(r.score), 12))
                        for r in s.search_point(q, k=K).itertuples()
                    ]
                    assert got == baseline[q], q
            except Exception as e:
                errors.append(e)
        threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors[:1]
        # budget accounting stayed consistent under contention
        assert s._block_cache_bytes >= 0
    finally:
        s.close()


def test_point_empty_exits_return_canonical_frame(spark, sidx):
    """Every empty exit of search_point returns the same frame as a
    non-empty one: rank/doc_id/score int64/int64/float64 over a RangeIndex
    — blank, all-OOV, fully-OOV require group, exclude removing every
    match, and the distributed fallback."""
    d, _, _ = sidx
    s = IndexSearcher(spark, d)
    fb = IndexSearcher(spark, d)
    try:
        cases = [
            ("", {}),
            ("...,,,", {}),
            ("zzqqxplugh", {}),
            ("term00001", {"require": "zzqqxplugh"}),
            ("term00001", {"exclude": "term00001"}),
        ]
        for q, kw in cases:
            got = s.search_point(q, k=K, **kw)
            pd.testing.assert_frame_equal(
                got, EMPTY_POINT, check_index_type=True, obj=f"{q!r} {kw}"
            )
        fb.point_fetch_max_bytes = 1  # every term degrades to search()
        got = fb.search_point("term00001", k=K, exclude="term00001")
        assert fb._block_fetch_jobs == 0 and not fb._block_cache
        pd.testing.assert_frame_equal(got, EMPTY_POINT, check_index_type=True)
        # a non-empty answer has the same dtypes and index type
        hit = s.search_point("term00001", k=K)
        assert len(hit) > 0
        pd.testing.assert_frame_equal(
            hit.iloc[:0], EMPTY_POINT, check_index_type=True
        )
    finally:
        s.close()
        fb.close()


def test_split_blocks_matches_mask_slice():
    """The per-term split of a collected block table equals a boolean mask
    slice per term — row order, dtypes, index and byte count — on rows
    whose terms interleave."""
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame(
        {
            "bucket": rng.integers(0, 4, n).astype(np.int32),
            "term_id": rng.integers(0, 40, n),
            "first_doc": rng.integers(0, 10_000, n),
            "max_unit": rng.random(n),
            "doc_bytes": [bytes(rng.integers(0, 256, i % 9)) for i in range(n)],
        }
    )
    tids = [int(t) for t in rng.permutation(45)]  # 40..44 have no rows
    for table in (pdf, pdf.iloc[:0]):  # a collect may return no rows
        out = _split_blocks(table, tids)
        assert list(out) == tids
        for t in tids:
            want = table[table["term_id"] == t].reset_index(drop=True)
            sub, nb = out[t]
            pd.testing.assert_frame_equal(sub, want, check_index_type=True)
            assert nb == int(want.memory_usage(deep=True).sum())


def test_prefetch_point_frames_match_mask_slice(spark, sidx):
    """prefetch_point installs, per term, exactly the rows a boolean mask
    slice of the Spark-collected block table gives, in (bucket, first_doc)
    order, with their byte counts. (The reference is sorted because a
    collect's row order is Spark's partition order; the snapshot reader's
    frames are sorted by (term_id, bucket, first_doc).)"""
    d, _, _ = sidx
    s = IndexSearcher(spark, d).warm()
    try:
        n = s.prefetch_point()
        assert n == len(s._block_cache) > 0
        ref = (
            s._warm.filter(F.col("term_id").isin(list(s._block_cache)))
            .select(*BLOCK_COLS)
            .toPandas()
        )
        total = 0
        for t, (sub, nb) in s._block_cache.items():
            want = (
                ref[ref["term_id"] == t]
                .sort_values(["bucket", "first_doc"])
                .reset_index(drop=True)
            )
            pd.testing.assert_frame_equal(sub, want, check_index_type=True)
            assert nb == int(want.memory_usage(deep=True).sum())
            total += nb
        assert s._block_cache_bytes == total
    finally:
        s.close()


def test_prefetch_point_then_search_point_schedules_no_fetch(
    spark, sidx, tiny_queries
):
    """After prefetch_point, search_point answers as a fresh searcher does,
    and prefetched terms schedule no block-fetch job."""
    d, _, _ = sidx
    s = IndexSearcher(spark, d).warm()
    fresh = IndexSearcher(spark, d)
    try:
        s.prefetch_point()
        jobs = s._block_fetch_jobs
        for q in tiny_queries["question"][:20]:
            pd.testing.assert_frame_equal(
                s.search_point(q, k=K), fresh.search_point(q, k=K), obj=q
            )
        assert s._block_fetch_jobs == jobs
    finally:
        s.close()
        fresh.close()


def test_prefetch_point_collect_does_not_block_hot_queries(
    spark, sidx, tiny_queries, monkeypatch
):
    """prefetch_point collects outside the point lock: while its block
    collect is stalled, a cache-hot search_point on another thread still
    answers."""
    import threading

    d, _, _ = sidx
    s = IndexSearcher(spark, d).warm()
    q = tiny_queries["question"][0]
    want = s.search_point(q, k=K)  # q's terms are now resident
    entered, release = threading.Event(), threading.Event()
    collect = s._collect_blocks

    def stalled_collect(term_ids):
        entered.set()
        release.wait(120)
        return collect(term_ids)

    monkeypatch.setattr(s, "_collect_blocks", stalled_collect)
    prefetch = threading.Thread(target=s.prefetch_point)
    prefetch.start()
    try:
        assert entered.wait(120), "prefetch_point never reached its collect"
        got = []
        hot = threading.Thread(target=lambda: got.append(s.search_point(q, k=K)))
        hot.start()
        hot.join(10)
        assert not hot.is_alive(), "hot search_point waited on the collect"
        pd.testing.assert_frame_equal(got[0], want)
    finally:
        release.set()
        prefetch.join(120)
        s.close()
    assert not prefetch.is_alive()


def _files(paths) -> set[str]:
    return {os.path.normpath(unquote(urlparse(p).path)) for p in paths}


def _assert_reader_lists_spark_files(spark, s: IndexSearcher) -> None:
    """The snapshot reader's segment, dictionary and docs file sets equal
    the ones Spark listed for the same searcher."""
    r = s._reader
    assert _files(r.segments.files) == _files(s.segments.inputFiles())
    assert _files(r.term_dict.files) == _files(s.term_dict.inputFiles())
    docs = os.path.join(s.index_dir, s.stats.get("docs_dir", "docs"))
    assert _files(r.docs.files) == _files(spark.read.parquet(docs).inputFiles())


@pytest.fixture(scope="module")
def snapshots(spark, tiny_corpus, sidx, tmp_path_factory):
    """name → (index dir, as_of_epoch): a plain build, an appended index
    (live and as of epoch 0), a small-tombstone copy of it, and a copy
    compacted with its deletes expunged."""
    from colbert_spark.index.compact import compact_index
    from colbert_spark.index.delete import delete_docs

    root = tmp_path_factory.mktemp("idx_snap")
    app, tomb, comp = (str(root / n) for n in ("app", "tomb", "comp"))
    cut = len(tiny_corpus) * 7 // 10
    build_index(
        spark, spark.createDataFrame(tiny_corpus.iloc[:cut]), app,
        bucket_size=127,
    )
    append_index(spark, spark.createDataFrame(tiny_corpus.iloc[cut:]), app)
    shutil.copytree(app, tomb)
    victims = spark.createDataFrame([(i,) for i in range(0, 1000, 37)], "doc_id long")
    delete_docs(spark, tomb, victims)
    shutil.copytree(tomb, comp)
    compact_index(spark, comp, expunge_deletes=True)
    return {
        "live": (sidx[0], None),
        "appended": (app, None),
        "as_of_0": (app, 0),
        "tombstoned": (tomb, None),
        "compacted": (comp, None),
    }


SNAPSHOTS = ["live", "appended", "as_of_0", "tombstoned", "compacted"]


@pytest.mark.parametrize("snap", SNAPSHOTS)
def test_snapshot_reader_lists_spark_file_set(spark, snapshots, snap):
    d, epoch = snapshots[snap]
    _assert_reader_lists_spark_files(spark, IndexSearcher(spark, d, as_of_epoch=epoch))


def test_stale_searcher_point_read_ignores_later_append(spark, tmp_path):
    """A searcher is the snapshot it was opened on: after an append, its
    first-touch search_point still equals its own search() and the
    pre-append answer — the reader lists files at construction, as
    Spark does, not at the first lookup."""
    d = str(tmp_path / "idx_stale")
    build_index(spark, _mini_pages(spark, 0, 300), d, bucket_size=64)
    q = "gamma alpha"
    before = IndexSearcher(spark, d).search_point(q, k=1000)
    s = IndexSearcher(spark, d)
    append_index(spark, _mini_pages(spark, 300, 450), d)
    got = s.search_point(q, k=1000)
    assert len(got) == 300 and int(got["doc_id"].max()) < 300
    pd.testing.assert_frame_equal(got, before)
    qdf = spark.createDataFrame([(0, q)], "qid long, question string")
    dist = sorted(s.search(qdf, k=1000).collect(), key=lambda r: r["rank"])
    assert [int(x) for x in got["doc_id"]] == [r["doc_id"] for r in dist]


class _NoSpark:
    """Stands in for a searcher's Spark objects: any use raises."""

    def __init__(self, name: str):
        self._name = name

    def __getattr__(self, attr):
        raise AssertionError(f"first-touch point read used {self._name}.{attr}")


@pytest.mark.parametrize("snap", SNAPSHOTS)
def test_first_touch_point_reads_need_no_spark(spark, snapshots, snap, tiny_queries):
    """On a fresh searcher with its Spark session and DataFrames replaced by
    sentinels, first-touch search_point answers every query class (head,
    tail, mixed, duplicate, absent term; must_not; require) exactly as
    search() on an untouched twin searcher: rank, doc_id, score to rel
    1e-9."""
    d, epoch = snapshots[snap]
    qs = [(q, None, None) for q in tiny_queries["question"][:10]]
    qs += [
        ("term00001 term00002", "term00003", None),
        ("term00001 term00002", None, "term00002"),
    ]
    qdf = spark.createDataFrame(
        [(i, q, ex, rq) for i, (q, ex, rq) in enumerate(qs)],
        "qid long, question string, exclude string, require string",
    )
    want: dict[int, list] = {}
    twin = IndexSearcher(spark, d, as_of_epoch=epoch)
    for r in sorted(twin.search(qdf, k=K).collect(), key=lambda r: r["rank"]):
        want.setdefault(r["qid"], []).append(r)
    s = IndexSearcher(spark, d, as_of_epoch=epoch)
    for attr in ("spark", "segments", "term_dict"):
        setattr(s, attr, _NoSpark(attr))
    for i, (q, ex, rq) in enumerate(qs):
        got = s.search_point(q, k=K, exclude=ex, require=rq)
        exp = want.get(i, [])
        assert list(got["rank"]) == [r["rank"] for r in exp], (snap, q)
        assert list(got["doc_id"]) == [r["doc_id"] for r in exp], (snap, q)
        for gs, r in zip(got["score"], exp):
            assert math.isclose(gs, r["score"], rel_tol=1e-9), (snap, q)
    # the reads happened, through the reader (miss counters moved)
    assert s._dict_lookup_jobs >= 1 and s._block_fetch_jobs >= 1
