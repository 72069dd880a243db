"""Sharded scatter-gather search (query/wand.py:sharded_bm25_topk): per-shard
top-k priced with GLOBAL statistics must merge to the single-index ranking
exactly — including when shards are deliberately UNEQUAL (different N, avgdl,
df per term), which is where shard-local pricing would diverge."""

import math

import pytest

from colbert_spark.index.build import build_index
from colbert_spark.query.wand import bm25_topk_segments, sharded_bm25_topk


@pytest.fixture(scope="module")
def uneven_shards(spark, tiny_corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("sharded")
    pdf = tiny_corpus
    cut = len(pdf) // 5  # 1:4 split — shard stats differ materially
    a, b_, whole = str(base / "a"), str(base / "b"), str(base / "whole")
    build_index(spark, spark.createDataFrame(pdf.iloc[:cut]), a, bucket_size=53)
    build_index(spark, spark.createDataFrame(pdf.iloc[cut:]), b_, bucket_size=97)
    build_index(spark, spark.createDataFrame(pdf), whole, bucket_size=97)
    return a, b_, whole


def test_sharded_matches_single_index(spark, uneven_shards, tiny_queries):
    a, b_, whole = uneven_shards
    q = spark.createDataFrame(tiny_queries)
    got = sharded_bm25_topk(spark, [a, b_], q, k=10).collect()
    want = bm25_topk_segments(spark, whole, q, k=10).collect()
    wurl = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(whole + "/docs").collect()
    }

    def bykey(rows, urlcol):
        out = {}
        for r in rows:
            out.setdefault(r["qid"], []).append(r)
        return {
            k: [(urlcol(r), r["score"]) for r in sorted(v, key=lambda r: r["rank"])]
            for k, v in out.items()
        }

    g = bykey(got, lambda r: r["url"])
    w = bykey(want, lambda r: wurl[r["doc_id"]])
    assert g.keys() == w.keys() and g
    for qid in w:
        assert [u for u, _ in g[qid]] == [u for u, _ in w[qid]], qid
        for (_, gs), (_, ws) in zip(g[qid], w[qid]):
            assert math.isclose(gs, ws, rel_tol=1e-9), qid


def test_sharded_refuses_mixed_analyzers(spark, tmp_path):
    import pandas as pd

    pages_a = pd.DataFrame({"url": ["a0"], "text": ["tables join"]})
    pages_b = pd.DataFrame({"url": ["b0"], "text": ["table joins"]})
    a, b_ = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, spark.createDataFrame(pages_a), a, bucket_size=1)
    build_index(
        spark, spark.createDataFrame(pages_b), b_, bucket_size=1,
        analyzer="s_stem",
    )
    q = spark.createDataFrame([(0, "table")], "qid long, question string")
    with pytest.raises(ValueError, match="analyzer"):
        sharded_bm25_topk(spark, [a, b_], q)


def test_sharded_searcher_point_matches_batch(spark, uneven_shards, tiny_queries):
    """Point-serving federation (ShardedSearcher.search_point) must be
    rank-identical — urls AND scores — to the batch federation over the same
    shards, and a repeated question must schedule zero Spark jobs on every
    shard (resident caches stay warm across queries because global df is
    resolved once per term, never re-priced)."""
    from colbert_spark.query.wand import ShardedSearcher

    a, b_, _ = uneven_shards
    svc = ShardedSearcher(spark, [a, b_])
    try:
        q = spark.createDataFrame(tiny_queries[:15])
        batch = {}
        for r in svc.search(q, k=10).collect():
            batch.setdefault(r["qid"], []).append(r)
        for qid, question in zip(
            tiny_queries["qid"][:15], tiny_queries["question"][:15]
        ):
            pt = svc.search_point(question, k=10)
            exp = sorted(batch.get(qid, []), key=lambda r: r["rank"])
            assert len(pt) == len(exp), f"qid={qid}"
            for row, er in zip(pt.itertuples(), exp):
                assert row.url == er["url"], f"qid={qid}"
                assert math.isclose(row.score, er["score"], rel_tol=1e-9)

        # cache-hot federation: counters frozen on every shard
        jobs = [
            (s._dict_lookup_jobs, s._block_fetch_jobs) for s in svc.searchers
        ]
        for question in tiny_queries["question"][:15]:
            svc.search_point(question, k=10)
        assert jobs == [
            (s._dict_lookup_jobs, s._block_fetch_jobs) for s in svc.searchers
        ]

        # an all-OOV question: the 5-column empty frame
        none = svc.search_point("zzqqxplugh", k=10)
        assert len(none) == 0
        assert list(none.dtypes.astype(str).items()) == [
            ("rank", "int64"), ("url", "object"), ("score", "float64"),
            ("shard", "int64"), ("doc_id", "int64"),
        ]
    finally:
        svc.close()


def test_sharded_large_batch_never_collects_questions(
    spark, uneven_shards, tiny_queries, monkeypatch
):
    """A federated batch past resolve_collect_max must resolve DISTRIBUTED:
    the driver never materializes a question string. Asserted by poisoning
    the driver-side tokenizer — executors run in separate processes, so only
    a driver-side collect-and-tokenize would trip it."""
    import colbert_spark.functions.analyzer as analyzer_mod
    import colbert_spark.query.wand as wand_mod
    from colbert_spark.query.wand import ShardedSearcher, bm25_topk_segments

    a, b_, whole = uneven_shards
    svc = ShardedSearcher(spark, [a, b_])
    try:
        for s in svc.searchers:
            s.resolve_collect_max = 5  # force the distributed path
        def _poisoned(text):
            raise AssertionError("driver tokenized a question string")
        monkeypatch.setattr(wand_mod, "py_tokenize", _poisoned)
        monkeypatch.setattr(analyzer_mod, "py_analyze", _poisoned)
        q = spark.createDataFrame(tiny_queries)  # 50 rows > 5
        got = svc.search(q, k=10).collect()
    finally:
        monkeypatch.undo()
        svc.close()
    want = bm25_topk_segments(spark, whole, spark.createDataFrame(tiny_queries), k=10).collect()
    wurl = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(whole + "/docs").collect()
    }
    def bykey(rows, urlcol):
        out = {}
        for r in rows:
            out.setdefault(r["qid"], []).append(r)
        return {
            k: [(urlcol(r), round(r["score"], 9))
                for r in sorted(v, key=lambda r: r["rank"])]
            for k, v in out.items()
        }
    g = bykey(got, lambda r: r["url"])
    w = bykey(want, lambda r: wurl[r["doc_id"]])
    assert g == w and g


def test_sharded_point_concurrent_storm(spark, uneven_shards, tiny_queries):
    """N concurrent clients hammering the SAME resident federation must get
    bit-identical results to a single-threaded sweep — the searcher cache
    locks (term LRU, block LRU, decoded-term budget, url LRU) hold under
    contention."""
    import threading

    from colbert_spark.query.wand import ShardedSearcher

    a, b_, _ = uneven_shards
    svc = ShardedSearcher(spark, [a, b_])
    try:
        questions = list(tiny_queries["question"][:12])
        baseline = {
            q: [(r.url, round(r.score, 12)) for r in svc.search_point(q, k=10).itertuples()]
            for q in questions
        }
        errors = []
        def client(offset):
            try:
                for i in range(len(questions) * 2):
                    q = questions[(i + offset) % len(questions)]
                    got = [
                        (r.url, round(r.score, 12))
                        for r in svc.search_point(q, k=10).itertuples()
                    ]
                    assert got == baseline[q], q
            except Exception as e:  # surface across the thread boundary
                errors.append(e)
        threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors[:1]
    finally:
        svc.close()


def test_sharded_query_strings_match_single_index(spark, uneven_shards):
    """Query-string federation (`ShardedSearcher.search_strings`): boolean,
    boost, wildcard and range clauses priced with global statistics must
    reproduce the single-whole-index `search_query_strings` ranking exactly
    — including a wildcard whose expansions differ per shard dictionary and
    a required group present on only one shard."""
    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher, ShardedSearcher

    a, b_, whole = uneven_shards
    qs = [
        (0, "term00000 term00003"),
        (1, "term00000 +term00002 -term00009"),
        (2, "term00001^2 term0000*"),
        (3, "[term00003 TO term00006]"),
        (4, "term00000 +zzz*"),  # dead on every shard
    ]
    sh = ShardedSearcher(spark, [a, b_])
    got = sh.search_strings(qs, k=10).collect()
    s1 = IndexSearcher(spark, whole)
    want = search_query_strings(s1, qs, k=10).collect()
    wurl = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(whole + "/docs").collect()
    }
    g, w = {}, {}
    for r in got:
        g.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    for r in want:
        w.setdefault(r["qid"], []).append(
            (r["rank"], wurl[r["doc_id"]], r["score"])
        )
    assert 4 not in g and 4 not in w  # dead required wildcard: no rows
    assert g.keys() == w.keys() and g
    import math

    for qid in w:
        gs, ws = sorted(g[qid]), sorted(w[qid])
        assert [u for _, u, _ in gs] == [u for _, u, _ in ws], qid
        for (_, _, a_s), (_, _, b_s) in zip(gs, ws):
            assert math.isclose(a_s, b_s, rel_tol=1e-9), qid
    sh.close()


def test_sharded_query_strings_fuzzy_match_single_index(spark, uneven_shards):
    """Fuzzy clauses federate exactly: each `term~N` expands against the
    UNION of the shard dictionaries and prices with global df, so the
    2-shard ranking equals the single-whole-index ranking."""
    import math

    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher, ShardedSearcher

    a, b_, whole = uneven_shards
    qs = [
        (0, "term00042~1"),                # scored fuzzy expansion
        (1, "term00007 +term00042~1"),     # required fuzzy group
        (2, "term00007 -term00042~1"),     # excluded fuzzy
    ]
    sh = ShardedSearcher(spark, [a, b_])
    got = sh.search_strings(qs, k=10).collect()
    s1 = IndexSearcher(spark, whole)
    want = search_query_strings(s1, qs, k=10).collect()
    wurl = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(whole + "/docs").collect()
    }
    g, w = {}, {}
    for r in got:
        g.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    for r in want:
        w.setdefault(r["qid"], []).append(
            (r["rank"], wurl[r["doc_id"]], r["score"])
        )
    assert g.keys() == w.keys() and g
    for qid in w:
        gs, ws = sorted(g[qid]), sorted(w[qid])
        assert [u for _, u, _ in gs] == [u for _, u, _ in ws], qid
        for (_, _, a_s), (_, _, b_s) in zip(gs, ws):
            assert math.isclose(a_s, b_s, rel_tol=1e-9), qid


def test_sharded_query_strings_reject_phrases(spark, uneven_shards):
    from colbert_spark.query.wand import ShardedSearcher

    a, b_, _ = uneven_shards
    sh = ShardedSearcher(spark, [a, b_])
    import pytest as _pt

    with _pt.raises(ValueError, match="phrase"):
        sh.search_strings([(0, '"term00000 term00001"')], k=5)
    sh.close()


@pytest.fixture(scope="module")
def pos_shards(spark, tiny_corpus, tmp_path_factory):
    """Positional 1:4 shard split + positional whole index, for federated
    phrase/NEAR/WITHIN filters."""
    base = tmp_path_factory.mktemp("sharded_pos")
    pdf = tiny_corpus
    cut = len(pdf) // 5
    a, b_, whole = str(base / "a"), str(base / "b"), str(base / "whole")
    build_index(
        spark, spark.createDataFrame(pdf.iloc[:cut]), a,
        bucket_size=53, positions=True,
    )
    build_index(
        spark, spark.createDataFrame(pdf.iloc[cut:]), b_,
        bucket_size=97, positions=True,
    )
    build_index(
        spark, spark.createDataFrame(pdf), whole,
        bucket_size=97, positions=True,
    )
    return a, b_, whole


def test_sharded_query_strings_phrase_filters_match_single_index(
    spark, pos_shards
):
    """Mixed queries with phrase / NEAR / WITHIN FILTER clauses federate
    exactly: each shard resolves its own positional match sets, scoring is
    global — ranking equals the single-whole-index language path."""
    import math

    from colbert_spark.query.phrase import PositionalSearcher
    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher, ShardedSearcher

    a, b_, whole = pos_shards
    qs = [
        (0, 'term00007 "term00000 term00001"'),        # exact-phrase filter
        (1, 'term00003 "term00000 term00001"~4'),      # NEAR filter
        (2, 'term00002 "term00000 term00001 term00003"~3'),  # WITHIN filter
        (3, '"term00000 term00001"~4'),                # filter-only query
    ]
    sh = ShardedSearcher(spark, [a, b_])
    got = sh.search_strings(qs, k=10).collect()
    s1 = IndexSearcher(spark, whole)
    p1 = PositionalSearcher(spark, whole)
    want = search_query_strings(s1, qs, k=10, positional=p1).collect()
    wurl = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(whole + "/docs").collect()
    }
    g, w = {}, {}
    for r in got:
        g.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    for r in want:
        w.setdefault(r["qid"], []).append(
            (r["rank"], wurl[r["doc_id"]], r["score"])
        )
    assert g.keys() == w.keys() and g
    for qid in w:
        gs, ws = sorted(g[qid]), sorted(w[qid])
        assert [u for _, u, _ in gs] == [u for _, u, _ in ws], qid
        for (_, _, a_s), (_, _, b_s) in zip(gs, ws):
            assert math.isclose(a_s, b_s, rel_tol=1e-9), qid
    sh.close()


def test_sharded_pure_phrase_matches_single_index(spark, pos_shards):
    """Pure single-phrase queries federate with exact PhraseQuery scoring:
    per-shard phrase tf/doclen + global N/avgdl/token-df must equal the
    whole-index `phrase_bm25` ranking."""
    import math

    from colbert_spark.query.phrase import PositionalSearcher
    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher, ShardedSearcher

    a, b_, whole = pos_shards
    qs = [(0, '"term00000 term00001"'), (1, '"term00003 term00000"')]
    sh = ShardedSearcher(spark, [a, b_])
    got = sh.search_strings(qs, k=10).collect()
    s1 = IndexSearcher(spark, whole)
    p1 = PositionalSearcher(spark, whole)
    want = search_query_strings(s1, qs, k=10, positional=p1).collect()
    wurl = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(whole + "/docs").collect()
    }
    g, w = {}, {}
    for r in got:
        g.setdefault(r["qid"], []).append((r["rank"], r["url"], r["score"]))
    for r in want:
        w.setdefault(r["qid"], []).append(
            (r["rank"], wurl[r["doc_id"]], r["score"])
        )
    assert g.keys() == w.keys() and g
    for qid in w:
        gs, ws = sorted(g[qid]), sorted(w[qid])
        assert [u for _, u, _ in gs] == [u for _, u, _ in ws], qid
        for (_, _, a_s), (_, _, b_s) in zip(gs, ws):
            assert math.isclose(a_s, b_s, rel_tol=1e-9), qid
    sh.close()


def test_sharded_phrase_filter_needs_positional_shards(spark, uneven_shards):
    from colbert_spark.query.wand import ShardedSearcher

    a, b_, _ = uneven_shards
    sh = ShardedSearcher(spark, [a, b_])
    with pytest.raises(ValueError, match="positional"):
        sh.search_strings([(0, 'term00007 "term00000 term00001"')], k=5)
    sh.close()


def test_warm_prefetch_makes_head_point_queries_fetch_free(
    spark, uneven_shards, tiny_queries
):
    """ShardedSearcher.warm() prefetches head-term blocks + global df, so a
    head-term point query on a fresh warmed federation schedules ZERO
    dictionary/block-fetch jobs and returns exactly the unwarmed service's
    answers (the round-4 cold-fanout fix)."""
    from colbert_spark.query.wand import ShardedSearcher

    a, b_, whole = uneven_shards
    # the corpus head vocabulary: term00001 etc. are in every doc's tail
    head_qs = ["term00001 term00002", "term00003", "term00001 term00005"]
    svc_cold = ShardedSearcher(spark, [a, b_])
    try:
        base = {
            q: [(r.url, round(float(r.score), 10))
                for r in svc_cold.search_point(q, k=10).itertuples()]
            for q in head_qs
        }
    finally:
        svc_cold.close()
    svc = ShardedSearcher(spark, [a, b_]).warm()
    try:
        fetches0 = [s._block_fetch_jobs for s in svc.searchers]
        assert any(n >= 1 for n in fetches0)  # prefetch actually ran
        dict0 = [s._dict_lookup_jobs for s in svc.searchers]
        for q in head_qs:
            got = [(r.url, round(float(r.score), 10))
                   for r in svc.search_point(q, k=10).itertuples()]
            assert got == base[q], q
        # head-term serving is fetch-free after warm()
        assert [s._block_fetch_jobs for s in svc.searchers] == fetches0
        assert [s._dict_lookup_jobs for s in svc.searchers] == dict0
    finally:
        svc.close()


def test_warm_url_read_does_not_block_hot_point_queries(
    spark, uneven_shards, tiny_queries, monkeypatch
):
    """ShardedSearcher.warm reads each shard's url map outside the point
    lock: while one shard's read is stalled, a cache-hot search_point on
    that shard still answers from another thread."""
    import threading

    import pandas as pd

    from colbert_spark.query.wand import ShardedSearcher

    a, b_, _ = uneven_shards
    svc = ShardedSearcher(spark, [a, b_])
    s0 = svc.searchers[0]
    q = tiny_queries["question"][0]
    want = s0.search_point(q, k=10)  # q's terms are now resident
    entered, release = threading.Event(), threading.Event()
    read = s0._reader.urls

    def stalled_read(doc_ids=None):
        entered.set()
        release.wait(120)
        return read(doc_ids)

    monkeypatch.setattr(s0._reader, "urls", stalled_read)
    warm = threading.Thread(target=svc.warm)
    warm.start()
    try:
        assert entered.wait(120), "warm never reached the url read"
        got = []
        hot = threading.Thread(target=lambda: got.append(s0.search_point(q, k=10)))
        hot.start()
        hot.join(10)
        assert not hot.is_alive(), "hot search_point waited on the url read"
        pd.testing.assert_frame_equal(got[0], want)
    finally:
        release.set()
        warm.join(300)
        svc.close()
    assert not warm.is_alive()
    # the whole url map was installed once the read was released
    assert len(s0._url_cache) == s0._reader.n_docs()


def test_federation_url_cache_cap_is_shared(spark, uneven_shards, tiny_queries):
    """The federation's url LRU cap is split across its shards: each
    shard's warm-time url map read and its LRU stay within its share, and
    point answers keep their urls."""
    from colbert_spark.query.wand import ShardedSearcher

    a, b_, _ = uneven_shards
    svc = ShardedSearcher(spark, [a, b_])
    try:
        # the one-searcher default, split
        assert [s.url_cache_max for s in svc.searchers] == [1 << 19] * 2
        want = {
            q: list(svc.search_point(q, k=10)["url"])
            for q in tiny_queries["question"][:5]
        }
        for s in svc.searchers:
            s.url_cache_max = 25  # under either shard's doc count
            s._url_cache.clear()
        svc.warm()
        for q in tiny_queries["question"][:5]:
            assert list(svc.search_point(q, k=10)["url"]) == want[q], q
        for s in svc.searchers:
            assert s._reader.n_docs() > 25
            assert 0 < len(s._url_cache) <= 25
    finally:
        svc.close()
