"""Segment compaction (`compact_index`): a fragmented index (small buckets,
multiple append epochs) must answer queries IDENTICALLY after compaction,
with strictly fewer block rows; epoch-preserving mode must keep every
time-travel snapshot exact, and full-merge mode must keep the live view
exact while upgrading the payload format to v3."""

import json
import os

import pytest

from colbert_spark.index.build import append_index, build_index
from colbert_spark.index.compact import _reencode_rows, _slab_bounds, compact_index
from colbert_spark.query.wand import IndexSearcher

K = 10


def _topk_rows(spark, index_dir, queries, **kw):
    rows = IndexSearcher(spark, index_dir, **kw).search(queries, k=K).collect()
    return sorted(
        (r["qid"], r["rank"], r["doc_id"], round(r["score"], 10)) for r in rows
    )


@pytest.fixture()
def fragmented_dir(spark, tiny_corpus, tmp_path_factory):
    """3 epochs over tiny buckets ⇒ heavy sub-split + epoch fragmentation."""
    a = tiny_corpus.iloc[:400]
    b = tiny_corpus.iloc[400:700]
    c = tiny_corpus.iloc[700:]
    d = str(tmp_path_factory.mktemp("idx_frag"))
    build_index(spark, spark.createDataFrame(a), d, bucket_size=97)
    append_index(spark, spark.createDataFrame(b), d)
    append_index(spark, spark.createDataFrame(c), d)
    return d


def test_compact_preserves_results_and_snapshots(
    spark, fragmented_dir, tiny_queries
):
    queries = spark.createDataFrame(tiny_queries[:20])
    before_live = _topk_rows(spark, fragmented_dir, queries)
    before_e0 = _topk_rows(spark, fragmented_dir, queries, as_of_epoch=0)
    before_e1 = _topk_rows(spark, fragmented_dir, queries, as_of_epoch=1)
    stats_pre = json.load(open(os.path.join(fragmented_dir, "stats.json")))

    stats = compact_index(spark, fragmented_dir, preserve_epochs=True)

    assert stats["n_blocks_after"] < stats["n_blocks_before"]
    assert stats["seg_dir"] == "segments_c1"
    assert not os.path.exists(os.path.join(fragmented_dir, "segments"))
    # postings conserved, format unchanged
    assert stats["segver"] == stats_pre["segver"]

    assert _topk_rows(spark, fragmented_dir, queries) == before_live
    assert _topk_rows(spark, fragmented_dir, queries, as_of_epoch=0) == before_e0
    assert _topk_rows(spark, fragmented_dir, queries, as_of_epoch=1) == before_e1


def test_compact_full_merge_upgrades_and_drops_old_snapshots(
    spark, fragmented_dir, tiny_queries
):
    queries = spark.createDataFrame(tiny_queries[:20])
    before_live = _topk_rows(spark, fragmented_dir, queries)

    stats = compact_index(spark, fragmented_dir, preserve_epochs=False)

    assert stats["segver"] == 3
    assert _topk_rows(spark, fragmented_dir, queries) == before_live
    # epoch history collapses to the merged baseline: epochs resets to 1,
    # e0 becomes (and equals) the live view, e1+ are gone
    assert stats["epochs"] == 1
    assert os.path.exists(os.path.join(fragmented_dir, "epoch_stats", "e0.json"))
    assert not os.path.exists(os.path.join(fragmented_dir, "epoch_stats", "e1.json"))
    assert _topk_rows(spark, fragmented_dir, queries, as_of_epoch=0) == before_live


def test_compact_merges_runs_into_full_blocks(spark, fragmented_dir):
    """Full merge leaves every (term_id, bucket) with at most one short
    (non-128) block — the defragmentation actually happened."""
    from pyspark.sql import functions as F

    compact_index(spark, fragmented_dir, preserve_epochs=False)
    stats = json.load(open(os.path.join(fragmented_dir, "stats.json")))
    seg = spark.read.parquet(os.path.join(fragmented_dir, stats["seg_dir"]))
    short = (
        seg.filter(F.col("n") < 128)
        .groupBy("term_id", "bucket")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert short == 0


def test_append_after_compaction(spark, tiny_corpus, tiny_queries, tmp_path_factory):
    """The compacted tree stays appendable: a later epoch lands in the NEW
    seg_dir, and score multisets match a never-compacted index over the
    same final corpus (doc_ids differ by assignment order, so compare
    per-qid score multisets — the same contract test_append uses)."""
    d = str(tmp_path_factory.mktemp("idx_compact_append"))
    build_index(spark, spark.createDataFrame(tiny_corpus.iloc[:400]), d, bucket_size=97)
    append_index(spark, spark.createDataFrame(tiny_corpus.iloc[400:700]), d)
    compact_index(spark, d, preserve_epochs=True)
    append_index(spark, spark.createDataFrame(tiny_corpus.iloc[700:]), d)
    # the post-compaction epoch's files live in the new tree
    stats = json.load(open(os.path.join(d, "stats.json")))
    assert stats["seg_dir"] == "segments_c1" and stats["epochs"] == 3

    twin = str(tmp_path_factory.mktemp("idx_compact_twin"))
    build_index(spark, spark.createDataFrame(tiny_corpus), twin, bucket_size=97)
    queries = spark.createDataFrame(tiny_queries[:20])
    got = _topk_rows(spark, d, queries)
    want = _topk_rows(spark, twin, queries)
    score_multiset = lambda rows: sorted((q, round(s, 6)) for q, _, _, s in rows)  # noqa: E731
    assert score_multiset(got) == score_multiset(want)


def _block_multiset(frames):
    cols = [
        "bucket", "term_id", "first_doc", "last_doc", "n",
        "doc_bytes", "tf_bytes", "dl_bytes",
    ]
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else int(v) for v in row)
        for f in frames
        for row in f[cols].itertuples(index=False)
    )


def _compacted_blocks(spark, index_dir):
    stats = json.load(open(os.path.join(index_dir, "stats.json")))
    seg = spark.read.parquet(os.path.join(index_dir, stats["seg_dir"]))
    return _block_multiset([seg.toPandas()])


def _reference_blocks(spark, index_dir, preserve_epochs):
    """The regroup/re-encode of the whole collected segment table in ONE
    driver-side `_reencode_rows` call — what compaction must produce when
    no (bucket, term) group outweighs the slab budget."""
    import numpy as np

    stats = json.load(open(os.path.join(index_dir, "stats.json")))
    es = [
        json.load(open(os.path.join(index_dir, "epoch_stats", f"e{k}.json")))
        for k in range(stats["epochs"])
    ]
    pdf = spark.read.parquet(os.path.join(index_dir, stats["seg_dir"])).toPandas()
    prefixed_in = stats["segver"] >= 3
    outs, _ = _reencode_rows(
        pdf,
        np.asarray([e["N"] for e in es], dtype=np.int64),
        [es[0]["avgdl"]] + [e["avgdl"] for e in es[:-1]],
        stats["k1"],
        stats["b"],
        stats["tshards"],
        prefixed_in,
        prefixed_in if preserve_epochs else True,
        merge_epochs=not preserve_epochs,
        merged_avgdl=stats.get("min_enc_avgdl", stats["avgdl"]),
        tomb=None,
    )
    return _block_multiset([o for _, o in outs])


def test_compaction_blocks_match_reencode_reference(
    spark, fragmented_dir, tiny_queries
):
    """Compaction (sorted partitions, slab re-encode, incremental per-cell
    writers) produces exactly the blocks of one whole-table re-encode, the
    live view and every epoch snapshot answer as before, and the compacted
    index is fsck-clean."""
    from colbert_spark.index.inspect import index_fsck

    queries = spark.createDataFrame(tiny_queries[:20])
    epochs = ({}, {"as_of_epoch": 0}, {"as_of_epoch": 1})
    before = [_topk_rows(spark, fragmented_dir, queries, **kw) for kw in epochs]
    want = _reference_blocks(spark, fragmented_dir, preserve_epochs=True)

    stats = compact_index(spark, fragmented_dir, preserve_epochs=True)

    assert stats["n_blocks_after"] == len(want)
    assert _compacted_blocks(spark, fragmented_dir) == want
    for kw, rows in zip(epochs, before):
        assert _topk_rows(spark, fragmented_dir, queries, **kw) == rows
    res = index_fsck(spark, fragmented_dir, deep=True)
    assert res["ok"], res


def test_compaction_groups_straddling_arrow_batches(
    spark, fragmented_dir, tiny_queries
):
    """With a few rows per Arrow batch, (bucket, term) groups and cells
    straddle batches, so the kernel's carry of the open slab runs on every
    batch; the blocks must still equal the whole-table re-encode."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    queries = spark.createDataFrame(tiny_queries[:20])
    before = _topk_rows(spark, fragmented_dir, queries)
    want = _reference_blocks(spark, fragmented_dir, preserve_epochs=False)
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        compact_index(spark, fragmented_dir, preserve_epochs=False)
    finally:
        spark.conf.set(key, old)
    assert _compacted_blocks(spark, fragmented_dir) == want
    assert _topk_rows(spark, fragmented_dir, queries) == before


def test_compact_crash_at_stats_commit_leaves_old_index_live(
    spark, fragmented_dir, tiny_queries, monkeypatch
):
    """A crash on the final stats.json replace leaves the old index live:
    stats.json still names the old tree, every epoch snapshot still loads
    and answers as before, and a rerun completes the compaction."""
    queries = spark.createDataFrame(tiny_queries[:20])
    before = _topk_rows(spark, fragmented_dir, queries)
    before_e1 = _topk_rows(spark, fragmented_dir, queries, as_of_epoch=1)
    stats_path = os.path.join(fragmented_dir, "stats.json")
    old_stats = json.load(open(stats_path))
    real_replace = os.replace

    def crash_on_stats(src, dst):
        if os.path.basename(dst) == "stats.json":
            raise OSError("injected crash at the stats.json commit")
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_stats)
        with pytest.raises(OSError, match="injected"):
            compact_index(spark, fragmented_dir, preserve_epochs=False)

    assert json.load(open(stats_path)) == old_stats
    assert old_stats["seg_dir"] == "segments"
    assert _topk_rows(spark, fragmented_dir, queries) == before
    assert _topk_rows(spark, fragmented_dir, queries, as_of_epoch=1) == before_e1

    stats = compact_index(spark, fragmented_dir, preserve_epochs=False)
    assert stats["seg_dir"] == "segments_c1"
    assert _topk_rows(spark, fragmented_dir, queries) == before


def _cut(bucket, tshard, term, weight, budget):
    import numpy as np

    arr = lambda v: np.asarray(v, dtype=np.int64)  # noqa: E731
    return _slab_bounds(
        arr(bucket), arr(tshard), arr(term), arr(weight), budget
    ).tolist()


def test_slab_bounds_cut_at_cell_change():
    # two light groups per cell, cells (0,0), (0,1), (1,1)
    assert _cut(
        [0, 0, 0, 0, 1, 1], [0, 0, 1, 1, 1, 1], [1, 2, 1, 3, 1, 3],
        [1] * 6, budget=100,
    ) == [0, 2, 4, 6]


def test_slab_bounds_several_groups_per_slab():
    # groups of weight 2; a slab closes at the first group end reaching 5
    assert _cut(
        [0] * 8, [0] * 8, [1, 1, 2, 2, 3, 3, 4, 5], [1] * 8, budget=5
    ) == [0, 6, 8]
    # a multi-row group is never cut while it fits the budget
    assert _cut([0] * 4, [0] * 4, [1, 2, 2, 2], [2, 1, 1, 1], budget=3) == [0, 4]


def test_slab_bounds_sub_chunks_heavy_group_at_block_rows():
    # term 2 weighs 8 > budget 3: cut at its block rows as the slab fills;
    # the light groups around it are not split
    assert _cut(
        [0] * 6, [0] * 6, [1, 2, 2, 2, 2, 3], [1, 2, 2, 2, 2, 1], budget=3
    ) == [0, 2, 4, 6]


def test_slab_bounds_single_row_group_heavier_than_budget():
    # a one-row group cannot be split: it closes its slab whole
    assert _cut([0] * 3, [0] * 3, [1, 2, 3], [9, 1, 1], budget=3) == [0, 1, 3]
    assert _cut([0] * 3, [0] * 3, [1, 2, 3], [1, 9, 1], budget=3) == [0, 2, 3]


def test_slab_bounds_matches_loop_reference():
    """The numpy cut equals a row-by-row walk of the same rules on random
    sorted inputs: close the slab at a cell end, or at a legal cut (group
    end, or any row of a group heavier than the budget) once it reaches
    the budget."""
    import numpy as np

    rng = np.random.default_rng(7)
    for _ in range(300):
        n = int(rng.integers(1, 60))
        b, t, m = rng.integers(0, 3, size=(3, n))
        order = np.lexsort((m, t, b))
        bucket, tshard, term = b[order], t[order], m[order]
        weight = rng.integers(1, 6, size=n)
        budget = int(rng.integers(1, 15))

        key = list(zip(bucket, tshard, term))
        ends = [i for i in range(n) if i == n - 1 or key[i] != key[i + 1]]
        heavy, start = [False] * n, 0
        for e in ends:
            heavy[start:e + 1] = [sum(weight[start:e + 1]) > budget] * (e + 1 - start)
            start = e + 1
        want, acc = [0], 0
        for i in range(n):
            acc += weight[i]
            cell_end = i == n - 1 or key[i][:2] != key[i + 1][:2]
            if cell_end or ((i in ends or heavy[i]) and acc >= budget):
                want.append(i + 1)
                acc = 0
        assert _cut(bucket, tshard, term, weight, budget) == want
