"""Segment compaction — the maintenance pass that heals fragmentation.

Why it exists: the build's sub-split load balancing and every `append_index`
epoch leave a (term_id, bucket) posting list scattered across many short
block runs (doc-interleaved across one epoch's sub-splits, doc-range-
disjoint across epochs; readers must not assume cross-block order). Query
cost per term is ~O(#blocks touched): fragments mean more block rows
scanned, more per-block decode bookkeeping, and weaker block-max pruning
(each short block's max is computed over fewer postings, and more blocks
survive the θ test). Compaction decodes every posting once and re-encodes
full ≤BLOCK_SIZE blocks — the Spark-native analog of a log-structured
index's merge pass (the reference's static index parts never fragment
because they are rebuilt whole, `colbert/indexing/encoder.py:41-67`; an
engine with incremental appends needs the merge the reference never had).

Epoch semantics (time-travel, `IndexSearcher(as_of_epoch=k)`):

  * `preserve_epochs=True` (default): blocks are merged only WITHIN an
    epoch (epoch of a block = which [N_{k-1}, N_k) doc range holds its
    first_doc — appends only ever add doc_ids past the committed N, so no
    block spans an epoch boundary, before or after compaction). Each
    epoch's postings are re-encoded with that epoch's ORIGINAL encode-time
    avgdl, so stored block maxima keep exactly their old meaning and every
    epoch snapshot stays servable and rank-exact.
  * `preserve_epochs=False`: all epochs of a (term_id, bucket) merge into
    one run — maximal compaction, but doc-range clipping can no longer
    excise later epochs, so epoch history COLLAPSES: `epochs` resets to 1
    and `e0.json` becomes the merged baseline (== the live view), the one
    snapshot that is still exact. Blocks are re-encoded at the index's
    `min_enc_avgdl`, which keeps the query kernel's
    max(1, avgdl/min_enc_avgdl) pruning inflation sound, and the payload
    format is upgraded to v3 (tagged varbyte/PForDelta) — full compaction
    doubles as the format-migration path for v2 indexes.
  * `expunge_deletes=True` (implies the full merge): tombstoned docs'
    postings are physically dropped and the index becomes statistically
    a fresh build over the survivors — see `compact_index`'s docstring
    and index/delete.py for the maxDoc/numDocs contract.

Kernel: one bounded-memory pass, `_compact_partition_streaming`. Block
rows are shuffled by (bucket, tshard) and JVM-sorted within partitions;
the kernel cuts them into `_slab_bounds` slabs of whole (bucket, term)
groups, re-encodes slab by slab and appends to one parquet file per cell,
so per-task memory is O(slab + one Arrow batch) at any partition size.

Commit protocol: the kernel writes a complete new segment tree under
`segments_c<gen>/` (task-local atomic renames, deterministic content ⇒
crash-rerun rewrites identical files), epoch snapshots are repointed (a
full merge rewrites e0 and drops e1+ only after the flip), and the single
atomic `stats.json` replace (`commit_json`) flips the live `seg_dir`
pointer — a crash anywhere earlier leaves the old tree live and intact.
The manifest is untouched: its per-bucket posting counts and term
watermarks remain true (compaction moves no postings across buckets); only
its n_blocks column describes the pre-compaction layout.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from colbert_spark.index.build import (
    DEFAULT_TSHARDS,
    _encode_posting_blocks,
    commit_json,
)
from colbert_spark.index.codec import decode_blocks

COMPACT_SUMMARY_SCHEMA = (
    "bucket long, term_id long, n_blocks long, n_postings long, cf long"
)


def _reencode_rows(
    pdf: pd.DataFrame,
    bnd: np.ndarray,
    enc_avgdls: list[float],
    k1: float,
    b: float,
    tshards: int,
    prefixed_in: bool,
    prefixed_out: bool,
    merge_epochs: bool,
    merged_avgdl: float,
    tomb,
):
    """Decode a slab of block rows, regroup postings per (term, bucket
    [, epoch]), re-encode full blocks. The slab may hold any number of
    (bucket, term) groups but must hold each group's blocks WHOLE (or one
    block-row sub-chunk of a group heavier than the slab budget, see
    `_slab_bounds`) — so every block of a (term, bucket, epoch) run is
    re-encoded in one call. Returns (outs, cf) where `outs` is a
    list of (epoch, encoded block frame) and `cf` the per-(bucket, term)
    live Σtf partials the expunge path folds into the rewritten dictionary."""
    has_pos = "pos_bytes" in pdf.columns
    ns = pdf["n"].to_numpy(np.int64)
    # one vectorized decode per column over the whole slab; doc deltas
    # restart at each block's first (absolute) doc id
    d, _ = decode_blocks(pdf["doc_bytes"], prefixed_in)
    cs = np.cumsum(d)
    first = np.cumsum(ns) - ns
    docs = cs - np.repeat(cs[first] - d[first], ns)
    tfs, _ = decode_blocks(pdf["tf_bytes"], prefixed_in)
    dls, _ = decode_blocks(pdf["dl_bytes"], prefixed_in)
    if has_pos:
        occ0 = np.zeros(len(tfs) + 1, dtype=np.int64)
        np.cumsum(tfs, out=occ0[1:])  # posting → global occurrence start
        # positions: per-posting-reset deltas → absolute (the tf column
        # delimits each posting's occurrence run)
        d, _ = decode_blocks(pdf["pos_bytes"], prefixed_in)
        cs = np.cumsum(d)
        first = occ0[:-1]
        abs_pos = cs - np.repeat(cs[first] - d[first], tfs)
    terms = np.repeat(pdf["term_id"].to_numpy(np.int64), ns)
    buckets = np.repeat(pdf["bucket"].to_numpy(np.int64), ns)
    if merge_epochs:
        epochs = np.zeros(len(docs), dtype=np.int64)
    else:
        # epoch of a block = first boundary N_k its docs fall below;
        # valid per POSTING too (blocks never span boundaries)
        epochs = np.searchsorted(bnd, docs, side="right")
    # expunge: tombstoned docs' postings simply never re-encode (the
    # forceMergeDeletes analog); selection happens here so every gather
    # below — including the occurrence-position one — keeps indexing
    # the ORIGINAL decoded arrays
    live = None if tomb is None else ~np.isin(docs, tomb)
    outs = []
    for e in np.unique(epochs):
        emask = epochs == e
        if live is not None:
            emask &= live
        sel = np.flatnonzero(emask)
        if not sel.size:
            continue
        avgdl = merged_avgdl if merge_epochs else enc_avgdls[int(e)]
        td, bd, dd = terms[sel], buckets[sel], docs[sel]
        order = np.lexsort((dd, td, td % tshards, bd))
        sel = sel[order]
        pos_arg = None
        if has_pos:
            # gather this epoch's occurrences in the new posting order,
            # then re-delta with a reset at each posting start
            lens = tfs[sel]
            total = int(lens.sum())
            new_off = np.zeros(len(sel) + 1, dtype=np.int64)
            np.cumsum(lens, out=new_off[1:])
            gidx = (
                np.repeat(occ0[sel], lens)
                + np.arange(total, dtype=np.int64)
                - np.repeat(new_off[:-1], lens)
            )
            ps = abs_pos[gidx]
            deltas = np.empty_like(ps)
            if total:
                deltas[0] = ps[0]
                np.subtract(ps[1:], ps[:-1], out=deltas[1:])
                pstarts = new_off[:-1]
                deltas[pstarts] = ps[pstarts]
            pos_arg = (deltas, new_off[:-1])
        out = _encode_posting_blocks(
            terms[sel], buckets[sel], docs[sel], tfs[sel], dls[sel],
            k1, b, avgdl, tshards, prefixed_out, pos=pos_arg,
        )
        outs.append((int(e), out))
    lsel = np.flatnonzero(live) if live is not None else slice(None)
    cf = (
        pd.DataFrame(
            {"bucket": buckets[lsel], "term_id": terms[lsel], "tf": tfs[lsel]}
        )
        .groupby(["bucket", "term_id"])
        .agg(cf=("tf", "sum"))
        .reset_index()
    )
    return outs, cf


def _summary_frame(allb: pd.DataFrame, cf: pd.DataFrame) -> pd.DataFrame:
    nb = (
        allb.groupby(["bucket", "term_id"])
        .agg(n_blocks=("n", "size"), n_postings=("n", "sum"))
        .reset_index()
    )
    return nb.merge(cf, on=["bucket", "term_id"]).astype(
        {
            "bucket": "int64",
            "term_id": "int64",
            "n_blocks": "int64",
            "n_postings": "int64",
            "cf": "int64",
        }
    )


# slab budget in VALUE-weighted units (postings + positional payload bytes,
# see `_row_weights`): large enough to keep the per-slab numpy/Python
# overhead negligible, small enough that the decode/gather transients
# (~0.3-0.5 KB/posting peak for positional payloads) keep a REUSED worker's
# RSS high-water mark under ~1 GB: with 32 concurrent long-lived workers,
# per-worker watermarks ADD, and a 2M-posting slab's ~3 GB watermark × 32 +
# the JVM sort OOMed the 125 GiB host (measured 2026-08-21)
_STREAM_SLAB_POSTINGS = 500_000


def _row_weights(pdf: pd.DataFrame) -> np.ndarray:
    """Slab weight of each block row = decoded VALUES, not posting rows: a
    positional Zipf-head slab carries ~Σtf occurrences (measured ~16× the
    posting count on the 10M soak), and the decode/gather transients scale
    with occurrences. pos payload bytes ≈ 1 per occurrence, so the byte
    length is the cheap estimator."""
    w = pdf["n"].to_numpy(np.int64)
    if "pos_bytes" in pdf.columns:
        w = w + np.fromiter(
            map(len, pdf["pos_bytes"]), dtype=np.int64, count=len(pdf)
        )
    return w


def _slab_bounds(
    bucket: np.ndarray,
    tshard: np.ndarray,
    term: np.ndarray,
    weight: np.ndarray,
    budget: int,
) -> np.ndarray:
    """Cut block rows sorted by (bucket, tshard, term_id) into re-encode
    slabs; returns the boundaries [0, ..., len] (slab i = rows
    bounds[i]:bounds[i+1]). A slab never crosses a (bucket, tshard) cell —
    each cell's blocks go to one parquet file — and otherwise ends at the
    first legal cut where its weight reaches `budget`. Legal cuts are the
    (bucket, term) group ends, plus every block-row end inside a single
    group heavier than `budget`: a head term can alone dwarf the budget
    (bucket_size postings × Σtf occurrences — ~18M units measured at the
    10M soak ⇒ ~2 GB of decode/gather transients). Each such sub-chunk
    re-encodes into its own doc-range block run, which the reader already
    merges by first_doc (blocks of one (term, bucket) are never assumed
    doc-contiguous), and every doc still lives in exactly one block; the
    cost is at most one short block per sub-chunk. Weights must be
    positive (every block row holds ≥ 1 posting)."""
    n = len(term)
    cw = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(weight, out=cw[1:])
    cell_chg = (bucket[1:] != bucket[:-1]) | (tshard[1:] != tshard[:-1])
    cell_ends = np.append(np.flatnonzero(cell_chg) + 1, n)
    ends = np.append(np.flatnonzero(cell_chg | (term[1:] != term[:-1])) + 1, n)
    starts = np.append(0, ends[:-1])
    heavy = np.repeat(cw[ends] - cw[starts] > budget, ends - starts)
    cuts = np.union1d(ends, np.flatnonzero(heavy) + 1)
    cut_w = cw[cuts]
    bounds = [0]
    s = 0
    while s < n:
        ce = int(cell_ends[np.searchsorted(cell_ends, s, side="right")])
        i = int(np.searchsorted(cut_w, cw[s] + budget))
        s = min(int(cuts[i]), ce) if i < len(cuts) else ce
        bounds.append(s)
    return np.asarray(bounds, dtype=np.int64)


def _compact_partition_streaming(
    k1: float,
    b: float,
    tshards: int,
    seg_dir: str,
    boundaries: list[int],
    enc_avgdls: list[float],
    prefixed_in: bool,
    prefixed_out: bool,
    merge_epochs: bool,
    merged_avgdl: float,
    tomb=None,
):
    """mapInPandas kernel over (bucket, tshard)-keyed partitions of block
    rows SORTED by (bucket, tshard, term_id, first_doc) — `compact_index`
    adds a `sortWithinPartitions`, whose JVM external sort spills compressed
    block rows (~5-7 B/posting) instead of holding decoded tokens; sorting
    by first_doc also lands each group's epochs contiguously, doc ranges
    being epoch-disjoint. The kernel walks Arrow batches in order, cuts
    them into `_slab_bounds` slabs of complete (bucket, term) groups,
    re-encodes slab by slab, and appends the encoded blocks to ONE
    incrementally-written parquet file per (bucket, tshard) cell (atomic
    tmp→rename on cell close; deterministic content, so crash-retries
    rewrite identical files). Decoded per-task memory is O(slab),
    independent of partition size AND of any single term's posting volume;
    the carry between batches holds compressed rows of one open slab.
    Returns per-(bucket, term) summary rows (the job's only Spark output)."""
    bnd = np.asarray(boundaries, dtype=np.int64)

    def fn(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from colbert_spark.index.build import _seg_file_schema

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        cell = None  # (bucket, tshard) of the open writer
        writer = tmp = final = None
        summaries: list[pd.DataFrame] = []

        def close_cell():
            if writer is not None:
                writer.close()
                os.replace(tmp, final)

        def process_slab(slab: pd.DataFrame):
            nonlocal cell, writer, tmp, final
            outs, cf = _reencode_rows(
                slab, bnd, enc_avgdls, k1, b, tshards, prefixed_in,
                prefixed_out, merge_epochs, merged_avgdl, tomb,
            )
            if not outs:
                return
            allb = pd.concat([o for _, o in outs], ignore_index=True)
            schema = _seg_file_schema("pos_bytes" in allb.columns)
            key = (int(slab["bucket"].iat[0]), int(slab["tshard"].iat[0]))
            if key != cell:
                # one file per cell regardless of epoch: the reader derives
                # a block's epoch from its doc range, never from the
                # filename (filename epoch tags only matter to append's
                # orphan scrub, which targets epochs ≥ the committed count
                # — e0 is safe)
                close_cell()
                cell = key
                d = os.path.join(seg_dir, f"bucket={key[0]}", f"tshard={key[1]}")
                os.makedirs(d, exist_ok=True)
                tmp = os.path.join(d, f".p{pid:06d}.e0.{os.getpid()}.tmp")
                final = os.path.join(d, f"p{pid:06d}.e0.parquet")
                writer = pq.ParquetWriter(tmp, schema)
            writer.write_table(
                pa.Table.from_pandas(
                    allb.sort_values(["term_id", "first_doc"], kind="stable")
                    .drop(columns=["bucket", "tshard", "tf_sum"]),
                    preserve_index=False,
                ).cast(schema)
            )
            summaries.append(_summary_frame(allb, cf))

        def slabs(cur: pd.DataFrame) -> np.ndarray:
            return _slab_bounds(
                cur["bucket"].to_numpy(np.int64),
                cur["tshard"].to_numpy(np.int64),
                cur["term_id"].to_numpy(np.int64),
                _row_weights(cur),
                _STREAM_SLAB_POSTINGS,
            )

        # `carry` = the rows from the start of the slab that holds the
        # batch's last group, which may continue into the next batch;
        # cutting again from a slab start reproduces the cuts of a single
        # pass over the whole partition
        carry = None
        for pdf in batches:
            if not len(pdf):
                continue
            cur = pdf if carry is None else pd.concat([carry, pdf], ignore_index=True)
            bounds = slabs(cur)
            key = cur[["bucket", "tshard", "term_id"]].to_numpy(np.int64)
            # the last group is the sorted suffix of rows sharing its key
            last_start = len(cur) - int((key == key[-1]).all(axis=1).sum())
            k = int(np.searchsorted(bounds, last_start, side="right")) - 1
            for s, e in zip(bounds[:k], bounds[1:k + 1]):
                process_slab(cur.iloc[s:e])
            carry = cur.iloc[bounds[k]:]
        if carry is not None:
            bounds = slabs(carry)
            for s, e in zip(bounds[:-1], bounds[1:]):
                process_slab(carry.iloc[s:e])
        close_cell()
        if summaries:
            yield pd.concat(summaries, ignore_index=True)

    return fn


def compact_index(
    spark: SparkSession,
    index_dir: str,
    preserve_epochs: bool = True,
    remove_old: bool = True,
    expunge_deletes: bool = False,
) -> dict:
    """Rewrite the index's segment tree with defragmented full blocks and
    atomically swap it live (see module docstring for epoch semantics and
    the commit protocol). Returns the updated stats dict, including
    `n_blocks_before`/`n_blocks_after`.

    `expunge_deletes=True` (the Lucene forceMergeDeletes analog) physically
    drops every tombstoned doc's postings during the merge and makes the
    index statistically equivalent to a FRESH BUILD over the surviving
    docs: blocks re-encode at the recomputed avgdl, the dictionary rewrites
    with recomputed df/cf (df=0 terms drop; term_ids stay stable), the docs
    sink drops deleted rows, `live_docs` (numDocs) takes over scoring while
    `N` remains the id-space bound (maxDoc — doc_ids are never renumbered,
    renumbering would re-bucket every posting). Implies full epoch merge:
    statistics changed, so historical snapshots can no longer be exact and
    time-travel resets to the post-expunge baseline."""
    stats_path = os.path.join(index_dir, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    if stats.get("segver", 1) < 2:
        raise ValueError("compact_index requires a segver>=2 (idf-free) index")
    tomb = None
    live_stats = None
    if expunge_deletes:
        from pyspark.sql import functions as F

        from colbert_spark.index.delete import load_tombstones

        preserve_epochs = False
        tomb = load_tombstones(index_dir, stats)
        docs_name = stats.get("docs_dir", "docs")
        docs_df = spark.read.parquet(os.path.join(index_dir, docs_name))
        if tomb is not None:
            tomb_df = spark.read.parquet(
                os.path.join(index_dir, stats["tomb_dir"])
            )
            docs_df = docs_df.join(F.broadcast(tomb_df), "doc_id", "left_anti")
        fnames = sorted(stats.get("fields") or {})
        row = docs_df.agg(
            F.count("*").alias("n"),
            F.sum("doclen").alias("cf"),
            *[F.sum(f"len_{fn}").alias(f"cf_{fn}") for fn in fnames],
        ).collect()[0]
        n_live, total_cf_live = int(row["n"]), int(row["cf"] or 0)
        if fnames:
            # fielded index: per-field statistics re-price off the live docs
            # sink (len_<f> columns), exactly like the global avgdl below
            stats["fields"] = {
                fn: {
                    "total_cf": int(row[f"cf_{fn}"] or 0),
                    "avgdl": (int(row[f"cf_{fn}"] or 0) / n_live if n_live else 0.0),
                }
                for fn in fnames
            }
        # exact int/int division — a fresh build over the survivors computes
        # the identical double, so scores match bit-for-bit
        avgdl_live = total_cf_live / n_live if n_live else 1.0
        live_stats = (n_live, total_cf_live, avgdl_live, docs_df, docs_name)
    n_epochs = stats.get("epochs", 1)
    epoch_stats = []
    for k in range(n_epochs):
        with open(os.path.join(index_dir, "epoch_stats", f"e{k}.json")) as f:
            epoch_stats.append(json.load(f))
    boundaries = [es["N"] for es in epoch_stats]
    # epoch k (k≥1) was ENCODED with the avgdl committed by epoch k-1;
    # the base build encoded with its own commit avgdl
    enc_avgdls = [epoch_stats[0]["avgdl"]] + [
        epoch_stats[k - 1]["avgdl"] for k in range(1, n_epochs)
    ]
    merged_avgdl = stats.get("min_enc_avgdl", stats["avgdl"])
    if live_stats is not None:
        merged_avgdl = live_stats[2]  # re-encode at the post-expunge avgdl

    cur_name = stats.get("seg_dir", "segments")
    gen = stats.get("compactions", 0) + 1
    new_name = f"segments_c{gen}"
    prefixed_in = stats.get("segver", 2) >= 3
    prefixed_out = prefixed_in if preserve_epochs else True

    cur_dir = os.path.join(index_dir, cur_name)
    new_dir = os.path.join(index_dir, new_name)
    # gen = committed compactions + 1, so an existing new_dir can only be a
    # crashed earlier attempt (possibly with a different partition count —
    # stale files would read as duplicates); wipe it before rebuilding
    shutil.rmtree(new_dir, ignore_errors=True)
    os.makedirs(new_dir, exist_ok=True)
    segments = spark.read.parquet(cur_dir)
    n_before = segments.count()
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tshards = stats.get("tshards", DEFAULT_TSHARDS)
    # the kernel's slab-cut contract: cells contiguous, groups contiguous,
    # epochs contiguous within a group (doc ranges are epoch-disjoint, so
    # first_doc order lands them so)
    shuffled = segments.repartition(p, "bucket", "tshard").sortWithinPartitions(
        "bucket", "tshard", "term_id", "first_doc"
    )
    summaries = shuffled.mapInPandas(
        _compact_partition_streaming(
            stats["k1"], stats["b"], tshards, new_dir,
            boundaries, enc_avgdls, prefixed_in, prefixed_out,
            merge_epochs=not preserve_epochs, merged_avgdl=merged_avgdl,
            tomb=tomb,
        ),
        schema=COMPACT_SUMMARY_SCHEMA,
    ).persist()
    totals = summaries.groupBy().sum("n_blocks", "n_postings").collect()[0]
    n_after = int(totals[0] or 0)

    if live_stats is not None:
        from pyspark.sql import functions as F

        n_live, total_cf_live, avgdl_live, docs_df, docs_name = live_stats
        # rewrite the dictionary with the recomputed live df/cf: terms whose
        # every posting was deleted emit no summary row and drop out; the
        # term_id space is untouched (n_terms stays — it is the id bound
        # append_index allocates from, exactly like N for doc_ids)
        ts = summaries.groupBy("term_id").agg(
            F.sum("n_postings").alias("df"), F.sum("cf").alias("cf")
        )
        old_dict = spark.read.parquet(
            os.path.join(index_dir, stats.get("dict_dir", "term_dict"))
        ).drop("df", "cf")
        new_dict_name = f"term_dict_x{gen}"
        from colbert_spark.index.build import write_term_dict, write_term_dict_rev

        write_term_dict(
            old_dict.join(ts, "term_id"),
            os.path.join(index_dir, new_dict_name),
        )
        if stats.get("reverse_dict"):
            write_term_dict_rev(
                spark.read.parquet(os.path.join(index_dir, new_dict_name)),
                os.path.join(index_dir, new_dict_name),
            )
        new_docs_name = f"docs_x{gen}"
        docs_df.write.mode("overwrite").parquet(
            os.path.join(index_dir, new_docs_name)
        )
        stats["dict_dir"] = new_dict_name
        stats["docs_dir"] = new_docs_name
        stats["live_docs"] = n_live
        stats["total_cf"] = total_cf_live
        stats["avgdl"] = avgdl_live
        stats["min_enc_avgdl"] = avgdl_live
        stats["n_deleted"] = 0
        expunged_tomb = stats.pop("tomb_dir", None)
        stats["expunges"] = stats.get("expunges", 0) + 1
    summaries.unpersist()

    # --- commit: repoint epoch snapshots, then the live pointer (atomic)
    stats["seg_dir"] = new_name
    stats["compactions"] = gen
    stats["n_blocks_before"] = n_before
    stats["n_blocks_after"] = n_after
    es_dir = os.path.join(index_dir, "epoch_stats")
    if preserve_epochs:
        for k, es in enumerate(epoch_stats):
            es["seg_dir"] = new_name
            es["compactions"] = gen
            commit_json(os.path.join(es_dir, f"e{k}.json"), es)
        commit_json(stats_path, stats)
    else:
        # a full merge collapses epoch history: epochs reset to 1 and
        # e0.json becomes the merged baseline (== the live view) — the one
        # snapshot that is still exact. This also keeps future compactions'
        # boundary reads (range(epochs)) consistent with the files on disk.
        # The old snapshots are rewritten only AFTER the live flip, so a
        # crash before it leaves every one of them intact for the rerun.
        stats["segver"] = 3  # full merge re-encodes everything tagged
        stats["epochs"] = 1
        commit_json(stats_path, stats)
        commit_json(os.path.join(es_dir, "e0.json"), stats)
        for k in range(1, n_epochs):
            old = os.path.join(es_dir, f"e{k}.json")
            if os.path.exists(old):
                os.remove(old)
    if remove_old:
        shutil.rmtree(cur_dir, ignore_errors=True)
    if expunge_deletes and expunged_tomb:
        shutil.rmtree(os.path.join(index_dir, expunged_tomb), ignore_errors=True)
    return stats
