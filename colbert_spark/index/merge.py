"""Index merging — Lucene's ``addIndexes`` for the segment format: combine
independently-built indexes into ONE searchable index without re-tokenizing
any document.

Why it exists: at 10^12 docs the natural build is SHARDED — crawl slices are
indexed independently (different clusters, different days) and later fused.
The reference rebuilds its static index whole per run (``colbert/indexing/
encoder.py:41-67``); a production engine fuses shards instead. Lucene's
semantics: each incoming index's doc ids are re-based onto the end of the
composite doc space; nothing is re-analyzed.

The Spark shape (one exchange, postings-scale):

  1. doc-id re-base: index i's ids shift by Σ_{j<i} N_j (pure column add).
  2. dictionary fusion: the merged vocabulary is the UNION of the inputs'
     term dictionaries; df/cf are SUMS (doc spaces are disjoint — enforced
     by a url-uniqueness check). Dense-rank assigns merged term_ids; each
     input's blocks re-tag old → new term_id at BLOCK grain (a vocab-sized
     broadcast join against the block-metadata frame) before any decode.
  3. re-encode: each input's blocks decode into raw token rows
     (doc_id, doclen, term_id[, pos]) — the exact frame the build exchange
     ships — and flow through the SAME salted (bucket, tshard, sub)
     repartition and encode kernel as `build_index`. Cost ≈ one build
     exchange of the combined postings with the tokenize/doc-rank/term-rank
     stages deleted; merged-bucket postings re-block at full BLOCK_SIZE, so
     the output is as compact as a from-scratch build (an `addIndexes` that
     is also a full compaction).

Step 3 is the COMPACTING path. When every input shares the output's
bucket_size (the common case: one fleet-wide build config), the BLOCK-COPY
fast path replaces it: doc spaces pad to bucket boundaries, blocks translate
verbatim (bucket shift + first-delta bump + term_id re-tag), and merge cost
drops to moving ~5 B/posting of compressed bytes — see `_copy_blocks`.

Constraints (asserted): same k1/b, same analyzer, same positions flag, same
max_doclen, no pending tombstones (expunge first — merging masked postings
would resurrect them), and globally-unique urls across inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_spark.index.build import (
    SUMMARY_SCHEMA,
    _encode_partition,
    _write_segment_files,
    assign_dense_rank,
    choose_n_sub,
    commit_json,
    shuffle_key_exprs,
)
from colbert_spark.index.codec import decode_block, encode_block_payloads
from colbert_spark.query.wand import load_index


def _token_rows(
    segments: DataFrame, doc_base: int, positions: bool, prefixed: bool = True
):
    """Decode block rows into raw token rows (doc_id, doclen, term_id[, pos])
    with doc ids shifted by `doc_base` — the build exchange's input frame.
    Arrow-batched mapInPandas; the token volume equals the input's total_cf."""
    cols = ["term_id", "doc_bytes", "tf_bytes", "dl_bytes"]
    if positions:
        cols.append("pos_bytes")
    out_schema = "doc_id long, doclen long, term_id long" + (
        ", pos long" if positions else ""
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            d_l, dl_l, t_l, p_l = [], [], [], []
            for r in pdf.itertuples(index=False):
                docs = np.cumsum(decode_block(r.doc_bytes, prefixed)) + doc_base
                tfs = decode_block(r.tf_bytes, prefixed)
                dls = decode_block(r.dl_bytes, prefixed)
                d_l.append(np.repeat(docs, tfs))
                dl_l.append(np.repeat(dls, tfs))
                t_l.append(np.full(int(tfs.sum()), r.term_id, dtype=np.int64))
                if positions:
                    # per-posting position deltas, first occurrence raw:
                    # absolute = cumsum within each posting's slice
                    deltas = decode_block(r.pos_bytes, prefixed).astype(np.int64)
                    cs = np.cumsum(deltas)
                    offs = np.zeros(len(tfs) + 1, dtype=np.int64)
                    np.cumsum(tfs, out=offs[1:])
                    # subtract each posting's prefix so cumsum restarts per run
                    base = np.repeat(cs[offs[:-1]] - deltas[offs[:-1]], tfs)
                    p_l.append(cs - base)
            if not d_l:
                continue
            out = {
                "doc_id": np.concatenate(d_l),
                "doclen": np.concatenate(dl_l),
                "term_id": np.concatenate(t_l),
            }
            if positions:
                out["pos"] = np.concatenate(p_l)
            yield pd.DataFrame(out)

    return segments.select(*cols).mapInPandas(fn, out_schema)


_COPY_SUMMARY_SCHEMA = (
    "bucket long, term_lo long, term_hi long, n_blocks long, n_postings long"
)


def _copy_blocks(
    segments: DataFrame,
    doc_base: int,
    tshards: int,
    bucket_size: int,
    seg_path: str,
    positions: bool,
):
    """Block-copy merge kernel: move already-encoded posting blocks into the
    merged index VERBATIM except for two O(block) fixes — the merged term_id
    (re-tagged by the caller's vocab join) and the doc-id re-base. Because
    `doc_base` is a multiple of `bucket_size` (the caller pads each input's
    doc space to the next bucket boundary), a block's bucket simply shifts
    by `doc_base // bucket_size`, and only the FIRST value of its delta-coded
    doc stream (the absolute in-shard doc id) changes — tf/dl/pos payload
    bytes are copied untouched, so merge traffic is ~5 B/posting compressed
    blocks (one round-robin spread exchange) instead of the ~24 B/posting
    decoded-token build exchange of the compacting path — merge becomes
    I/O-bound. Summaries (bucket, term watermarks, counts) flow back for
    the manifest; `n` per block makes the counts free."""
    cols = [
        "bucket", "term_id", "block_id", "first_doc", "last_doc", "n",
        "max_unit", "doc_bytes", "tf_bytes", "dl_bytes",
    ]
    if positions:
        cols.append("pos_bytes")
    bucket_shift = doc_base // bucket_size
    ordered = [
        "bucket", "tshard", "tf_sum", "term_id", "block_id", "first_doc",
        "last_doc", "n", "doc_bytes", "tf_bytes", "dl_bytes", "max_unit",
    ] + (["pos_bytes"] if positions else [])

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # patch the doc streams: one decode per block (codec-tagged), a
            # single vectorized first-element bump, one global re-encode
            deltas = [
                decode_block(buf, prefixed=True) for buf in pdf["doc_bytes"]
            ]
            ns = np.array([len(d) for d in deltas], dtype=np.int64)
            offs = np.zeros(len(ns) + 1, dtype=np.int64)
            np.cumsum(ns, out=offs[1:])
            flat = np.concatenate(deltas) if deltas else np.empty(0, np.int64)
            flat[offs[:-1]] += doc_base  # first delta == absolute doc id
            doc_payloads = encode_block_payloads(flat, offs[:-1], offs[1:])
            out = pdf.assign(
                bucket=(pdf["bucket"].to_numpy(np.int64) + bucket_shift),
                tshard=(pdf["term_id"].to_numpy(np.int64) % tshards),
                first_doc=pdf["first_doc"].to_numpy(np.int64) + doc_base,
                last_doc=pdf["last_doc"].to_numpy(np.int64) + doc_base,
                doc_bytes=doc_payloads,
                tf_sum=np.int64(0),  # dropped by the writer
            )[ordered]
            _write_segment_files(out, seg_path, epoch=0)
            man = (
                out.groupby("bucket")
                .agg(
                    term_lo=("term_id", "min"),
                    term_hi=("term_id", "max"),
                    n_blocks=("term_id", "size"),
                    n_postings=("n", "sum"),
                )
                .reset_index()
            )
            yield man[
                ["bucket", "term_lo", "term_hi", "n_blocks", "n_postings"]
            ].astype("int64")

    return segments.select(*cols).mapInPandas(fn, _COPY_SUMMARY_SCHEMA)


def merge_indexes(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    bucket_size: int | None = None,
    tshards: int | None = None,
    built_at: str = "1970-01-01T00:00:00Z",
    block_copy: bool | None = None,
) -> dict:
    """Fuse ≥2 indexes into a fresh index at `out_dir` (epoch history
    collapses to a single baseline, exactly like Lucene's addIndexes).

    Two physical strategies:
      * **block-copy fast path** (`block_copy=None` auto-selects it when
        every input shares the output `bucket_size` and is format v3): doc
        spaces are padded to bucket boundaries so blocks move verbatim —
        term_id re-tag + first-delta bump only; tf/dl/pos bytes are never
        re-encoded and only compressed blocks (~5 B/posting) ever move.
        Merge becomes I/O-bound. Padding
        leaves doc-id holes, so the merged stats carry `live_docs` (idf and
        avgdl price from live counts — the same mechanism expunge uses);
        blocks keep their input fill (exactly Lucene addIndexes: no
        re-blocking across inputs).
      * **compacting path** (`block_copy=False`, or mismatched bucket
        sizes): decode to token rows and re-run the build's salted exchange
        + encode kernel — the output re-blocks at full BLOCK_SIZE, as
        compact as a from-scratch build.
    """
    assert len(index_dirs) >= 2, "merge needs at least two indexes"
    # crash/retry safety (mirrors compact_index's new_dir wipe): the encode
    # kernel writes task-local files and load_index reads EVERY parquet under
    # segments/, so a retried crashed merge — or a re-run into the same
    # --output under a different shuffle partition count — would leave stale
    # files that silently duplicate postings. Refuse in-place merges, then
    # start from a clean slate.
    out_real = os.path.realpath(out_dir)
    for d in index_dirs:
        if os.path.realpath(d) == out_real:
            raise ValueError(
                f"merge output {out_dir!r} is also an input: merging in place "
                "would overwrite segments while reading them"
            )
    for sub in ("segments", "manifest", "docs", "term_dict", "epoch_stats"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    for fname in ("stats.json", ".stats.json.tmp"):
        try:
            os.remove(os.path.join(out_dir, fname))
        except FileNotFoundError:
            pass
    loaded = [load_index(spark, d) for d in index_dirs]
    stats_l = [s for (_, _, s) in loaded]
    s0 = stats_l[0]
    for s in stats_l[1:]:
        for key in ("k1", "b", "analyzer", "positions", "max_doclen", "stored_cols"):
            if s.get(key) != s0.get(key):
                raise ValueError(
                    f"cannot merge: stats[{key!r}] differs "
                    f"({s.get(key)!r} != {s0.get(key)!r})"
                )
        # fielded indexes must share the field SCHEMA (names + separator);
        # the per-field statistics themselves recombine from the docs sink
        if sorted(s.get("fields") or {}) != sorted(s0.get("fields") or {}) or s.get(
            "field_sep"
        ) != s0.get("field_sep"):
            raise ValueError(
                "cannot merge: fielded inputs must share field names and "
                f"separator ({sorted(s.get('fields') or {})!r} != "
                f"{sorted(s0.get('fields') or {})!r})"
            )
    fnames = sorted(s0.get("fields") or {})
    for d, s in zip(index_dirs, stats_l):
        if int(s.get("n_deleted", 0)):
            raise ValueError(
                f"{d} has pending tombstones: expunge (compact_index with "
                "expunge_deletes=True) before merging"
            )
    positions = bool(s0.get("positions", False))
    bucket_size = int(bucket_size or s0["bucket_size"])
    tshards = int(tshards or s0["tshards"])
    k1, b = float(s0["k1"]), float(s0["b"])

    # block-copy eligibility: format v3 payloads and a shared bucket size
    # (padding makes every doc base bucket-aligned, so buckets shift whole)
    copy_ok = all(
        s.get("segver", 2) >= 3 and int(s["bucket_size"]) == bucket_size
        for s in stats_l
    )
    if block_copy is None:
        block_copy = copy_ok
    elif block_copy and not copy_ok:
        raise ValueError(
            "block_copy merge requires format-v3 inputs sharing the output "
            f"bucket_size={bucket_size}"
        )

    # doc-id re-base offsets (Lucene's per-reader docBase). N is the doc-ID
    # BOUND, not the live count: an expunged input (delete → compact with
    # expunge_deletes) keeps its id space (holes where deleted docs were) and
    # records the live count in `live_docs` — re-base on N, count on live.
    # The block-copy path additionally pads each base up to the next bucket
    # boundary so blocks translate without re-bucketing.
    bases, acc = [], 0
    for s in stats_l:
        if block_copy:
            acc = -(-acc // bucket_size) * bucket_size
        bases.append(acc)
        acc += int(s["N"])
    n_docs = acc  # merged id bound = Σ input bounds (+ padding holes)
    live_l = [int(s.get("live_docs", s["N"])) for s in stats_l]
    n_live = sum(live_l)
    total_cf = sum(int(s["total_cf"]) for s in stats_l)  # live cf post-expunge
    avgdl = total_cf / n_live if n_live else 0.0

    # docs sink: union with shifted ids; enforce the disjoint-url contract
    docs_parts = []
    for d, s, base in zip(index_dirs, stats_l, bases):
        docs_parts.append(
            spark.read.parquet(os.path.join(d, s.get("docs_dir", "docs")))
            .filter(F.col("doc_id") < int(s["N"]))  # ignore crashed-append ghosts
            .select(
                (F.col("doc_id") + F.lit(base)).cast("long").alias("doc_id"),
                "url",
                F.col("doclen").cast("long").alias("doclen"),
                *[F.col(f"len_{fn}").cast("long").alias(f"len_{fn}") for fn in fnames],
                *(s0.get("stored_cols") or []),
            )
        )
    docs = docs_parts[0]
    for p in docs_parts[1:]:
        docs = docs.unionByName(p)
    docs = docs.persist()
    row = docs.agg(
        F.count("*").alias("n"),
        F.count_distinct("url").alias("u"),
        *[F.sum(f"len_{fn}").alias(f"cf_{fn}") for fn in fnames],
    ).collect()[0]
    # an expunged input's docs sink holds live rows only → compare to n_live
    if int(row["n"]) != n_live or int(row["u"]) != n_live:
        docs.unpersist()
        raise ValueError(
            f"cannot merge: urls must be globally unique across inputs "
            f"(docs={row['n']}, distinct urls={row['u']}, expected {n_live})"
        )

    # merged dictionary: union vocab, SUMMED df/cf (disjoint doc spaces),
    # dense-ranked merged term_ids
    dicts = [td.select("term", "df", "cf") for (_, td, _) in loaded]
    uni = dicts[0]
    for t in dicts[1:]:
        uni = uni.unionByName(t)
    fused = uni.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    ranked = assign_dense_rank(fused, "term", "term_id", unique=True)
    n_terms = int(getattr(ranked, "_dense_rank_total", 0) or 0)
    merged_dict = ranked.persist()

    # block-grain term_id re-tag (vocab-sized join against block metadata)
    retagged = []
    for (segs, td, s), base in zip(loaded, bases):
        remap = td.select("term", F.col("term_id").alias("old_id")).join(
            merged_dict.select("term", "term_id"), "term"
        ).select("old_id", "term_id")
        segs2 = (
            segs.withColumnRenamed("term_id", "old_id")
            .join(remap, "old_id")
            .drop("old_id")
        )
        if positions and "pos_bytes" not in segs2.columns:
            raise ValueError("positional merge requires positional inputs")
        retagged.append((segs2, s, base))

    seg_path = os.path.join(out_dir, "segments")
    os.makedirs(seg_path, exist_ok=True)
    # segment files are small, so the scan coalesces to a handful of
    # input splits — round-robin the BLOCK rows across the cluster first
    # or the copy/decode kernel runs on 2 cores (measured 43 s → ~4 s at 32)
    p_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if block_copy:
        # fast path: one round-robin exchange of COMPRESSED blocks
        # (~5 B/posting) to spread the copy work, then the map-only
        # first-delta patch + verbatim write — never a decoded-token
        # (~24 B/posting) exchange, never a re-encode of tf/dl/pos bytes
        parts = [
            _copy_blocks(
                segs2.repartition(p_shuffle), base, tshards,
                bucket_size, seg_path, positions,
            )
            for segs2, _, base in retagged
        ]
        man_src = parts[0]
        for p in parts[1:]:
            man_src = man_src.unionByName(p)
    else:
        # compacting path: decode each input to token rows and re-run the
        # build's salted exchange + encode kernel, unchanged
        token_parts = [
            _token_rows(
                segs2.repartition(p_shuffle), base, positions,
                s.get("segver", 2) >= 3,
            )
            for segs2, s, base in retagged
        ]
        tokens = token_parts[0]
        for t in token_parts[1:]:
            tokens = tokens.unionByName(t)
        n_buckets = max(1, -(-n_docs // bucket_size))
        mrow = (
            docs.groupBy(F.expr(f"doc_id DIV {bucket_size}").alias("bkt"))
            .agg(F.sum("doclen").alias("cf"))
            .agg(F.max("cf").alias("m"))
            .collect()[0]
        )
        n_sub = choose_n_sub(
            p_shuffle, n_buckets, tshards, total_cf, int(mrow["m"] or 0)
        )
        summaries = tokens.repartition(
            p_shuffle, *shuffle_key_exprs(bucket_size, tshards, n_sub)
        ).mapInPandas(
            _encode_partition(
                k1, b, avgdl, tshards, seg_path, bucket_size, epoch=0,
                positions=positions,
            ),
            schema=SUMMARY_SCHEMA,
        )
        man_src = summaries.filter(F.col("kind") == 0).select(
            "bucket", "term_lo", "term_hi", "n_blocks", "n_postings"
        )

    stats = {
        "N": n_docs,
        **({"live_docs": n_live} if n_live != n_docs else {}),
        "avgdl": avgdl,
        "total_cf": total_cf,
        "n_terms": n_terms,
        "k1": k1,
        "b": b,
        "bucket_size": bucket_size,
        "tshards": tshards,
        "segver": 3,
        "positions": positions,
        "max_doclen": s0.get("max_doclen"),
        "analyzer": s0.get("analyzer"),
        "stored_cols": list(s0.get("stored_cols") or []),
        # fielded: per-field stats recombined exactly from the merged docs
        # sink's len_<f> columns (correct across expunged inputs, where a
        # Σ of input stats would double-count nothing but miss re-pricing)
        "fields": (
            {
                fn: {
                    "total_cf": int(row[f"cf_{fn}"] or 0),
                    "avgdl": (int(row[f"cf_{fn}"] or 0) / n_live if n_live else 0.0),
                }
                for fn in fnames
            }
            if fnames
            else None
        ),
        "field_sep": s0.get("field_sep"),
        # copied blocks keep their encode-time unit maxima: the pruning
        # bound must cover the SMALLEST avgdl any input block was encoded
        # at (query kernels inflate by avgdl/min_enc_avgdl); the compacting
        # path re-encodes everything at the merged avgdl
        "min_enc_avgdl": (
            min(float(s.get("min_enc_avgdl") or s["avgdl"]) for s in stats_l)
            if block_copy
            else avgdl
        ),
        "epochs": 1,
        "dict_dir": "term_dict",
        "seg_dir": "segments",
        # the reversed-term sidecar survives a merge only when every input
        # carries one (the merged vocabulary rewrites it from scratch)
        "reverse_dict": all(bool(s.get("reverse_dict")) for s in stats_l),
    }
    os.makedirs(out_dir, exist_ok=True)
    # commit order mirrors build_index: segments (kernel task-local writes,
    # realized by the manifest job below) + dictionary + docs BEFORE the
    # manifest marks buckets done; stats.json replace is the final commit
    from colbert_spark.index.build import write_term_dict, write_term_dict_rev

    write_term_dict(
        merged_dict.select("term", "df", "cf", "term_id"),
        os.path.join(out_dir, "term_dict"),
    )
    if stats.get("reverse_dict"):
        write_term_dict_rev(
            spark.read.parquet(os.path.join(out_dir, "term_dict")),
            os.path.join(out_dir, "term_dict"),
        )
    docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))
    (
        man_src
        .groupBy("bucket")
        .agg(
            F.min("term_lo").alias("term_lo"),
            F.max("term_hi").alias("term_hi"),
            F.sum("n_blocks").alias("n_blocks"),
            F.sum("n_postings").alias("n_postings"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("built_at", F.lit(built_at))
        # overwrite, not append: a retried merge must not stack a second
        # manifest generation on top of a crashed attempt's
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "manifest"))
    )
    commit_json(os.path.join(out_dir, "stats.json"), stats)
    os.makedirs(os.path.join(out_dir, "epoch_stats"), exist_ok=True)
    commit_json(os.path.join(out_dir, "epoch_stats", "e0.json"), stats)
    docs.unpersist()
    merged_dict.unpersist()
    return stats
