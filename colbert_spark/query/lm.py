"""Query-likelihood ranking with Dirichlet smoothing — a second scoring
model over the SAME segment blocks (blocks store tf/dl and the dictionary
stores cf, so any tf/dl/df/cf scorer prices them at query time; nothing is
re-encoded — the same property that makes the blocks idf-free for BM25).

Semantics (shared verbatim by the DuckDB oracle): for docs matching ≥1
query term,

    score(q, d) = Σ_t qtf_t · ln(1 + tf_td / (μ · cf_t / C))
                + (Σ_t qtf_t) · ln(μ / (dl_d + μ))

with both sums over the query terms present in the COLLECTION vocabulary
(C = total collection tokens). This is the standard query-likelihood
decomposition with the doc-independent Σ qtf·ln p(t|C) dropped
(rank-invariant). Docs matching no query term are not ranked.

Scale shape = the BM25 batch path: broadcast dictionary resolution, pruned
segment scan, ONE bucket-keyed shuffle, shared decode per (bucket, term)
across the whole query batch, per-bucket top-k then one global window.

Reference parity: beyond-reference surface (the reference scores only its
dense MaxSim, ``colbert/modeling/colbert_model.py``); cross-checked against
the DataFrame/DuckDB corpus-scan oracle like every other operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from colbert_spark.index.codec import decode_block
from colbert_spark.query.bm25 import query_terms_df
from colbert_spark.query.wand import (
    _EMPTY,
    KERNEL_OUT_SCHEMA,
    TOPK_SCHEMA,
    IndexSearcher,
    bucket_frame_stream,
)

MU_DEFAULT = 2000.0


def make_lm_kernel(query_batch, k: int, mu: float, c_total: float, prefixed: bool):
    """Kernel for one bucket frame: decode each needed term's postings once,
    score every query of the batch with the QL-Dirichlet formula, emit the
    per-bucket top-k per qid. Exhaustive (no pruning metadata exists for this
    scorer — block max_unit is a BM25 bound), which matches the dense BM25
    batch path's cost model."""

    def kernel(pdf: pd.DataFrame, tomb_pdf: pd.DataFrame | None = None) -> pd.DataFrame:
        # `tomb_pdf` arrives only on the cogrouped large-tombstone path
        # (the set is never broadcast — see wand.make_masked_kernel); the
        # small-set path ships `excluded` inside the payload instead
        payload = query_batch.value if hasattr(query_batch, "value") else query_batch
        batch, cf_map, *rest = payload
        excluded = rest[0] if rest else None
        if tomb_pdf is not None and len(tomb_pdf):
            e2 = tomb_pdf["doc_id"].to_numpy(np.int64)
            excluded = e2 if excluded is None else np.union1d(excluded, e2)
        cache: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for tid, sub in pdf.groupby("term_id", sort=False):
            docs_l, tfs_l, dls_l = [], [], []
            for db, tb, lb in zip(sub["doc_bytes"], sub["tf_bytes"], sub["dl_bytes"]):
                docs_l.append(np.cumsum(decode_block(db, prefixed)))
                tfs_l.append(decode_block(tb, prefixed))
                dls_l.append(decode_block(lb, prefixed))
            cache[int(tid)] = (
                np.concatenate(docs_l),
                np.concatenate(tfs_l),
                np.concatenate(dls_l),
            )
        if not cache:
            return _EMPTY
        lo = min(int(d[0].min()) for d in cache.values())
        hi = max(int(d[0].max()) for d in cache.values())
        span = hi - lo + 1
        acc = np.zeros(span, dtype=np.float64)
        dl_span = np.zeros(span, dtype=np.float64)
        for docs, _, dls in cache.values():
            dl_span[docs - lo] = dls  # same dl from every term's stream
        excl_idx = None
        if excluded is not None:
            e = excluded[(excluded >= lo) & (excluded <= hi)]
            if e.size:
                excl_idx = e - lo
        out_q, out_d, out_s = [], [], []
        for qid, tids, qtfs, nq in batch:
            present = [
                (cache[t], float(qtf), float(cf_map[t]))
                for t, qtf in zip(tids, qtfs)
                if t in cache
            ]
            if not present:
                continue
            acc[:] = 0.0
            for (docs, tfs, _), qtf, cf in present:  # ascending term_id
                acc[docs - lo] += qtf * np.log1p(tfs / (mu * cf / c_total))
            if excl_idx is not None:  # deletion tombstones (liveDocs mask)
                acc[excl_idx] = 0.0
            nz = np.flatnonzero(acc)  # tf ≥ 1 ⇒ every match contributes > 0
            if not nz.size:
                continue
            scores = acc[nz] + nq * np.log(mu / (dl_span[nz] + mu))
            top = min(k, nz.size)
            if nz.size > top:
                kth = np.partition(scores, nz.size - top)[nz.size - top]
                keep = scores >= kth
                nz, scores = nz[keep], scores[keep]
            sel = np.lexsort((nz, -scores))[:top]
            out_q.append(np.full(len(sel), qid, dtype=np.int64))
            out_d.append(nz[sel] + lo)
            out_s.append(scores[sel])
        if not out_q:
            return _EMPTY
        return pd.DataFrame(
            {
                "qid": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
        )

    return kernel


def lm_topk_segments(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    mu: float = MU_DEFAULT,
    as_of_epoch: int | None = None,
    tomb_broadcast_max: int = 10_000_000,
) -> DataFrame:
    """queries(qid, question) → (qid, rank, doc_id, score) under
    QL-Dirichlet, from the segment index."""
    s = IndexSearcher(
        spark, index_dir, as_of_epoch=as_of_epoch,
        tomb_broadcast_max=tomb_broadcast_max,
    )
    qt = query_terms_df(queries)
    qrows = (
        s.term_dict.join(F.broadcast(qt), "term")
        .select("qid", "term_id", "qtf", "cf")
        .collect()
    )
    if not qrows:
        return spark.createDataFrame([], TOPK_SCHEMA)
    cf_map = {int(r["term_id"]): float(r["cf"]) for r in qrows}
    by_qid: dict[int, list[tuple[int, int]]] = {}
    for r in qrows:
        by_qid.setdefault(r["qid"], []).append((r["term_id"], r["qtf"]))
    batch = []
    for qid, pairs in by_qid.items():
        pairs.sort()  # ascending term_id == the oracle's accumulation order
        tids = np.array([p[0] for p in pairs], dtype=np.int64)
        qtfs = np.array([p[1] for p in pairs], dtype=np.float64)
        batch.append((qid, tids, qtfs, float(qtfs.sum())))
    all_tids = sorted(cf_map)

    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shuffled = (
        s.pruned_scan(all_tids)
        .repartition(p, "bucket")
        .sortWithinPartitions("bucket", "term_id", "first_doc")
    )
    bc = spark.sparkContext.broadcast((batch, cf_map, s._tomb))
    # legacy stats.json may predate total_cf; avgdl·N prices it exactly
    c_total = float(s.stats.get("total_cf") or s.stats["avgdl"] * s.stats["N"])
    kernel = make_lm_kernel(
        bc, k, float(mu), c_total,
        prefixed=s.stats.get("segver", 2) >= 3,
    )

    if s._tomb_df is not None:
        # large pending-delete set: cogroup the bucket-keyed tombstone slice
        # with the pruned scan (wand.make_masked_kernel shape) — the per-
        # bucket top-k cut must see the mask, and the set is never broadcast
        bucket_size = int(s.stats["bucket_size"])
        # key type must MATCH the left side's bucket dtype: cogroup sides
        # hash-partition on their own key type and int32(v)/int64(v) hash
        # differently (see wand.IndexSearcher.search)
        bucket_type = dict(shuffled.dtypes)["bucket"]
        tomb_b = s._tomb_df.select(
            F.expr(f"doc_id DIV {bucket_size}")
            .cast(bucket_type)
            .alias("bucket"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
        partial = (
            shuffled.groupby("bucket")
            .cogroup(tomb_b.groupby("bucket"))
            .applyInPandas(kernel, KERNEL_OUT_SCHEMA)
        )
    else:
        partial = shuffled.mapInPandas(
            bucket_frame_stream(kernel, _EMPTY, final_topk=k), KERNEL_OUT_SCHEMA
        )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )
