"""Document deletion — tombstones now, physical removal at compaction.

The Lucene liveDocs model, because it is the only one that works for a
log-structured index at scale: a delete NEVER touches posting blocks. It
records the doc_id in a tombstone set; query kernels mask tombstoned docs
out of every result BEFORE the top-k cut; a later `compact_index(...,
expunge_deletes=True)` merge physically drops the postings and recomputes
collection statistics (the forceMergeDeletes analog).

Scoring semantics between delete and expunge are Lucene's: collection
statistics (N, df, avgdl) stay encode-time — deleted docs still count in
idf until the expunging merge — so a tombstoned search is EXACTLY a
filtered search over the complement (the standard filtered-retrieval
contract, same oracle). After expunge, statistics equal a fresh build over
the surviving docs.

Id-space semantics are Lucene's maxDoc/numDocs split: doc_ids are STABLE
across delete and expunge (no renumbering — renumbering would re-bucket
every posting, i.e. a full rebuild). `stats["N"]` remains the id-space
bound (bucket math, fsck ranges, epoch clipping); `stats["live_docs"]`,
written only by expunge, is the live count scoring uses from then on.

Commit protocol (same shape as compaction): the merged tombstone set is
written to a NEW generation directory `tombstones_t{gen}/`, then one
atomic stats.json replace flips `tomb_dir`. A crash leaves the previous
generation live. Deletes apply to the LIVE view only; `as_of_epoch=k`
time-travel snapshots deliberately show the pre-delete corpus (a snapshot
is "the index as of that commit", and deletes are not epoch commits).

Scale note: searchers hold a SMALL pending-delete set as one sorted int64
array in kernel broadcasts (Lucene holds the same information as
per-segment bitsets). Past `IndexSearcher(tomb_broadcast_max)` (default
10^7 ids ≈ 80 MB) the searcher switches representation automatically: the
parquet-backed set stays distributed and masks through a per-bucket
cogroup (`wand.make_masked_kernel`, the `search_filtered` exchange shape)
or exact post-kernel anti-joins on uncut match sets — no driver collect,
no broadcast, no format change. An expunging compaction resets either
representation to empty.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_spark.index.build import commit_json


def delete_docs(spark: SparkSession, index_dir: str, doc_ids: DataFrame) -> dict:
    """Tombstone `doc_ids` (a DataFrame with a `doc_id` column, index id
    space). Idempotent: already-tombstoned ids merge away; out-of-range ids
    are rejected. Returns the updated stats dict (`n_deleted` = total live
    tombstones)."""
    stats_path = os.path.join(index_dir, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    new = doc_ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    n_bad = new.filter(
        (F.col("doc_id") < 0) | (F.col("doc_id") >= stats["N"])
    ).count()
    if n_bad:
        raise ValueError(f"{n_bad} doc_ids outside [0, N={stats['N']})")
    cur = stats.get("tomb_dir")
    if cur:
        new = new.unionByName(
            spark.read.parquet(os.path.join(index_dir, cur))
        ).distinct()
    gen = stats.get("tomb_gen", 0) + 1
    name = f"tombstones_t{gen}"
    new.coalesce(1).write.mode("overwrite").parquet(os.path.join(index_dir, name))
    n_deleted = spark.read.parquet(os.path.join(index_dir, name)).count()
    stats["tomb_dir"] = name
    stats["tomb_gen"] = gen
    stats["n_deleted"] = int(n_deleted)
    commit_json(stats_path, stats)
    old = os.path.join(index_dir, f"tombstones_t{gen - 1}")
    if os.path.isdir(old):
        import shutil

        shutil.rmtree(old, ignore_errors=True)
    return stats


def upsert_index(
    spark: SparkSession,
    new_pages: DataFrame,
    index_dir: str,
    use_html: bool = False,
) -> dict:
    """Update-or-insert by url: tombstone the LIVE doc of every url present
    in `new_pages`, then append every row as a fresh doc (ids allocated
    past N, the standard append path — `append_index` treats tombstoned
    urls as no longer committed). The old version stays masked until
    `compact_index(expunge_deletes=True)` physically drops it; between the
    two, queries see exactly the new versions. Crash-safe by composition:
    the delete commits first and both halves are idempotent, so a retry
    re-runs to the same state."""
    import json

    from colbert_spark.index.build import append_index

    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    docs = spark.read.parquet(
        os.path.join(index_dir, stats.get("docs_dir", "docs"))
    ).filter(F.col("doc_id") < stats["N"])
    # plain joins, NO broadcast hints: the url set is CALLER-sized (a bulk
    # re-crawl can carry 10^9 urls) and the tombstone set grows between
    # compactions — AQE picks broadcast when either side is actually small
    hit = docs.join(new_pages.select("url").distinct(), "url").select("doc_id")
    if stats.get("tomb_dir"):
        hit = hit.join(
            spark.read.parquet(os.path.join(index_dir, stats["tomb_dir"])),
            "doc_id",
            "left_anti",
        )
    if hit.limit(1).count():
        delete_docs(spark, index_dir, hit)
    return append_index(spark, new_pages, index_dir, use_html=use_html)


def load_tombstones(index_dir: str, stats: dict):
    """The live tombstone set as a sorted int64 ndarray, or None. Read on
    the driver through pyarrow, no Spark job; like `spark.read.parquet`,
    pyarrow's default `ignore_prefixes` skip '.' and '_' files (`.crc`,
    `_SUCCESS`). See the module docstring for the driver-memory contract."""
    name = stats.get("tomb_dir")
    if not name:
        return None
    ids = (
        pads.dataset(os.path.join(index_dir, name), format="parquet")
        .to_table(columns=["doc_id"])
        .column("doc_id")
        .to_numpy()
    )
    if not len(ids):
        return None
    return np.sort(ids.astype(np.int64))
