"""Distributed inverted-index build (the analog of the reference's
``./eval.sh index`` pass, ``colbert/indexing/encoder.py:41-161``).

Pipeline (all declarative until the block-encode kernel):

  web_pages scan → html/text extract + tokenize (JVM regexps, codegen)
    → deterministic doc_id assignment (distributed dense rank over url —
      slim-key range partition + per-partition row_number + prefix offsets;
      no single-partition window)
    → exact collection stats (N from the rank offsets, avgdl = Σdoclen/N)
      [north_star: exact]
    → term DICTIONARY ids: dense term_id over the DISTINCT terms (id order
      == lexicographic order — the scorers' float-accumulation order);
      strings never enter the hot path after this point. Exact df/cf are
      aggregated AFTER encoding from the kernel's per-term partials — the
      idf-free block format means nothing needs df before the encode, which
      deletes the postings-scale countDistinct exchange entirely
    → raw exploded tokens (term_id, doc_id, doclen, df) into ONE shuffle.
      **Salted repartition-by-term**, realized as a shuffle on the doc-bucket
      (bucket = doc_id // bucket_size, sub-split for ≥16 keys/slot): a Zipf
      head term with df ≈ 0.5·N is split across every bucket, so no reducer
      ever sees a whole hot posting list (north_rule skew clause), and the
      exchange is balanced by construction (buckets are uniform doc-range
      slices).
    → block encode (mapInPandas, numpy): np.lexsort over int64 keys (no JVM
      sort, no sorter spill), run-length tf recovery, blocks of ≤128 postings
      carrying delta-coded docIDs, tfs and doclens — each block-column packed
      as varbyte or PForDelta, whichever is smaller (self-describing tagged
      payloads, format v3; see `index/codec.py`) — and the exact per-block
      max BM25 contribution (block-max metadata for the WAND/MaxScore query
      kernel)
    → segment parquet under bucket=<b>/tshard=<t>/ dirs, written TASK-LOCALLY
      by the encode kernel (atomic rename; no driver-serial partitionBy
      commit) + manifest row per bucket (term_id range watermarks,
      block/posting counts, status) appended as the job's metadata commit →
      resumable; docs / term_dict / segments sinks run as concurrent driver
      jobs under FAIR scheduling.

The segment layout mirrors the reference's partitioned index parts
(``encoder.py:41,58-67``: 12 static parts, per-rank slices, barrier merge) —
but the merge is a Spark shuffle, not a rank-0 gather.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from colbert_spark.functions.tokenizer import html_text_col, tokens_col
from colbert_spark.index.codec import (
    encode_block_payloads,
    vb_encode_concat,
    vb_encode_payloads,
)
from colbert_spark.oracle import B_DEFAULT, K1_DEFAULT

BLOCK_SIZE = 128
DEFAULT_BUCKET_SIZE = 100_000  # docs per bucket; sized so a bucket's postings
# fit one worker's memory budget (the encode/query kernels' memory contract)
DEFAULT_TSHARDS = 8  # term shards per bucket: segments are laid out as
# bucket=<b>/tshard=<term_id mod TSHARDS>/ so a query touching q terms prunes
# whole partition DIRECTORIES down to ≤min(q, TSHARDS) shards per bucket —
# the on-disk analog of the reference's nprobe-of-partitions IVF probing
# (``colbert/indexing/faiss_indexers.py:173-174``, nprobe=128 of ~2000 lists)

SEGMENT_SCHEMA = (
    "term_id long, bucket long, tshard int, block_id int, first_doc long, "
    "last_doc long, n int, doc_bytes binary, tf_bytes binary, "
    "dl_bytes binary, max_unit double"
)
# Positional indexes (`build_index(positions=True)`, stats["positions"])
# carry one extra nullable column `pos_bytes`: the block's OCCURRENCE-level
# token positions, delta-coded within each posting (first occurrence raw,
# 0-based) and varbyte-packed (tagged, format v3). Occurrence runs are split
# by the decoded tf column (posting i owns the next tf_i deltas). Positions
# are additive: every non-positional reader ignores the column, and the
# non-positional build's shuffle/file schema is byte-identical to before.
# Block metadata is IDF-FREE (format v2): max_unit is the block's max
# tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl)) — the BM25 term contribution for
# qtf=idf=1. The query kernel multiplies in idf resolved from the CURRENT
# term_dict, so appending documents (which changes N and df, hence every
# idf) never invalidates stored blocks, and neither df nor idf ships
# through the build shuffle or sits in 10^7s of block rows.
# what the encode job RETURNS to Spark (the block payloads are written to
# parquet inside the task and never re-cross the Python↔JVM boundary):
# kind=0 rows are bucket-grain manifest partials (term watermarks + counts);
# kind=1 rows are term-grain dictionary partials (n_postings carries the df
# partial — every posting is one distinct (term, doc) — and cf the Σtf).
SUMMARY_SCHEMA = (
    "kind int, bucket long, term_id long, term_lo long, term_hi long, "
    "n_blocks long, n_postings long, cf long"
)


def shuffle_key_exprs(bucket_size: int, tshards: int, n_sub: int) -> list:
    """The build exchange's three salt keys, shared by `build_index`,
    `append_index` and the `shuffle_balance` diagnostic so a balance
    measurement can never drift from the shuffle it claims to measure.

      bucket = doc_id DIV bucket_size   (uniform doc-range slice — the salt
                                         that splits a Zipf head term's
                                         posting list across every bucket)
      tshard = term_id % tshards        (on-disk dir = shuffle slice)
      sub    = intra-bucket doc sub-range (≥16 keys/reducer so few-key
                                         hash-collision variance cannot
                                         itself become the skew source)

    DIV (exact int64 division) matches the encode kernel's `//`
    re-derivation bit-for-bit at any doc_id."""
    return [
        F.expr(f"doc_id DIV {bucket_size}"),
        F.expr(f"term_id % {tshards}"),
        F.expr(f"((doc_id % {bucket_size}) * {n_sub}) DIV {bucket_size}"),
    ]


def choose_n_sub(
    p_shuffle: int,
    n_buckets: int,
    tshards: int,
    total_cf: int = 0,
    max_bucket_cf: int = 0,
    cap: int = 256,
) -> int:
    """Sub-split factor for the build exchange, from two constraints:

    1. **Key-count floor** — ≥16 keys per reducer slot: hash-collision
       variance over FEW keys is itself a skew source (observed 10× task
       spread with buckets alone).
    2. **Token-mass ceiling** — buckets are doc-COUNT-uniform slices, not
       token-MASS-uniform: a crawl range of huge pages (or one page
       repeating a term 10^5×) concentrates its bucket's keys regardless of
       how many keys exist. So the HEAVIEST bucket must split until its
       expected per-key mass ≤ total/(16·p): n_sub ≥
       16·p·max_bucket_cf/(total_cf·tshards). For a uniform corpus
       (max_bucket_cf ≈ total/n_buckets) this reduces exactly to (1).
       max_bucket_cf costs one bucket-grain aggregate over the persisted
       docs (n_buckets rows, never collected beyond sum+max) — the same
       cache-filling job that computes avgdl.

    The cap bounds file-count fan-out (each sub-split restarts block_id and
    adds task-files under its (bucket, tshard) dir). Adversarial proof +
    measured ratios: tests/test_skew.py, SCALE.md §skew. The irreducible
    atomic unit stays one (term, doc) occurrence run — run-length tf
    recovery requires it whole on one reducer; `max_doclen` truncation at
    ingest (the reference's doc_maxlen analog) bounds it."""
    n = max(1, -(-16 * p_shuffle // (n_buckets * tshards)))
    if total_cf > 0 and max_bucket_cf > 0:
        n = max(n, -(-16 * p_shuffle * max_bucket_cf // (total_cf * tshards)))
    return min(n, cap)


def shuffle_balance(
    posts: DataFrame,
    bucket_size: int,
    tshards: int,
    n_sub: int,
    p_shuffle: int,
) -> DataFrame:
    """Per-reducer posting counts of the build exchange — GROUND TRUTH, not a
    model: the postings are pushed through the identical
    `repartition(p, *shuffle_key_exprs(...))` and counted by
    `spark_partition_id()` evaluated map-side in the post-exchange stage, so
    each row of the result is exactly one reducer task's input row count.
    Used by the adversarial-skew test (SCALE.md §skew) to assert the
    max/median task-input bound the 100-TB design claims."""
    shuffled = posts.repartition(
        p_shuffle, *shuffle_key_exprs(bucket_size, tshards, n_sub)
    )
    return (
        shuffled.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_postings"))
    )


def write_term_dict(df: DataFrame, path: str) -> None:
    """Write a dictionary RANGE-PARTITIONED and sorted by `term`: every
    parquet file then covers one lexicographic term range, so sortable
    range predicates (autocomplete `term >= p AND term < p||'\\uffff'`,
    prefix queries) prune whole files/row-groups via parquet min/max stats
    instead of scanning the vocabulary — the Lucene terms-index analog. One
    vocabulary-scale range exchange at build/append/merge time buys every
    future prefix probe an O(matching-range) scan."""
    p = df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(p, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_term_dict_rev(df: DataFrame, dict_path: str) -> None:
    """Write the REVERSED-term sidecar next to a dictionary: (rterm, term)
    range-partitioned and sorted by `rterm` — Lucene's ReverseStringFilter
    field, the index structure that turns a leading-wildcard scan (`%ing`,
    otherwise a full pass over a 10^9-term vocabulary) into a min/max-pruned
    range scan for `gni%`. The sidecar lives at `<dict_path>_rev` so every
    dictionary generation (base, append epochs, expunge rewrites) carries
    its own."""
    p = df.sparkSession.sparkContext.defaultParallelism
    (
        df.select(F.reverse("term").alias("rterm"), "term")
        .repartitionByRange(p, "rterm")
        .sortWithinPartitions("rterm")
        .write.mode("overwrite")
        .parquet(dict_path + "_rev")
    )


def assign_dense_rank(
    df: DataFrame,
    key: str,
    out_col: str,
    partitions: int | None = None,
    unique: bool = False,
) -> DataFrame:
    """Deterministic dense rank of `key` as `out_col`, computed distributedly:
    range-partition by key, row_number within each partition, then add
    broadcast per-partition prefix offsets. No global single-partition
    window, so it holds at 10^12 rows. Used for doc ids (rank over url) and
    the term dictionary (rank over term ⇒ term_id order == lexicographic
    term order, which the scorers rely on for float-summation order).
    """
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    # rank over the SLIM distinct-key projection, then join the mapping back —
    # the wide payload columns never enter the range shuffle or the cache.
    # `unique=True` skips the distinct shuffle when the caller guarantees
    # key uniqueness (urls in web_pages, terms in the dictionary input).
    keys = df.select(key) if unique else df.select(key).distinct()
    ranged = keys.repartitionByRange(p, key)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(key)
    # localCheckpoint (lineage TRUNCATED) before branching: the numbered stage
    # feeds both the per-partition counts and the final mapping. Range
    # partitioning samples with a per-execution seed, so any recompute — AQE
    # compiling the two consumers as separate stages, or a lost cache
    # partition after executor failure — could see DIFFERENT partition
    # boundaries: offsets from one run applied to row numbers of another ⇒
    # duplicate/skipped ranks, and concurrent sink jobs disagreeing on ids.
    # With the lineage cut, recomputation is IMPOSSIBLE rather than unlikely:
    # a lost block fails the job loudly instead of silently re-sampling. At
    # true scale this stage is a durable table checkpoint; the written docs/
    # sink then plays that role for later builds.
    numbered = with_pid.withColumn("_rn", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    cnt_rows = sorted(
        (r["_pid"], r["_cnt"])
        for r in numbered.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in cnt_rows:
        offsets.append((pid, acc))
        acc += cnt
    offs = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    mapping = (
        numbered.join(F.broadcast(offs), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_rn") - 1).cast("long"))
        .select(key, out_col)
    )
    out = df.join(mapping, key)  # AQE broadcasts the slim mapping when small
    # expose the internal cache so callers can release it once their own
    # downstream materialization (e.g. docs.persist) has happened, and the
    # total key count — already exact from the offsets collect, so callers
    # (build_index) never need a separate count job
    out._dense_rank_cache = numbered
    out._dense_rank_total = acc
    return out


def assign_doc_ids(df: DataFrame, key: str = "url", partitions: int | None = None) -> DataFrame:
    """Deterministic dense doc_id = global rank of `key` (FIXTURES.md §1)."""
    return assign_dense_rank(df, key, "doc_id", partitions, unique=True)


def derive_docs(
    web_pages: DataFrame,
    use_html: bool = False,
    max_doclen: int | None = None,
    analyzer: str | None = None,
    stored_cols: list[str] | None = None,
) -> DataFrame:
    """web_pages → docs(doc_id, url, terms, doclen). Tokenization is pure JVM
    expression (whole-stage codegen; zero Python in the hot path).

    `max_doclen` truncates each document to its first N tokens at ingest —
    the reference's doc_maxlen truncation
    (``colbert/modeling/tokenizers.py:12,91``: every doc clipped to
    ``max_seq_length=doc_maxlen`` before encoding). Besides parity, it
    bounds the build exchange's irreducible atomic unit (a single
    ``(term, doc)`` occurrence run must land whole on one reducer for
    run-length tf recovery — see ``choose_n_sub``); doclen and every
    downstream statistic (avgdl, df, cf) see the TRUNCATED document, as in
    the reference."""
    src = web_pages
    if use_html:
        src = src.withColumn("text", html_text_col("html"))
    stored = list(stored_cols or [])
    with_ids = assign_doc_ids(src.select("url", "text", *stored))
    ids_src = with_ids  # holds the dense-rank sidecar attrs; withColumn copies lose them
    terms = tokens_col("text")
    if max_doclen is not None:
        terms = F.slice(terms, 1, int(max_doclen))
    if analyzer is not None:
        # index-level analysis chain (functions/analyzer.py): token filters
        # run AFTER truncation, still pure JVM higher-order expressions
        from colbert_spark.functions.analyzer import analyze_terms_col

        with_ids = with_ids.withColumn("_raw_terms", terms)
        terms = analyze_terms_col("_raw_terms", analyzer)
    out = with_ids.select(
        "doc_id",
        "url",
        *stored,
        terms.alias("terms"),
    ).withColumn("doclen", F.size("terms"))
    out._dense_rank_cache = getattr(ids_src, "_dense_rank_cache", None)
    out._dense_rank_total = getattr(ids_src, "_dense_rank_total", None)
    return out


FIELD_SEP = "\x1f"  # field-qualified term: f"{field}\x1f{term}" — Lucene's
# field:term dictionary keying (one inverted index, terms namespaced per
# field), with U+001F chosen because the tokenizer grammar can never emit it.


def derive_docs_fielded(
    web_pages: DataFrame,
    fields: list[tuple[str, str]],
    max_doclen: int | None = None,
    analyzer: str | None = None,
    stored_cols: list[str] | None = None,
) -> DataFrame:
    """Multi-field ingest: web_pages → docs(doc_id, url, toks_<f> per field,
    len_<f> per field, doclen=Σ field lens). `fields` is a list of
    (field_name, source_column) pairs; each source column tokenizes under
    the SAME grammar/analyzer chain as a plain build (pure JVM expressions).
    One document row per url — the per-field token arrays feed the build's
    single shuffle as field-prefixed tokens whose doclen is the FIELD
    length, giving Lucene's per-field posting lists + field norms from one
    physical index (cf. the reference's doc_maxlen per-surface budgets,
    ``proj_conf/dense.yaml:6-8``)."""
    stored = list(stored_cols or [])
    src_cols = []
    for _, c in fields:
        if c not in src_cols:
            src_cols.append(c)
    with_ids = assign_doc_ids(web_pages.select("url", *src_cols, *stored))
    ids_src = with_ids
    sel = ["doc_id", "url", *stored]
    for name, col in fields:
        t = tokens_col(col)
        if max_doclen is not None:
            t = F.slice(t, 1, int(max_doclen))
        if analyzer is not None:
            from colbert_spark.functions.analyzer import analyze_terms_col

            with_ids = with_ids.withColumn(f"_raw_{name}", t)
            t = analyze_terms_col(f"_raw_{name}", analyzer)
        sel.append(t.alias(f"toks_{name}"))
    out = with_ids.select(*sel)
    total = None
    for name, _ in fields:
        out = out.withColumn(f"len_{name}", F.size(f"toks_{name}"))
        total = F.col(f"len_{name}") if total is None else total + F.col(f"len_{name}")
    out = out.withColumn("doclen", total)
    out._dense_rank_cache = getattr(ids_src, "_dense_rank_cache", None)
    out._dense_rank_total = getattr(ids_src, "_dense_rank_total", None)
    return out


def collection_stats(docs: DataFrame) -> dict:
    """Exact N and avgdl (north_star forbids approximations)."""
    row = docs.agg(
        F.count("*").alias("n_docs"), F.sum("doclen").alias("total_len")
    ).collect()[0]
    n = row["n_docs"]
    return {"N": n, "avgdl": (row["total_len"] or 0) / n if n else 0.0}


def postings_df(docs: DataFrame) -> DataFrame:
    """(term, doc_id, tf, doclen) — explode then partial-agg groupBy.

    The groupBy key includes doc_id, so head-term skew is already spread
    across the shuffle; map-side combine keeps the exchange small.
    (Query-path helper; the index build itself ships RAW exploded tokens into
    its one shuffle and run-length-counts tf inside the encode kernel —
    see `build_index`.)
    """
    return (
        docs.select("doc_id", "doclen", F.explode("terms").alias("term"))
        .groupBy("term", "doc_id", "doclen")
        .agg(F.count("*").alias("tf"))
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """Exact df/cf per term (partial aggregation defuses head-term skew)."""
    return postings.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )


def term_stats_from_tokens(tokens: DataFrame) -> DataFrame:
    """Exact df/cf per term straight from raw (term, doc_id) tokens.

    df = countDistinct(doc_id): two-phase exact distinct — the partial
    aggregation spreads head terms across the map side, so the Zipf head
    never lands on one reducer un-combined."""
    return tokens.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"), F.count("*").alias("cf")
    )


def _encode_arrays(
    raw_docs: np.ndarray,
    raw_terms: np.ndarray,
    raw_buckets: np.ndarray,
    raw_dls: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    tshards: int = DEFAULT_TSHARDS,
    prefixed: bool = True,
    raw_pos: np.ndarray | None = None,
) -> pd.DataFrame:
    """Encode (bucket, term_id, doc_id)-sorted RAW token arrays (one row per
    occurrence) into block rows. tf is recovered by run-length counting the
    sorted (term_id, bucket, doc_id) runs — the map-side-combine work, done
    here instead of a second shuffle. Fully vectorized: run-length collapse,
    block segmentation, scoring, and the payload encodes are each global
    numpy passes over the whole batch; per-block payloads are slices of the
    global buffers. No per-group or per-value Python loop; every column is
    fixed-width int64/float64 (the term dictionary keeps strings out of the
    hot path entirely).

    `prefixed=True` (format v3, the default) writes self-describing payloads:
    1 codec-tag byte + varbyte-or-PForDelta body, smaller one per block per
    column. `prefixed=False` keeps the legacy v2 raw-varbyte payloads — used
    by `append_index` when extending an index built before v3 (on-disk blocks
    of one index must share one payload format).

    `raw_pos` (positional indexes): the token position of every occurrence,
    ascending within each (term, doc) run — the caller's lexsort includes
    pos as its innermost key, so the run order IS position order."""
    n_raw = len(raw_docs)
    # run boundaries of identical (term, bucket, doc_id) = one posting
    new_run = np.empty(n_raw, dtype=bool)
    new_run[0] = True
    new_run[1:] = (
        (raw_terms[1:] != raw_terms[:-1])
        | (raw_buckets[1:] != raw_buckets[:-1])
        | (raw_docs[1:] != raw_docs[:-1])
    )
    starts = np.flatnonzero(new_run)
    tfs = np.diff(np.append(starts, n_raw))
    pos_arg = None
    if raw_pos is not None:
        # delta within each posting run, first occurrence kept raw
        pos_deltas = np.empty_like(raw_pos)
        pos_deltas[0] = raw_pos[0]
        np.subtract(raw_pos[1:], raw_pos[:-1], out=pos_deltas[1:])
        pos_deltas[starts] = raw_pos[starts]
        pos_arg = (pos_deltas, starts)
    return _encode_posting_blocks(
        raw_terms[starts], raw_buckets[starts], raw_docs[starts], tfs,
        raw_dls[starts], k1, b, avgdl, tshards, prefixed, pos=pos_arg,
    )


def _encode_posting_blocks(
    terms: np.ndarray,
    buckets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    tshards: int = DEFAULT_TSHARDS,
    prefixed: bool = True,
    pos: tuple[np.ndarray, np.ndarray] | None = None,
) -> pd.DataFrame:
    """Block-encode COLLAPSED postings (one row per (term, bucket, doc)),
    sorted by (bucket, tshard, term, doc). The shared tail of `_encode_arrays`
    (which collapses raw occurrences first) and of `compact_index` (whose
    inputs are already collapsed postings decoded from existing blocks).

    `pos` (positional indexes) = (occ_deltas, occ_offsets): the occurrence-
    level position deltas (already reset per posting) and each posting's
    first-occurrence index into them; posting i owns occurrences
    [occ_offsets[i], occ_offsets[i] + tfs[i])."""
    if pos is not None and not prefixed:
        raise ValueError("positional blocks require the v3 (tagged) payload format")
    # idf-free unit contribution (format v2, see SEGMENT_SCHEMA note)
    scores = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    # group boundaries: change of (term, bucket) over the collapsed postings
    n_post = len(terms)
    change = np.empty(n_post, dtype=bool)
    change[0] = True
    change[1:] = (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1])
    group_starts = np.flatnonzero(change)
    group_sizes = np.diff(np.append(group_starts, n_post))
    # block segmentation, fully vectorized: a block starts at every group
    # start and every BLOCK_SIZE-th posting within a group
    group_of = np.repeat(np.arange(group_starts.size), group_sizes)
    off_in_group = np.arange(n_post) - group_starts[group_of]
    block_starts = np.flatnonzero(off_in_group % BLOCK_SIZE == 0)
    block_ends = np.append(block_starts[1:], n_post)
    block_ids = (off_in_group[block_starts] // BLOCK_SIZE).astype(np.int32)
    ns = (block_ends - block_starts).astype(np.int32)
    # per-block docID deltas (first of each block kept raw), then ONE global
    # varbyte pass per column; per-block payloads are value-aligned slices
    deltas = np.empty_like(doc_ids)
    deltas[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    deltas[block_starts] = doc_ids[block_starts]
    max_scores = np.maximum.reduceat(scores, block_starts)
    tf_sums = np.add.reduceat(tfs, block_starts)  # per-block Σtf (cf partial)

    def _sliced(vals: np.ndarray) -> list[bytes]:
        if prefixed:
            return encode_block_payloads(vals, block_starts, block_ends)
        buf, sizes = vb_encode_concat(vals)
        offs = np.zeros(n_post + 1, dtype=np.int64)
        np.cumsum(sizes, out=offs[1:])
        raw = buf.tobytes()
        lo = offs[block_starts]
        hi = offs[block_ends]
        return [raw[s:e] for s, e in zip(lo.tolist(), hi.tolist())]

    cols = {
        "term_id": terms[block_starts],
        "bucket": buckets[block_starts],
        "tshard": (terms[block_starts] % tshards).astype(np.int32),
        "block_id": block_ids,
        "first_doc": doc_ids[block_starts],
        "last_doc": doc_ids[block_ends - 1],
        "n": ns,
        "doc_bytes": _sliced(deltas),
        "tf_bytes": _sliced(tfs),
        "dl_bytes": _sliced(dls),
        "max_unit": max_scores,
        # dictionary partial, NOT part of the on-disk block format
        # (dropped by _write_segment_files)
        "tf_sum": tf_sums,
    }
    if pos is not None:
        # block boundaries translated from posting space to occurrence space
        occ_deltas, occ_offsets = pos
        occ_ext = np.append(occ_offsets, len(occ_deltas))
        cols["pos_bytes"] = vb_encode_payloads(
            occ_deltas, occ_ext[block_starts], occ_ext[block_ends]
        )
    return pd.DataFrame(cols)


_SEG_FILE_SCHEMAS: dict[bool, object] = {}  # built lazily in executors


def _seg_file_schema(with_pos: bool = False):
    import pyarrow as pa

    schema = _SEG_FILE_SCHEMAS.get(with_pos)
    if schema is None:
        fields = [
            ("term_id", pa.int64()),
            ("block_id", pa.int32()),
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("n", pa.int32()),
            ("doc_bytes", pa.binary()),
            ("tf_bytes", pa.binary()),
            ("dl_bytes", pa.binary()),
            ("max_unit", pa.float64()),
        ]
        if with_pos:
            fields.append(("pos_bytes", pa.binary()))
        schema = pa.schema(fields)
        _SEG_FILE_SCHEMAS[with_pos] = schema
    return schema


def commit_json(path: str, obj) -> None:
    """Atomically replace `path` with `obj` as JSON: write a dot-tmp file
    beside it, then `os.replace` — a reader (or a crash) sees the old file
    or the new one, never a torn one. Every stats.json / epoch_stats commit
    goes through here."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _write_segment_files(out: pd.DataFrame, seg_dir: str, epoch: int = 0) -> None:
    """TASK-LOCAL segment sink: each encode task writes its own
    `bucket=<b>/tshard=<t>/p<partition>.parquet` files with pyarrow and
    commits them by atomic rename — the driver never serializes a commit.

    Why not `df.write.partitionBy(...)`: Spark's file committer finalizes
    every partition directory ON THE DRIVER after the job; with
    O(buckets × tshards) directories that driver-serial tail was the single
    largest non-scaling cost in the build (measured ~65 s of a 184 s build at
    1024 dirs — and it GROWS with index size while executor work per core
    shrinks, so it caps scaling efficiency). Task-side writes make the sink
    embarrassingly parallel; safety is unchanged because a shuffle
    partition's content is deterministic (rank caches frozen), so any retry
    or speculative attempt rewrites byte-identical files and `os.replace`
    keeps the last write atomic. At real scale the same write goes through
    `pyarrow.fs` to HDFS/S3 (object stores have no cheap rename — which is
    exactly why their committers are metadata-side; our manifest IS that
    metadata commit, appended only after the write job succeeds).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    schema = _seg_file_schema(with_pos="pos_bytes" in out.columns)
    for (bkt, tsh), g in out.groupby(["bucket", "tshard"], sort=False):
        d = os.path.join(seg_dir, f"bucket={int(bkt)}", f"tshard={int(tsh)}")
        os.makedirs(d, exist_ok=True)
        # epoch in the filename: an append build (epoch ≥ 1) adds files next
        # to the base build's without colliding partition ids; blocks from
        # different epochs in one (bucket, tshard) are doc-range-disjoint,
        # which is already the reader's sub-split merge contract
        tmp = os.path.join(d, f".p{pid:06d}.e{epoch}.{os.getpid()}.tmp")
        final = os.path.join(d, f"p{pid:06d}.e{epoch}.parquet")
        tbl = pa.Table.from_pandas(
            g.drop(columns=["bucket", "tshard", "tf_sum"]), preserve_index=False
        ).cast(schema)
        pq.write_table(tbl, tmp)
        os.replace(tmp, final)


def _scrub_epoch_files(root: str, epoch: int) -> int:
    """Delete every data/tmp file of epoch `epoch` under `root` (recursive).

    Called by `append_index` on its UNCOMMITTED epoch before encoding: a
    crashed attempt may have left `p*.e{epoch}.parquet` files behind, and a
    retry with a different `spark.sql.shuffle.partitions` (hence different
    partition ids / n_sub) would write new names next to them instead of
    overwriting — duplicating (term, bucket, doc) postings. Scrubbing is
    safe precisely because the epoch is uncommitted: no reader can reference
    its files until the stats.json commit flips `epochs`."""
    if not os.path.isdir(root):
        return 0
    suffix = f".e{epoch}.parquet"
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(suffix) or (fn.startswith(".") and f".e{epoch}." in fn):
                os.remove(os.path.join(dirpath, fn))
                n += 1
    return n


def _encode_partition(
    k1: float,
    b: float,
    avgdl: float,
    tshards: int = DEFAULT_TSHARDS,
    seg_dir: str | None = None,
    bucket_size: int | None = None,
    epoch: int = 0,
    prefixed: bool = True,
    positions: bool = False,
):
    """mapInPandas kernel over bucket-keyed partitions of UNSORTED raw tokens.

    The partition's token arrays are gathered and sorted HERE with one
    np.lexsort over int64 keys instead of a JVM `sortWithinPartitions` —
    Tungsten's external sort on these volumes was spilling at its page-size
    granularity and dominated task CPU; a columnar radix-style sort of
    fixed-width keys is several times cheaper and spill-free. The memory
    contract is explicit: one partition's tokens must fit the worker (the
    build sizes partitions via bucket_size exactly for this — at 100 TB you
    pick bucket_size so a bucket's postings ≈ a worker's memory budget).

    The encoded blocks are written to parquet HERE, task-locally (see
    `_write_segment_files`); what flows back to Spark is only a per-bucket
    SUMMARY row (term watermarks + counts) — the manifest input. The block
    payload bytes never re-cross the Python↔JVM boundary.
    """

    def fn(batches):
        docs_l, terms_l, buckets_l, dls_l, pos_l = [], [], [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            docs_l.append(pdf["doc_id"].to_numpy(np.int64))
            terms_l.append(pdf["term_id"].to_numpy(np.int64))
            if bucket_size is None:
                buckets_l.append(pdf["bucket"].to_numpy(np.int64))
            dls_l.append(pdf["doclen"].to_numpy(np.int64))
            if positions:
                pos_l.append(pdf["pos"].to_numpy(np.int64))
        if not docs_l:
            return
        docs = np.concatenate(docs_l)
        terms = np.concatenate(terms_l)
        # bucket/tshard are pure functions of (doc_id, term_id): deriving them
        # here keeps them OUT of the shuffle payload (they travel only as the
        # exchange's hash expressions) — ~40% less exchange volume
        buckets = (
            docs // bucket_size if bucket_size is not None else np.concatenate(buckets_l)
        )
        dls = np.concatenate(dls_l)
        raw_pos = np.concatenate(pos_l) if positions else None
        # sort includes the term shard so the emitted rows arrive at the
        # dynamic-partition writer already grouped by (bucket, tshard);
        # positional builds add pos as the innermost key so each posting's
        # occurrence run arrives in ascending-position order
        if positions:
            order = np.lexsort((raw_pos, docs, terms, terms % tshards, buckets))
        else:
            order = np.lexsort((docs, terms, terms % tshards, buckets))
        out = _encode_arrays(
            docs[order], terms[order], buckets[order], dls[order],
            k1, b, avgdl, tshards, prefixed=prefixed,
            raw_pos=raw_pos[order] if positions else None,
        )
        if not len(out):
            return
        if seg_dir is None:
            # no sink (unit tests / ad-hoc use): yield the raw block rows
            yield out
            return
        _write_segment_files(out, seg_dir, epoch)
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
        man.insert(0, "kind", 0)
        tps = (
            out.groupby("term_id")
            .agg(n_postings=("n", "sum"), cf=("tf_sum", "sum"))
            .reset_index()
        )
        tps.insert(0, "kind", 1)
        both = pd.concat([man, tps], ignore_index=True)
        both["kind"] = both["kind"].astype("int32")
        for c in ("bucket", "term_id", "term_lo", "term_hi", "n_blocks", "n_postings", "cf"):
            if c not in both:
                both[c] = pd.NA
            both[c] = both[c].astype("Int64")
        yield both[
            ["kind", "bucket", "term_id", "term_lo", "term_hi", "n_blocks", "n_postings", "cf"]
        ]

    return fn


def build_index(
    spark: SparkSession,
    web_pages: DataFrame,
    index_dir: str,
    bucket_size: int = DEFAULT_BUCKET_SIZE,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    use_html: bool = False,
    resume: bool = True,
    built_at: str = "1970-01-01T00:00:00Z",
    tshards: int = DEFAULT_TSHARDS,
    positions: bool = False,
    max_doclen: int | None = None,
    analyzer: str | None = None,
    stored_cols: list[str] | None = None,
    fields: list[tuple[str, str]] | None = None,
    reverse_dict: bool = False,
) -> dict:
    """Full (resumable) index build. Layout under `index_dir`:

      docs/        doc_id, url, doclen                    (parquet)
      segments/    bucket=<b>/tshard=<t>/ partition dirs of block rows,
                   each file sorted by (term_id, first_doc)  (parquet)
      stats.json   {N, avgdl, k1, b, bucket_size, tshards} (driver-side json)
      manifest/    bucket, term_lo, term_hi, n_blocks, n_postings,
                   status, built_at                       (parquet, appended)

    Segment-row semantics: (term_id, bucket, block_id) is NOT unique — each
    build sub-split (the `sub` load-balancing key below) restarts block_id at
    0 for the same (term_id, bucket). Blocks of one (term_id, bucket) from
    different sub-splits are doc-range-DISJOINT; a reader must merge them
    ordered by first_doc (the query kernel sorts by first_doc and never keys
    on block_id).

    The tshard partition dir (term_id mod tshards) gives query-time
    DIRECTORY pruning: a q-term query reads ≤min(q, tshards) shards/bucket.

    Resume (north_rule lineage clause): buckets present in the manifest with
    status='done' are skipped — their postings are filtered out *before* the
    shuffle, so no recomputation happens. Idempotent because each bucket's
    segment files are written exactly once (parquet dir partition append).
    """
    import time

    phases: dict[str, float] = {}
    t0 = time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal t0
        now = time.perf_counter()
        phases[name] = round(now - t0, 3)
        t0 = now

    if fields:
        # FIELDED build (single-index BM25F): one doc row per url, one token
        # array per field; tokens enter the one shuffle field-prefixed with
        # the FIELD length as their doclen (the dl stream therefore stores
        # Lucene's per-field norm — a prefixed term occurs in exactly one
        # field, so dl stays constant within every (term_id, doc) run).
        docs = derive_docs_fielded(
            web_pages, fields, max_doclen=max_doclen, analyzer=analyzer,
            stored_cols=stored_cols,
        )
    else:
        docs = derive_docs(
            web_pages, use_html=use_html, max_doclen=max_doclen, analyzer=analyzer,
            stored_cols=stored_cols,
        )
    _mark("doc_rank")  # assign_dense_rank's eager offsets collect
    # N is EXACT and already paid for: it is the dense-rank offsets total
    # (urls are unique), so the build never runs a separate count job
    n_docs = int(getattr(docs, "_dense_rank_total", None) or 0)
    rank_cache = getattr(docs, "_dense_rank_cache", None)
    docs = docs.persist()

    # exact collection stats in ONE cheap cache-filling job: Σdoclen over
    # docs == Σcf over the vocabulary, so avgdl (which the encode kernel's
    # unit scores need) never requires a postings-scale aggregation. The
    # same job aggregates at bucket grain first (n_buckets rows, reduced to
    # sum+max before collect) — max_bucket_cf feeds the mass-aware sub-split
    # (choose_n_sub): token mass per bucket is NOT uniform even though doc
    # count is, and the heaviest bucket sets the exchange's skew.
    _faggs = [
        F.sum(f"len_{name}").alias(f"cf_{name}") for name, _ in (fields or [])
    ]
    _brow = (
        docs.groupBy(F.expr(f"doc_id DIV {bucket_size}").alias("bucket"))
        .agg(F.sum("doclen").alias("cf"), *_faggs)
        .agg(
            F.sum("cf").alias("s"),
            F.max("cf").alias("m"),
            *[F.sum(f"cf_{name}").alias(f"cf_{name}") for name, _ in (fields or [])],
        )
        .collect()[0]
    )
    total_cf = int(_brow["s"] or 0)
    max_bucket_cf = int(_brow["m"] or 0)
    _mark("stats_agg")  # tokenize runs here once, into the docs cache
    if rank_cache is not None:
        # url-rank stage done (docs cache is hot). The checkpoint blocks are
        # reclaimed by the ContextCleaner once unreferenced; unpersist is a
        # best-effort early release.
        rank_cache.unpersist()

    # raw exploded tokens go straight into the ONE postings shuffle; tf is
    # recovered by run-length counting in the encode kernel (map-side combine
    # moved into the kernel — saves a whole groupBy exchange of the postings).
    # Positional builds posexplode instead: the occurrence's token position
    # rides the same shuffle as one extra int column (~8 bytes/posting).
    if fields:
        # per-field token streams, unioned: the prefixed term namespaces the
        # posting list, the FIELD length rides as doclen, and positions (if
        # any) are within-field offsets — Lucene's per-field position space
        parts = []
        for name, _ in fields:
            ex = (
                F.posexplode(f"toks_{name}").alias("pos", "term")
                if positions
                else F.explode(f"toks_{name}").alias("term")
            )
            part = docs.select(
                "doc_id", F.col(f"len_{name}").alias("doclen"), ex
            ).withColumn("term", F.concat(F.lit(name + FIELD_SEP), F.col("term")))
            parts.append(part)
        tokens = parts[0]
        for part in parts[1:]:
            tokens = tokens.unionByName(part)
    elif positions:
        tokens = docs.select(
            "doc_id", "doclen", F.posexplode("terms").alias("pos", "term")
        )
    else:
        tokens = docs.select("doc_id", "doclen", F.explode("terms").alias("term"))
    # term DICTIONARY ids: dense rank over the DISTINCT terms (id order ==
    # lexicographic order, preserving the scorers' float-summation order).
    # Map-side partial aggregation collapses the Zipf head before the
    # exchange, so this shuffle is vocabulary-sized, not postings-sized.
    # df/cf do NOT need to exist before encoding (idf-free block format):
    # they fall out of the encode kernel's per-term sidecar partials below —
    # this deletes what used to be the build's single largest exchange, the
    # postings-scale exact-countDistinct df aggregation.
    tdict_ranked = assign_dense_rank(
        tokens.select("term").distinct(), "term", "term_id", unique=True
    )
    tdict_cache = getattr(tdict_ranked, "_dense_rank_cache", None)
    n_terms = int(getattr(tdict_ranked, "_dense_rank_total", None) or 0)
    tdict_ids = tdict_ranked.persist()
    _mark("term_rank")
    stats = {
        "N": n_docs,
        "avgdl": total_cf / n_docs if n_docs else 0.0,
        "total_cf": total_cf,
        "n_terms": n_terms,
        "k1": k1,
        "b": b,
        "bucket_size": bucket_size,
        "tshards": tshards,
        "segver": 3,  # idf-free blocks + self-describing varbyte/PFor payloads
        "positions": positions,  # blocks carry occurrence-position streams
        # ingest truncation (None = unbounded); append_index re-applies it so
        # every epoch's doclen statistics share one truncation contract
        "max_doclen": max_doclen,
        # index-level analysis chain (functions/analyzer.py); every query
        # path and append epoch re-applies it to its tokens
        "analyzer": analyzer,
        # FIELDED index (single-index BM25F): per-field exact collection
        # statistics — postings are keyed f"{field}{FIELD_SEP}{term}" and the
        # dl stream stores the FIELD length (Lucene field norms); None for a
        # plain single-field build
        "fields": (
            {
                name: {
                    # source column recorded so append_index can re-derive
                    # this field's token stream for delta epochs
                    "col": col,
                    "total_cf": int(_brow[f"cf_{name}"] or 0),
                    "avgdl": (
                        int(_brow[f"cf_{name}"] or 0) / n_docs if n_docs else 0.0
                    ),
                }
                for name, col in fields
            }
            if fields
            else None
        ),
        "field_sep": FIELD_SEP if fields else None,
        # STORED FIELDS (Lucene stored fields / doc values): extra input
        # columns carried verbatim into the docs sink, so sort/facet/collapse
        # can be served wholly from the index; appends must supply them
        "stored_cols": list(stored_cols or []),
        # smallest avgdl any committed block was ENCODED with. Block max_unit
        # is exact at its encode-time avgdl, and unit scores grow with avgdl
        # (unit_new/unit_old ≤ avgdl_new/avgdl_old), so the query kernel keeps
        # its pruning bound SOUND after avgdl-raising appends by inflating
        # stored maxima by max(1, avgdl_now / min_enc_avgdl).
        "min_enc_avgdl": total_cf / n_docs if n_docs else 0.0,
        "epochs": 1,  # bumped by append_index; epoch tags segment filenames
        "dict_dir": "term_dict",  # active dictionary (append swaps this)
        "seg_dir": "segments",  # active segment tree (compact_index swaps it)
        # reversed-term sidecar (Lucene ReverseStringFilter): every
        # dictionary generation also writes <dict_dir>_rev sorted by the
        # reversed term, so leading-wildcard expansion range-prunes
        "reverse_dict": bool(reverse_dict),
    }

    manifest_path = os.path.join(index_dir, "manifest")
    os.makedirs(index_dir, exist_ok=True)
    commit_json(os.path.join(index_dir, "stats.json"), stats)
    # immutable per-epoch snapshot (e{k} = state as of epoch k's commit):
    # the base of the index's time-travel surface (IndexSearcher as_of_epoch)
    os.makedirs(os.path.join(index_dir, "epoch_stats"), exist_ok=True)
    commit_json(os.path.join(index_dir, "epoch_stats", "e0.json"), stats)

    # plain join: AQE converts it to broadcast while the vocabulary is small
    # and falls back to a skew-split shuffle join at web-scale vocabularies.
    # The shuffle payload is ONLY (doc_id, doclen, term_id) — plus the
    # occurrence position for positional builds: bucket, tshard and sub
    # travel as hash EXPRESSIONS of the repartition (and are re-derived
    # inside the kernel), never as row columns — and df stays in the
    # dictionary (idf-free block format, see SEGMENT_SCHEMA).
    posts = tokens.join(tdict_ids.select("term", "term_id"), "term").drop("term")
    resumed = resume and os.path.isdir(manifest_path)
    if resumed:
        # anti-join instead of a collected isin literal: at 10^12 docs the
        # manifest holds ~10^7 bucket rows — never driver-materialized; AQE
        # broadcasts the slim bucket list while it is small
        prev_done = (
            spark.read.parquet(manifest_path)
            .filter(F.col("status") == "done")
            .select("bucket")
            .distinct()
        )
        posts = (
            posts.withColumn("bucket", F.expr(f"doc_id DIV {bucket_size}"))
            .join(prev_done, "bucket", "left_anti")
            .drop("bucket")
        )

    # salted repartition-by-term, realized as a shuffle on the doc-bucket:
    # a Zipf head term with df ≈ 0.5·N is split across EVERY bucket (the salt),
    # while each bucket is a uniform doc-range slice — so the exchange is
    # balanced by construction and no reducer ever sees a whole hot posting
    # list. `sub` sub-splits each bucket into contiguous doc ranges so the
    # shuffle has ≳8 keys per slot — hash-collision variance over few keys is
    # itself a skew source (observed 10× task spread with buckets alone).
    # The streaming sorted encode is one Python pass per partition.
    p_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_buckets = max(1, -(-stats["N"] // bucket_size))
    # the term shard joins the shuffle key: (bucket, tshard) is both the
    # on-disk partition dir AND a shuffle slice, so every (bucket, tshard)
    # file is written whole by the task(s) that own it — no cross-task
    # partitionBy fan-out (tasks × dirs tiny-file explosion)
    n_sub = choose_n_sub(
        p_shuffle, n_buckets, tshards, total_cf, max_bucket_cf
    )
    # no JVM sort: the encode kernel lexsorts its partition's fixed-width
    # int64 keys in numpy (see _encode_partition) — cheaper and spill-free.
    # Partition count pinned: AQE would otherwise coalesce the encode stage
    # to its 64MB advisory size and throttle kernel parallelism.
    # DIV (integer division), not float-divide-and-cast: exact at any scale,
    # and identical to the kernel's int64 `//` re-derivation.
    shuffled = posts.repartition(
        p_shuffle, *shuffle_key_exprs(bucket_size, tshards, n_sub)
    )
    seg_path = os.path.join(index_dir, "segments")
    os.makedirs(seg_path, exist_ok=True)
    # the encode kernel writes the segment files itself (task-local atomic
    # pyarrow writes — no driver-serial partitionBy commit, and the block
    # payloads never re-cross into the JVM); the job's OUTPUT is only the
    # tiny per-bucket summary rows that become the manifest
    summaries = shuffled.mapInPandas(
        _encode_partition(
            k1, b, stats["avgdl"], tshards, seg_path, bucket_size, epoch=0,
            positions=positions,
        ),
        schema=SUMMARY_SCHEMA,
    )

    def _write_segments_dict_manifest() -> None:
        t = time.perf_counter()
        # ONE encode job: shuffle → encode + task-local segment-file writes →
        # tiny summary rows. The summaries feed TWO small sinks: the term
        # dictionary (df/cf aggregated from kind=1 partials — this is what
        # lets the build skip a postings-scale countDistinct exchange
        # entirely) and then the manifest (kind=0 partials to bucket grain).
        # Ordering is the commit protocol: segment files and term_dict are in
        # place BEFORE the manifest append marks buckets done — a crash
        # before the append leaves nothing marked, and the deterministic
        # rerun rewrites identical files.
        summaries.persist()
        if resumed:
            # bucket-resume means this run's summaries cover only the
            # REBUILT buckets — df/cf for surviving buckets are not in them.
            # Recovery is the rare path: recount exactly from the corpus.
            term_dict = (
                term_stats_from_tokens(tokens)
                .join(tdict_ids, "term")
                .select("term", "df", "cf", "term_id")
            )
        else:
            term_dict = (
                summaries.filter(F.col("kind") == 1)
                .groupBy("term_id")
                .agg(F.sum("n_postings").alias("df"), F.sum("cf").alias("cf"))
                .join(tdict_ids, "term_id")
                .select("term", "df", "cf", "term_id")
            )
        write_term_dict(term_dict, os.path.join(index_dir, "term_dict"))
        if reverse_dict:
            write_term_dict_rev(
                spark.read.parquet(os.path.join(index_dir, "term_dict")),
                os.path.join(index_dir, "term_dict"),
            )
        phases["seg_dict_write"] = round(time.perf_counter() - t, 3)
        t = time.perf_counter()
        (
            summaries.filter(F.col("kind") == 0)
            .groupBy("bucket")
            .agg(
                F.min("term_lo").alias("term_lo"),
                F.max("term_hi").alias("term_hi"),
                F.sum("n_blocks").alias("n_blocks"),
                F.sum("n_postings").alias("n_postings"),
            )
            .withColumn("status", F.lit("done"))
            .withColumn("built_at", F.lit(built_at))
            .write.mode("append")
            .parquet(manifest_path)
        )
        summaries.unpersist()
        phases["manifest_commit"] = round(time.perf_counter() - t, 3)

    def _write_docs() -> None:
        flen_cols = [f"len_{name}" for name, _ in (fields or [])]
        docs.select(
            "doc_id", "url", "doclen", *flen_cols, *(stored_cols or [])
        ).write.mode("overwrite").parquet(os.path.join(index_dir, "docs"))

    # the two sinks are independent — submit them from concurrent driver
    # threads so the small docs job fills the scheduler gaps of the big one
    # (driver-side dead time between stages is the scaling killer on short
    # stages; on a real cluster this is the standard multi-job pattern)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(_write_segments_dict_manifest),
            pool.submit(_write_docs),
        ]
        for fut in futures:
            fut.result()  # re-raise the first failure
    _mark("sinks")
    tdict_ids.unpersist()
    if tdict_cache is not None:
        tdict_cache.unpersist()
    docs.unpersist()
    stats["phase_secs"] = phases  # build metrics (north_rule lineage+metrics)
    return stats


def append_index(
    spark: SparkSession,
    new_pages: DataFrame,
    index_dir: str,
    use_html: bool = False,
    built_at: str = "1970-01-01T00:00:00Z",
) -> dict:
    """Incrementally extend an existing index with new documents — the
    engine capability the idf-free block format (segver 2) exists for.

    What appends and what merges:
      * new docs take doc_ids after the committed N ⇒ their buckets extend
        the bucket range; their blocks land NEXT TO existing files under the
        same layout with an `e<epoch>` filename tag (doc-range-disjoint from
        every earlier epoch — the reader's existing sub-split merge contract);
      * the term dictionary is MERGED (df/cf summed; unseen terms get ids
        after the committed n_terms) and written as an immutable
        `term_dict_e<epoch>` directory;
      * stored block metadata needs NO rewrite: blocks carry idf-free unit
        scores, and the query path resolves idf from the active dictionary,
        so the N/df shift re-prices every historic posting correctly.

    Atomicity: `stats.json` is the single commit pointer (N, avgdl, n_terms,
    epochs, active dict_dir) and is written LAST. Every prior step writes
    deterministic content to deterministic paths (task-local atomic renames;
    the anti-join that defines "new" reads only the committed doc_id < N
    prefix), so a crashed append is healed by re-running the same batch:
    uncommitted files are simply rewritten byte-identically. Re-running a
    COMMITTED append is a no-op (url anti-join). The manifest may carry
    duplicate bucket rows after a crash-retry; all consumers read it
    distinct-by-bucket. Scores after a commit equal a fresh full build to
    float-summation order (appended vocabulary ids break the lexicographic
    id order, shifting sums by ≤1 ulp per term).
    """
    import time

    t_start = time.perf_counter()
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if stats.get("segver", 1) < 2:
        raise ValueError("append_index requires a segver>=2 (idf-free) index")
    fields_meta = stats.get("fields")
    field_list: list[tuple[str, str]] = []
    if fields_meta:
        # FIELDED epoch (single-index BM25F): re-derive per-field token
        # streams for the delta from the source columns the base build
        # recorded, update per-field total_cf/avgdl, and keep the idf-free
        # epoch mechanics identical (the reference analog stays the per-part
        # incremental encode, encoder.py:41-67)
        for name, meta in fields_meta.items():
            col = meta.get("col")
            if not col:
                raise ValueError(
                    "this fielded index predates field source-column "
                    "recording (stats.json fields[*].col); rebuild with "
                    "build_index(fields=...) to enable fielded appends"
                )
            field_list.append((name, col))
    bucket_size = stats["bucket_size"]
    tshards = stats["tshards"]
    epoch = stats["epochs"]
    n_committed = stats["N"]

    src = new_pages
    if use_html:
        src = src.withColumn("text", html_text_col("html"))
    committed_docs = spark.read.parquet(
        os.path.join(index_dir, stats.get("docs_dir", "docs"))
    ).filter(F.col("doc_id") < n_committed)  # ignore crashed-append ghosts
    if stats.get("tomb_dir"):
        # a TOMBSTONED url is no longer committed: re-appending it inserts a
        # fresh doc under a new id (the upsert path — index/delete.py); the
        # old id stays masked until expunge. Deterministic on retry: the
        # tombstone set was committed before this append started.
        tomb = spark.read.parquet(os.path.join(index_dir, stats["tomb_dir"]))
        committed_docs = committed_docs.join(
            F.broadcast(tomb), "doc_id", "left_anti"
        )
    committed_urls = committed_docs.select("url")
    _stored = list(stats.get("stored_cols") or [])
    positions = bool(stats.get("positions", False))
    if field_list:
        _src_cols: list[str] = []
        for _, c in field_list:
            if c not in _src_cols:
                _src_cols.append(c)
        fresh = src.select("url", *_src_cols, *_stored).join(
            committed_urls, "url", "left_anti"
        )
    else:
        fresh = src.select("url", "text", *_stored).join(
            committed_urls, "url", "left_anti"
        )
    with_ids = assign_dense_rank(fresh, "url", "doc_id", unique=True)
    n_new = int(getattr(with_ids, "_dense_rank_total", 0) or 0)
    if n_new == 0:
        return stats
    if field_list:
        # per-field token arrays under the base build's exact contracts
        # (truncation per field, then the analysis chain — derive_docs_fielded)
        sel = [
            (F.col("doc_id") + F.lit(n_committed)).cast("long").alias("doc_id"),
            "url",
            *_stored,
        ]
        for name, col in field_list:
            _t = tokens_col(col)
            if stats.get("max_doclen"):
                _t = F.slice(_t, 1, int(stats["max_doclen"]))
            if stats.get("analyzer"):
                from colbert_spark.functions.analyzer import analyze_terms_col

                with_ids = with_ids.withColumn(f"_raw_{name}", _t)
                _t = analyze_terms_col(f"_raw_{name}", stats["analyzer"])
            sel.append(_t.alias(f"toks_{name}"))
        docs = with_ids.select(*sel)
        _dl_total = None
        for name, _ in field_list:
            docs = docs.withColumn(f"len_{name}", F.size(f"toks_{name}"))
            _dl_total = (
                F.col(f"len_{name}")
                if _dl_total is None
                else _dl_total + F.col(f"len_{name}")
            )
        docs = docs.withColumn("doclen", _dl_total).persist()
        # field-prefixed token streams, unioned — the FIELD length rides as
        # doclen and positions are within-field offsets, exactly the base
        # build's single-shuffle shape
        _parts = []
        for name, _ in field_list:
            _ex = (
                F.posexplode(f"toks_{name}").alias("pos", "term")
                if positions
                else F.explode(f"toks_{name}").alias("term")
            )
            _parts.append(
                docs.select(
                    "doc_id", F.col(f"len_{name}").alias("doclen"), _ex
                ).withColumn(
                    "term", F.concat(F.lit(name + FIELD_SEP), F.col("term"))
                )
            )
        tokens = _parts[0]
        for _p in _parts[1:]:
            tokens = tokens.unionByName(_p)
    else:
        _terms = tokens_col("text")
        if stats.get("max_doclen"):
            # the base build's ingest-truncation contract applies per epoch
            _terms = F.slice(_terms, 1, int(stats["max_doclen"]))
        if stats.get("analyzer"):
            # the base build's analysis chain applies to every epoch
            from colbert_spark.functions.analyzer import analyze_terms_col

            with_ids = with_ids.withColumn("_raw_terms", _terms)
            _terms = analyze_terms_col("_raw_terms", stats["analyzer"])
        docs = (
            with_ids.select(
                (F.col("doc_id") + F.lit(n_committed)).cast("long").alias("doc_id"),
                "url",
                *_stored,
                _terms.alias("terms"),
            )
            .withColumn("doclen", F.size("terms"))
            .persist()
        )
        if positions:
            tokens = docs.select(
                "doc_id", "doclen", F.posexplode("terms").alias("pos", "term")
            )
        else:
            tokens = docs.select(
                "doc_id", "doclen", F.explode("terms").alias("term")
            )
    delta = term_stats_from_tokens(tokens).persist()

    # dictionary merge against the ACTIVE (immutable) dictionary
    old_dict = spark.read.parquet(
        os.path.join(index_dir, stats.get("dict_dir", "term_dict"))
    )
    merged_old = old_dict.join(
        delta.select("term", F.col("df").alias("ddf"), F.col("cf").alias("dcf")),
        "term",
        "left",
    ).select(
        "term",
        (F.col("df") + F.coalesce("ddf", F.lit(0))).cast("long").alias("df"),
        (F.col("cf") + F.coalesce("dcf", F.lit(0))).cast("long").alias("cf"),
        "term_id",
    )
    new_terms = delta.join(old_dict.select("term"), "term", "left_anti")
    ranked_new = assign_dense_rank(new_terms, "term", "term_id", unique=True)
    n_new_terms = int(getattr(ranked_new, "_dense_rank_total", 0) or 0)
    merged = merged_old.unionByName(
        ranked_new.select(
            "term",
            "df",
            "cf",
            (F.col("term_id") + F.lit(stats["n_terms"])).cast("long").alias("term_id"),
        )
    )
    dict_dir = f"term_dict_e{epoch}"
    write_term_dict(merged, os.path.join(index_dir, dict_dir))
    active = spark.read.parquet(os.path.join(index_dir, dict_dir))  # lineage cut
    if stats.get("reverse_dict"):
        # the epoch's dictionary generation carries its own reversed sidecar
        write_term_dict_rev(active, os.path.join(index_dir, dict_dir))
    delta_cf = int(delta.agg(F.sum("cf")).collect()[0][0] or 0)
    delta.unpersist()

    # encode the new docs' postings into epoch-tagged segment files (same
    # salted shuffle + kernel as the base build)
    posts = tokens.join(active.select("term", "term_id"), "term").drop("term")
    p_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_buckets = max(1, -(-(n_committed + n_new) // bucket_size))
    # mass-aware sub-split over the DELTA's buckets only (the shuffle carries
    # only new postings): a small append concentrated in the tail bucket gets
    # n_sub ≈ 16·p/tshards — full encode parallelism instead of one key
    _brow = (
        docs.groupBy(F.expr(f"doc_id DIV {bucket_size}").alias("bucket"))
        .agg(
            F.sum("doclen").alias("cf"),
            *[
                F.sum(f"len_{name}").alias(f"cf_{name}")
                for name, _ in field_list
            ],
        )
        .agg(
            F.sum("cf").alias("s"),
            F.max("cf").alias("m"),
            *[
                F.sum(f"cf_{name}").alias(f"cf_{name}")
                for name, _ in field_list
            ],
        )
        .collect()[0]
    )
    delta_field_cf = {
        name: int(_brow[f"cf_{name}"] or 0) for name, _ in field_list
    }
    n_sub = choose_n_sub(
        p_shuffle, n_buckets, tshards, int(_brow["s"] or 0), int(_brow["m"] or 0)
    )
    shuffled = posts.repartition(
        p_shuffle, *shuffle_key_exprs(bucket_size, tshards, n_sub)
    )
    seg_path = os.path.join(index_dir, stats.get("seg_dir", "segments"))
    docs_dir = os.path.join(index_dir, stats.get("docs_dir", "docs"))
    # Epoch e{epoch} is UNCOMMITTED by definition (stats["epochs"] == epoch
    # until the stats.json replace below), so any *.e{epoch}.parquet already
    # on disk is an orphan of a crashed attempt. A retry under a different
    # spark.sql.shuffle.partitions would otherwise write differently-named
    # files NEXT TO those orphans and duplicate postings for the same
    # (term, bucket, doc) — scrub them before encoding.
    _scrub_epoch_files(seg_path, epoch)
    _scrub_epoch_files(docs_dir, epoch)
    summaries = shuffled.mapInPandas(
        _encode_partition(
            stats["k1"], stats["b"], stats["avgdl"], tshards, seg_path,
            bucket_size, epoch=epoch,
            # appended blocks must share the index's payload format: a v2
            # index keeps raw-varbyte payloads, v3+ the codec-tagged ones —
            # and a positional index's new blocks carry positions too
            prefixed=stats.get("segver", 2) >= 3,
            positions=positions,
        ),
        schema=SUMMARY_SCHEMA,
    )
    (
        # kind==1 rows are term-grain dictionary partials (null bucket):
        # only kind==0 bucket summaries belong in the manifest, exactly as
        # in the base build's sink above
        summaries.filter(F.col("kind") == 0)
        .groupBy("bucket")
        .agg(
            F.min("term_lo").alias("term_lo"),
            F.max("term_hi").alias("term_hi"),
            F.sum("n_blocks").alias("n_blocks"),
            F.sum("n_postings").alias("n_postings"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("built_at", F.lit(built_at))
        .write.mode("append")
        .parquet(os.path.join(index_dir, "manifest"))
    )

    # docs delta: deterministic task-local files (idempotent on retry);
    # docs_dir (bound above) is a stats.json pointer after an expunging
    # compaction

    _flen_cols = [f"len_{name}" for name, _ in field_list]
    docs_out = docs.select("doc_id", "url", "doclen", *_flen_cols, *_stored)
    # pin EVERY column (stored included) to the Arrow type Spark's schema
    # dictates, matching the base build's Spark-written parquet: a stored
    # numeric column with nulls arrives in pandas as float64 and would
    # otherwise land as double next to the base epoch's int64 files, breaking
    # subsequent reads of the docs directory
    from pyspark.sql.pandas.types import to_arrow_type

    _arrow_types = [(f.name, to_arrow_type(f.dataType)) for f in docs_out.schema]

    def _docs_writer(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values("doc_id")
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        tmp = os.path.join(docs_dir, f".p{pid:06d}.e{epoch}.{os.getpid()}.tmp")
        final = os.path.join(docs_dir, f"p{pid:06d}.e{epoch}.parquet")
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        for name, typ in _arrow_types:
            i = tbl.schema.get_field_index(name)
            tbl = tbl.set_column(i, name, tbl[name].cast(typ))
        pq.write_table(tbl, tmp)
        os.replace(tmp, final)
        yield pd.DataFrame({"n": [len(pdf)]})

    docs_out.repartition(p_shuffle, "doc_id").mapInPandas(
        _docs_writer, "n long"
    ).count()
    docs.unpersist()

    # THE commit: one atomic stats.json replace
    stats.update(
        {
            "N": n_committed + n_new,
            "total_cf": stats.get("total_cf", int(stats["avgdl"] * n_committed))
            + delta_cf,
            "n_terms": stats["n_terms"] + n_new_terms,
            "epochs": epoch + 1,
            "dict_dir": dict_dir,
        }
    )
    # this epoch's blocks were encoded with the PRE-append avgdl (the value
    # the kernel above was handed); track the minimum encode-time avgdl so
    # the query kernel can keep its block-max pruning bound sound (see
    # build_index's min_enc_avgdl note)
    stats["min_enc_avgdl"] = min(
        stats.get("min_enc_avgdl", stats["avgdl"]), stats["avgdl"]
    )
    # live_docs (present only after an expunging compaction) is the Lucene
    # numDocs — appended docs are live, and avgdl is the mean LIVE doclen
    if "live_docs" in stats:
        stats["live_docs"] = stats["live_docs"] + n_new
    stats["avgdl"] = stats["total_cf"] / stats.get("live_docs", stats["N"])
    if field_list:
        # per-field exact statistics roll forward with the epoch (the BM25F
        # query path prices field norms from these — fts_bm25f_index)
        for name, _ in field_list:
            meta = stats["fields"][name]
            meta["total_cf"] = int(meta["total_cf"]) + delta_field_cf[name]
            meta["avgdl"] = meta["total_cf"] / stats.get(
                "live_docs", stats["N"]
            )
    stats["append_secs"] = round(time.perf_counter() - t_start, 3)
    # immutable snapshot for time-travel (see build_index's e0 counterpart);
    # written BEFORE the commit pointer: a crash in between leaves stats.json
    # unmoved, so the retried append re-runs and rewrites it byte-identically
    os.makedirs(os.path.join(index_dir, "epoch_stats"), exist_ok=True)
    commit_json(os.path.join(index_dir, "epoch_stats", f"e{epoch}.json"), stats)
    commit_json(os.path.join(index_dir, "stats.json"), stats)
    return stats
