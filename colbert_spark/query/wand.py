"""Batched block-max top-k query engine over compressed posting segments.

The classical analog of the reference's two-stage pruned retrieval
(``colbert/ranking/colbert_ranker.py:176-210``: IVF probe with nprobe ≪
partitions shortlists candidates cheaply, then exact MaxSim re-ranks) and of
its batched query service (``colbert/training/dense_server_client.py:21-66``:
client batches of 1024 queries against one loaded index): per-block max-score
metadata lets the scorer skip postings blocks that cannot beat the running
top-k threshold, then exact BM25 re-scores the survivors — for ALL queries of
the batch in one pass over the index.

Algorithm: **block-max MaxScore** (same family as block-max WAND; chosen
because MaxScore's essential/non-essential split vectorizes cleanly with
numpy, where WAND's pivot walk is per-doc sequential). Exactness argument:

  * seed θ = k-th best EXACT single-term score among postings of the
    highest-upper-bound term, decoding that term's blocks in descending
    block-max order only until ≥k postings are seen (exact scores are lower
    bounds of the docs' final scores, so their k-th best is a valid lower
    bound of the true k-th best — never over-prunes);
  * terms sorted by upper bound ub_t = qtf·max_block_score ascending; the
    largest prefix with Σ ub < θ is "non-essential" — a doc appearing ONLY in
    non-essential terms scores < θ and cannot enter the top-k;
  * a block B of an essential term t is skipped for candidate generation iff
    qtf·B.max + (Σ ub − ub_t) < θ — even a doc taking B's max plus every
    other term's full upper bound stays below θ;
  * surviving candidates are re-scored EXACTLY against all query terms
    (decoding only blocks whose [first_doc, last_doc] range contains a
    candidate — the skip-pointer use of the block metadata), accumulated in
    float64 in ascending term_id order (== lexicographic term order — the
    dictionary is a dense rank over term), the same addition order as the
    pure-Python oracle, so scores are bit-identical, and ties break
    (−score, doc_id).

Batch distribution (the 10^12-doc × 10^4-query design):

  * the ENTIRE query batch is resolved to term_ids with ONE broadcast join
    (qt ⋈ term_dict) and collected once — the query batch is small by
    definition; the INDEX is never collected;
  * segments are pruned at the source: partition-directory pruning on
    `tshard` (term_id mod `stats["tshards"]` — the analog of the reference's
    nprobe=128-of-2000 IVF list probing) plus parquet row-group pruning on
    the pushed `term_id` range/in filters. (The manifest's per-bucket
    (term_lo, term_hi) watermarks cannot prune here BY CONSTRUCTION: buckets
    are doc-range slices, so every bucket contains nearly the full vocabulary
    and its term range spans it — which is exactly why the build moved the
    term dimension INTO the layout as the tshard partition key, making the
    equivalent pruning a directory listing instead of a manifest lookup;
    `tests/test_query_service.py::test_cold_scan_prunes_files` asserts the
    file set actually read);
  * ONE shuffle keyed by `bucket` alone — each matching block's compressed
    bytes cross the exchange exactly once, regardless of how many queries
    share its term (the old per-qid replication was O(#queries × blocks));
  * the kernel receives one bucket's blocks, groups them by term_id ONCE,
    decodes every needed block AT MOST ONCE into a bucket-level cache, and
    runs MaxScore for every query in the broadcast batch against that cache
    (document-at-a-time per bucket, shared decode);
  * per-bucket top-k then a global Window per qid: global top-k ⊆ union of
    per-bucket top-k.

`IndexSearcher.warm()` keeps the bucket-partitioned, sorted segments persisted
in memory, so repeated batches pay ZERO exchange — the per-batch plan is
filter → mapInPandas → window (the analog of the reference's resident index
server, ``dense_server_client.py:81-111``).
"""

from __future__ import annotations

import json
import os
import threading
from collections import Counter, OrderedDict
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from colbert_spark.functions.tokenizer import py_tokenize
from colbert_spark.index.codec import decode_block
from colbert_spark.query.bm25 import query_terms_df  # noqa: F401 (re-export)

KERNEL_OUT_SCHEMA = "qid long, doc_id long, score double"
TOPK_SCHEMA = "qid long, rank int, doc_id long, score double"
SHARDED_TOPK_SCHEMA = "qid long, rank long, url string, score double"


class Resolved(NamedTuple):
    """One resolved query batch (see `IndexSearcher._resolve_batch`).

    Tuple-compatible: legacy consumers unpack the first four fields."""

    batch: list  # [(qid, term_ids asc int64[], qtfs float64[]), ...]
    idf_map: dict  # term_id → current idf (positives ∪ negatives ∪ required)
    all_tids: list  # sorted(idf_map) — the pruned-scan term set
    neg_map: dict  # qid → ascending negated term_ids (must_not)
    n_tokens: dict  # qid → DISTINCT in-grammar token count, OOV included
    # qid → list of int64 arrays: doc must match ≥1 term of EVERY group
    # (Lucene MUST / ES bool-filter context — constrains, does not score).
    # A qid whose require groups cannot all resolve is dropped from `batch`
    # at resolution (a required term with no postings matches nothing).
    req_map: dict = {}

_EMPTY = pd.DataFrame(
    {
        "qid": pd.Series([], dtype="int64"),
        "doc_id": pd.Series([], dtype="int64"),
        "score": pd.Series([], dtype="float64"),
    }
)

# the block-table columns the point path keeps per term (`_split_blocks`)
_BLOCK_COLS = [
    "bucket", "term_id", "first_doc", "last_doc", "max_unit",
    "doc_bytes", "tf_bytes", "dl_bytes",
]

_NO_DOCS = np.empty(0, dtype=np.int64)
_NO_SCORES = np.empty(0, dtype=np.float64)


def _point_result(docs: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    """Every `search_point` exit, empty included: exact top-k by (score DESC,
    doc_id ASC) as int64/int64/float64 rank/doc_id/score over a RangeIndex.
    From numpy, never pandas Series (~5× the cost per query)."""
    sel = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame(
        {
            "rank": np.arange(1, len(sel) + 1, dtype=np.int64),
            "doc_id": docs[sel].astype(np.int64, copy=False),
            "score": scores[sel].astype(np.float64, copy=False),
        },
        copy=False,  # docs[sel] and scores[sel] are fresh copies
    )


def _split_blocks(pdf: pd.DataFrame, term_ids: list[int]) -> dict:
    """Point block-LRU entries (frame, bytes) per term of one collected
    block table: a stable argsort + `searchsorted` split, O(rows log rows)
    where a mask per term is O(terms × rows). Each frame keeps its rows'
    collect order, owns its memory and has a RangeIndex. Bytes are what
    `memory_usage(deep=True)` reports (values + object payloads), taken
    from per-row prefix sums: that call costs ~0.3 ms per frame."""
    tid = pdf["term_id"].to_numpy()
    order = np.argsort(tid, kind="stable")
    srt, ordered = tid[order], pdf.take(order)
    row_nb = np.zeros(len(ordered), dtype=np.int64)
    for c in ordered.columns:
        v = ordered[c].to_numpy()
        row_nb += v.itemsize
        if v.dtype == object:
            row_nb += np.array([x.__sizeof__() for x in v], np.int64)
    cum = np.concatenate([[0], np.cumsum(row_nb)]).tolist()
    lo = np.searchsorted(srt, term_ids, side="left")
    hi = np.searchsorted(srt, term_ids, side="right")
    out: dict[int, tuple[pd.DataFrame, int]] = {}
    for t, a, z in zip(term_ids, lo.tolist(), hi.tolist()):
        sub = ordered.iloc[a:z].reset_index(drop=True)
        out[t] = (sub, cum[z] - cum[a] + sub.index.memory_usage(deep=True))
    return out


def _bm25(tfs: np.ndarray, dls: np.ndarray, idf: float, k1: float, b: float, avgdl: float):
    t = tfs.astype(np.float64)
    return idf * t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dls / avgdl))


# Per-task cap on RESIDENT DECODED postings across one kernel invocation
# (one bucket frame). The compressed block rows themselves are the kernel's
# irreducible input (the Arrow frame Spark hands it); this cap bounds the
# *expansion* — the _TermBlocks decode caches — which is otherwise
# O(Σ_t postings(t, bucket) × 16 B) over the batch's full term set and can
# exceed executor memory for a 1000-query batch against a dense bucket.
# SCALE.md §query derives the full contract.
DECODE_CACHE_BYTES = 1 << 30


class _DecodeBudget:
    """LRU cap on resident decoded posting bytes across the `_TermBlocks` of
    ONE kernel invocation. `full()` admits its (docs, units) arrays; when the
    total exceeds `cap`, least-recently-used terms' caches are dropped (they
    recompute from the compressed rows the frame still holds — correctness
    is untouched, the over-cap regime degrades to recompute-per-use). The
    just-admitted term is never evicted, so a single term larger than the
    whole cap still scores: the floor of the contract is ONE term's decoded
    postings, which `bucket_size` bounds by construction (a term has ≤
    bucket_size postings in a bucket)."""

    __slots__ = ("cap", "used", "peak", "evictions", "_lru")

    def __init__(self, cap: int):
        self.cap = int(cap)
        self.used = 0
        self.peak = 0
        self.evictions = 0
        self._lru: OrderedDict[int, tuple] = OrderedDict()

    def admit(self, tb: "_TermBlocks") -> None:
        key = id(tb)
        prev = self._lru.pop(key, None)
        if prev is not None:
            self.used -= prev[1]
        docs, units = tb._full
        nb = int(docs.nbytes + units.nbytes)
        self._lru[key] = (tb, nb)
        self.used += nb
        if self.used > self.peak:
            self.peak = self.used
        while self.used > self.cap and len(self._lru) > 1:
            old_key = next(iter(self._lru))
            if old_key == key:
                break
            old_tb, old_nb = self._lru.pop(old_key)
            old_tb._full = None
            self.used -= old_nb
            self.evictions += 1

    def touch(self, tb: "_TermBlocks") -> None:
        key = id(tb)
        if key in self._lru:
            self._lru.move_to_end(key)


class _TermBlocks:
    """Per-(bucket, term) block metadata + shared lazy decode cache.

    Blocks for one (term_id, bucket) may come from several build sub-splits
    or append epochs (block_id restarts per split; epochs are doc-range-
    disjoint but one epoch's salted sub-splits INTERLEAVE doc sets — the
    salt hashes docs, it does not range-partition), so they are keyed by
    frame row position, not block_id, and nothing here assumes cross-block
    doc order (scoring is scatter-add; pruning is per-block). `idf` comes from the
    CURRENT term_dict (stored block metadata is idf-free, format v2+), so the
    same blocks stay exact after `append_index` changes N and df. `prefixed`
    selects the payload format: v3+ payloads carry a codec tag byte
    (varbyte or PForDelta per block); v2 payloads are raw varbyte.

    `max_scale` keeps the pruning bound SOUND across appends: stored
    max_unit is exact at the block's ENCODE-time avgdl, but unit scores grow
    with avgdl (unit_new/unit_old ≤ avgdl_new/avgdl_old — add tf ≥ 0 to both
    sides of the K(dl) ratio), so after an avgdl-raising append the stored
    maxima are inflated by max(1, avgdl_now / min_enc_avgdl). Exact scoring
    is untouched; only the upper bounds widen, so pruning stays exact."""

    __slots__ = (
        "idf", "unit_max", "firsts", "lasts", "maxs", "rows", "_dec", "_full",
        "prefixed", "budget", "_fsorted", "_seed",
    )

    def __init__(
        self,
        sub: pd.DataFrame,
        idf: float,
        prefixed: bool = True,
        max_scale: float = 1.0,
        budget: "_DecodeBudget | None" = None,
    ):
        self.budget = budget
        self.idf = float(idf)
        self.prefixed = prefixed
        self.maxs = sub["max_unit"].to_numpy(np.float64) * (self.idf * max_scale)
        self.firsts = sub["first_doc"].to_numpy(np.int64)
        self.lasts = sub["last_doc"].to_numpy(np.int64)
        self.unit_max = float(self.maxs.max())
        self.rows = (
            sub["doc_bytes"].to_numpy(),
            sub["tf_bytes"].to_numpy(),
            sub["dl_bytes"].to_numpy(),
        )
        self._dec: dict[int, tuple] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        self._fsorted: tuple | None = None  # doc-sorted view of _full
        self._seed: np.ndarray | None = None  # top-unit doc ids (point seed)

    def decode(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        dec = self._dec.get(i)
        if dec is None:
            docs = np.cumsum(decode_block(self.rows[0][i], self.prefixed))
            tfs = decode_block(self.rows[1][i], self.prefixed)
            dls = decode_block(self.rows[2][i], self.prefixed)
            dec = (docs, tfs, dls)
            self._dec[i] = dec
        return dec

    def full(self, k1: float, b: float, avgdl: float) -> tuple[np.ndarray, np.ndarray]:
        """(docs, per-posting UNIT scores) for the whole term in this
        bucket — decoded and scored exactly ONCE no matter how many queries
        of the batch contain the term. Docs are UNIQUE (one posting per doc;
        sub-splits partition docs) but NOT globally sorted (sub-splits
        interleave) — consumers scatter-add, which needs neither order nor
        np.add.at. unit = idf·tf·(k1+1)/(tf+K·dl) so a query's contribution
        is just qtf × unit."""
        if self._full is None:
            order = np.argsort(self.firsts, kind="stable")
            parts = [self.decode(int(i)) for i in order]
            docs = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            dls = np.concatenate([p[2] for p in parts])
            self._full = (docs, _bm25(tfs, dls, self.idf, k1, b, avgdl))
            # the dense path never reads block-grain decodes after the
            # whole-term arrays exist — dropping them halves the resident
            # expansion (a later decode() recomputes, it does not break)
            self._dec.clear()
            if self.budget is not None:
                self.budget.admit(self)
        elif self.budget is not None:
            self.budget.touch(self)
        return self._full

    def full_sorted(
        self, k1: float, b: float, avgdl: float
    ) -> tuple[np.ndarray, np.ndarray]:
        """`full()` with the (docs, units) arrays DOC-SORTED — the layout
        the driver point path's MaxScore needs for binary-search probes of
        non-essential terms. The sorted arrays REPLACE `_full` (scatter-add
        consumers are order-independent, so the dense pass is unaffected);
        the sort runs once per (term, bucket) and survives budget eviction
        by rebuilding through `full()`."""
        if self._full is not None and self._fsorted is self._full:
            if self.budget is not None:
                self.budget.touch(self)
            return self._fsorted
        docs, units = self.full(k1, b, avgdl)
        if len(docs) > 1 and not (np.diff(docs) > 0).all():
            order = np.argsort(docs, kind="stable")
            self._full = (docs[order], units[order])
            if self.budget is not None:  # same bytes; refresh the LRU entry
                self.budget.admit(self)
        self._fsorted = self._full
        return self._fsorted

    def seed_docs(self, k1: float, b: float, avgdl: float, n: int = 1024) -> np.ndarray:
        """Doc ids of this term's top-`n` unit scores in the bucket — the
        point path's θ-seed candidates (scored FULLY against all query
        terms, their kth best is a tight lower bound of the true kth best).
        Cached forever: ~8 KB, deterministic, eviction-independent."""
        if self._seed is None:
            docs, units = self.full_sorted(k1, b, avgdl)
            if len(units) > n:
                top = np.argpartition(units, len(units) - n)[len(units) - n:]
                self._seed = np.sort(docs[top])
            else:
                self._seed = docs.copy()
        return self._seed


def _score_query_in_bucket(
    terms: list[tuple[_TermBlocks, float]],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[np.ndarray, np.ndarray]:
    """MaxScore for ONE query against one bucket's (already grouped, shared-
    decode) term blocks. `terms` is ordered by ascending term_id. Returns
    (doc_ids, scores) of the per-bucket top-k."""
    ubs = np.array([tb.unit_max * qtf for tb, qtf in terms])
    order = np.argsort(ubs, kind="stable")
    total_ub = float(ubs.sum())

    # --- seed θ: exact-score the highest-impact term's best blocks until ≥k
    # postings are seen (descending block-max order maximizes θ early)
    seed_tb, seed_qtf = terms[order[-1]]
    seed_scores: list[np.ndarray] = []
    seen = 0
    for i in np.argsort(-seed_tb.maxs, kind="stable"):
        docs, tfs, dls = seed_tb.decode(int(i))
        seed_scores.append(seed_qtf * _bm25(tfs, dls, seed_tb.idf, k1, b, avgdl))
        seen += len(docs)
        if seen >= k:
            break
    theta = 0.0
    if seen >= k:
        seed = np.concatenate(seed_scores)
        theta = float(np.partition(seed, len(seed) - k)[len(seed) - k])

    # --- essential terms: smallest suffix whose excluded prefix sums < θ
    sorted_ubs = ubs[order]
    prefix = np.concatenate([[0.0], np.cumsum(sorted_ubs)])
    j = int(np.searchsorted(prefix, theta, side="left"))
    essential = order[max(j - 1, 0):]

    # --- candidate generation with block-max skipping
    cand_parts = []
    for ti in essential:
        tb, qtf = terms[ti]
        rest = total_ub - ubs[ti]
        keep = np.flatnonzero(qtf * tb.maxs + rest >= theta)
        for i in keep:
            cand_parts.append(tb.decode(int(i))[0])
    if not cand_parts:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    cands = np.unique(np.concatenate(cand_parts))

    # --- exact re-score of candidates, ascending-term_id order (matches the
    # oracle's float64 accumulation order bit-for-bit)
    scores = np.zeros(len(cands), dtype=np.float64)
    lo_doc, hi_doc = cands[0], cands[-1]
    for tb, qtf in terms:
        hit = np.flatnonzero((tb.firsts <= hi_doc) & (tb.lasts >= lo_doc))
        for i in hit:
            docs, tfs, dls = tb.decode(int(i))
            idx = np.searchsorted(cands, docs)
            valid = (idx < len(cands)) & (cands[np.minimum(idx, len(cands) - 1)] == docs)
            if valid.any():
                contrib = qtf * _bm25(tfs[valid], dls[valid], tb.idf, k1, b, avgdl)
                scores[idx[valid]] += contrib

    top = min(k, len(cands))
    sel = np.lexsort((cands, -scores))[:top]
    return cands[sel], scores[sel]


def _prune_score_bucket(
    terms: list[tuple[_TermBlocks, float]],
    k: int,
    theta0: float,
    k1: float,
    b: float,
    avgdl: float,
    stats: dict,
    dense_hint: bool = False,
) -> tuple[np.ndarray, np.ndarray, bool]:
    """Classic MaxScore over the point path's budget-cached whole-term
    arrays, for ONE query in one bucket. θ starts at `theta0` — the
    caller's running GLOBAL top-k threshold (the distributed kernel has no
    cross-bucket θ; the driver does). Three phases:

      1. SEED: the top-upper-bound term's cached top-unit docs are scored
         FULLY (all terms, binary-search probes) — their kth best is a
         tight lower bound of the true kth best, so θ starts near the final
         threshold even when every term has a similar bound (where the
         kernel's single-term seed cannot prune at all).
      2. SELECT: terms split at the largest ascending-upper-bound prefix
         with mass P_m < θ (a doc containing ONLY those non-essential terms
         scores < θ). One scatter-add accumulates the ESSENTIAL terms'
         exact contributions; docs survive iff acc_E + P_m ≥ θ. This is the
         pruning win: non-essential terms — for a Zipf query, the head-term
         streams — are never scanned.
      3. RESCORE: survivors (few, by construction) are re-scored from
         scratch in ascending term_id order via sorted-array probes, so
         final scores are float64 sums in the oracle's accumulation order —
         bit-identical to the dense pass.

    Every bound is slackened by a 1e-9 relative margin before a skip
    (conservative only — extra survivors re-score exactly), so float
    rounding in the bound arithmetic can never drop a true top-k doc.
    Returns (docs, scores, used_dense): the bucket's top-k keeping ties at
    the kth score, plus whether this bucket degraded to the dense scatter —
    the caller passes that back as `dense_hint` so a query whose first
    (highest-bound) bucket proved unselective skips selection in the rest."""
    empty = (np.empty(0, np.int64), np.empty(0, np.float64), dense_hint)
    ubs = np.array([tb.unit_max * qtf for tb, qtf in terms])
    total_ub = float(ubs.sum())
    slack0 = 1e-9 * theta0
    if total_ub < theta0 - slack0:
        return empty
    # cached doc-sorted (docs, units) per term; count cold whole-term
    # decodes (the instrumentation the hot path must show near-zero)
    arrs = []
    for tb, _ in terms:
        cold = tb._full is None
        arrs.append(tb.full_sorted(k1, b, avgdl))
        if cold:
            stats["blocks_decoded"] += len(tb.maxs)
            stats["postings_decoded"] += len(arrs[-1][0])
    order = np.argsort(ubs, kind="stable")

    def exact_scores(cands: np.ndarray) -> np.ndarray:
        """Exact float64 scores of a sorted doc array: ascending term_id
        accumulation via binary-search probes of the sorted term arrays
        (a doc has at most one posting per term, so per-doc addition order
        is exactly the oracle's)."""
        scores = np.zeros(len(cands), dtype=np.float64)
        for (tb, qtf), (docs, units) in zip(terms, arrs):
            pos = np.searchsorted(docs, cands)
            valid = (pos < len(docs)) & (
                docs[np.minimum(pos, len(docs) - 1)] == cands
            )
            if valid.any():
                scores[valid] += qtf * units[pos[valid]]
        return scores

    theta = theta0
    seed_tb = terms[order[-1]][0]
    sd = seed_tb.seed_docs(k1, b, avgdl)
    if len(sd) >= k:
        ss = exact_scores(sd)
        theta = max(
            theta, float(np.partition(ss, len(ss) - k)[len(ss) - k])
        )

    slack = 1e-9 * theta
    prefix = np.concatenate([[0.0], np.cumsum(ubs[order])])
    j = int(np.searchsorted(prefix, theta - slack, side="left"))
    m = max(j - 1, 0)  # number of non-essential (never-scanned) terms
    p_m = float(prefix[m])
    essential = order[m:]

    lo = min(int(tb.firsts.min()) for tb, _ in terms)
    hi = max(int(tb.lasts.max()) for tb, _ in terms)
    span = hi - lo + 1
    total_postings = sum(len(a[0]) for a in arrs)

    empty2 = (np.empty(0, np.int64), np.empty(0, np.float64))

    def dense_exact() -> tuple[np.ndarray, np.ndarray]:
        """Exact scatter of EVERY term over the same cached arrays — one
        pass per term in ascending term_id order, so per-doc float
        accumulation stays the oracle's (a doc has one posting per term;
        dense-slot adds happen in term iteration order). The pruned path's
        cost floor: ≈ the dense pass's per-query work, never more."""
        acc = np.zeros(span, dtype=np.float64)
        for (tb, qtf), (docs, units) in zip(terms, arrs):
            acc[docs - lo] += qtf * units
            stats["postings_scanned"] += len(docs)
        nz = np.flatnonzero(acc)
        if not nz.size:
            return empty2
        sub = acc[nz]
        keepd = sub >= theta - slack
        nz, sub = nz[keepd], sub[keepd]
        if not nz.size:
            return empty2
        if len(nz) > k:
            kth = np.partition(sub, len(sub) - k)[len(sub) - k]
            km = sub >= kth
            nz, sub = nz[km], sub[km]
        return nz + lo, sub.copy()

    ess_postings = sum(len(arrs[ti][0]) for ti in essential)
    if dense_hint or 2 * ess_postings > total_postings:
        # PRE-checks: the query's first (highest-bound) bucket already
        # proved unselective (`dense_hint` — bucket bounds are near-uniform
        # for one query, so later buckets will too), or the essential lists
        # alone carry most of the bucket's postings. Either way selection
        # cannot pay for itself: go dense directly.
        d, s = dense_exact()
        return d, s, True

    if 4 * ess_postings < span:
        # SPARSE selection: the essential lists are tiny next to the bucket
        # span, so O(span) dense arrays (zeros + flatnonzero sweeps) would
        # dominate the query — build the candidate union directly and
        # accumulate essential contributions by searchsorted position
        # (each term's docs are unique, so positional += never collides
        # within one term's add)
        cand0 = np.unique(
            np.concatenate([arrs[ti][0] for ti in essential])
        )
        acc_e = np.zeros(len(cand0), dtype=np.float64)
        for ti in essential:
            docs, units = arrs[ti]
            acc_e[np.searchsorted(cand0, docs)] += terms[ti][1] * units
            stats["postings_scanned"] += len(docs)
        stats["postings_skipped"] += total_postings - ess_postings
        sel = acc_e + p_m >= theta - slack
        cands = cand0[sel]
        if not cands.size:
            return empty
        if cands.size * len(terms) > total_postings:
            stats["postings_skipped"] -= total_postings - ess_postings
            d, s = dense_exact()
            return d, s, True
        scores = exact_scores(cands)
    else:
        acc = np.zeros(span, dtype=np.float64)
        for ti in essential:
            docs, units = arrs[ti]
            acc[docs - lo] += terms[ti][1] * units
            stats["postings_scanned"] += len(docs)
        stats["postings_skipped"] += total_postings - ess_postings
        # acc > 0 excludes empty slots of the bucket span (and docs
        # matching only non-essential terms — score ≤ P_m < θ by the split)
        surv = np.flatnonzero((acc > 0) & (acc + p_m >= theta - slack))
        if not surv.size:
            return empty
        if surv.size * len(terms) > total_postings:
            # POST-check (weak DATA selectivity despite a real split): the
            # per-survivor probes would cost more than scanning everything
            stats["postings_skipped"] -= total_postings - ess_postings
            d, s = dense_exact()
            return d, s, True
        cands = surv + lo
        scores = exact_scores(cands)
    # θ is the exact score of a real kth-best doc seen so far (pool or this
    # bucket's seed), so anything strictly below it cannot reach the global
    # top-k; the slack keeps boundary ties
    keep = scores >= theta - slack
    cands, scores = cands[keep], scores[keep]
    if not len(cands):
        return empty

    top = min(k, len(cands))
    if len(cands) > top:
        kth = np.partition(scores, len(scores) - top)[len(scores) - top]
        km = scores >= kth  # keep ties; the global cut tie-breaks exactly
        cands, scores = cands[km], scores[km]
    return cands, scores, dense_hint


# Batches at least this large score through the shared dense path. Block-max
# pruning wins only while θ is selective (few queries, small k): a batch of B
# queries collectively touches nearly every block of its terms, so per-query
# pruning re-decodes nothing but still pays its per-block Python bookkeeping
# B times. The dense path inverts the loop: decode + unit-score each term
# ONCE per bucket, then each query is ~|terms| numpy scatter-adds. Both paths
# are exact and accumulate float64 in ascending-term order (oracle-identical).
DENSE_BATCH_MIN = 4
# min_match sentinel: require EVERY distinct query term (boolean-AND)
MATCH_ALL = -1


def _like_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a SQL-LIKE pattern (backslash escapes) —
    the sortable range bound that lets `expand_like` prune the range-sorted
    dictionary's parquet row groups. Empty for leading-wildcard patterns."""
    out: list[str] = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(pattern[i + 1])
            i += 2
            continue
        if c in "%_":
            break
        out.append(c)
        i += 1
    return "".join(out)


def _score_batch_dense(
    groups: dict[int, _TermBlocks],
    batch,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    allowed: np.ndarray | None = None,
    min_match: int = 1,
    neg_map: dict | None = None,
    excluded: np.ndarray | None = None,
    req_map: dict | None = None,
    allowed_map: dict | None = None,
) -> tuple[list, list, list]:
    """Shared-decode exhaustive scoring of a whole query batch against one
    bucket. Docs inside a bucket span a contiguous id range (bucket =
    doc_id // bucket_size), so per-query accumulation is a dense scatter-add
    over that span — no sorting, no searchsorted, no per-block loop.

    `allowed` (filtered retrieval): global doc_ids the caller permits; all
    other docs are masked out BEFORE top-k selection, so ranks/scores are
    exactly those of a search restricted to the allowed set (collection
    statistics — idf, avgdl — deliberately stay corpus-wide, the standard
    filtered-search contract).

    `min_match` (minimum-should-match): only docs matching ≥ this many
    DISTINCT query terms are ranked (batch tids are distinct per qid, so one
    int scatter-add per term counts exactly). `min_match=MATCH_ALL` requires
    EVERY query term (boolean-AND): the threshold becomes the query's own
    term count — a term with no postings in this bucket then correctly
    zeroes the whole bucket (no doc here can contain it).

    `neg_map` (boolean must_not): qid → ndarray of NEGATED term_ids; any doc
    containing any of them is zeroed after accumulation. Negated terms'
    blocks arrive in the same bucket frame as the positives (doc-range
    bucketing puts all of one doc's postings in one bucket), so exclusion is
    bucket-local — no extra exchange, no global excluded-doc set.

    `excluded` (deletion tombstones): sorted global doc_ids masked out of
    every query's results (Lucene liveDocs); scoring statistics deliberately
    stay encode-time until an expunging compaction (see index/delete.py).

    `req_map` (boolean MUST / filter context): qid → list of term_id groups;
    a doc survives only if it contains ≥1 term of EVERY group (a plain
    required term is a singleton group; a required wildcard is the group of
    its dictionary expansions). Bucket-local like negation — a doc's
    postings all live in its own bucket, so a group with no postings here
    eliminates every doc of this bucket for that query. Required terms do
    NOT add score (ES bool-`filter`); list them in the positives too for
    Lucene's scored-MUST.

    `allowed_map` (PER-QUERY filtered retrieval): qid → sorted global
    doc_ids permitted for THAT query only; qids absent from the map are
    unconstrained. The per-query analog of `allowed` — used by the
    query-string path, where a phrase clause in a mixed query filters only
    its own query's candidates. Composes with `allowed` (both masks
    apply)."""
    lo = min(int(tb.firsts.min()) for tb in groups.values())
    hi = max(int(tb.lasts.max()) for tb in groups.values())
    acc = np.zeros(hi - lo + 1, dtype=np.float64)
    mask = None
    if allowed is not None:
        mask = np.zeros(hi - lo + 1, dtype=bool)
        a = allowed[(allowed >= lo) & (allowed <= hi)]
        mask[a - lo] = True
    cnt = np.zeros(hi - lo + 1, dtype=np.int32) if min_match != 1 else None
    excl_idx = None
    if excluded is not None:
        e = excluded[(excluded >= lo) & (excluded <= hi)]
        if e.size:
            excl_idx = e - lo
    out_q, out_d, out_s = [], [], []
    for qid, tids, qtfs in batch:
        thr = len(tids) if min_match == MATCH_ALL else min_match
        present = [
            (groups[t], float(qtf)) for t, qtf in zip(tids, qtfs) if t in groups
        ]
        if not present or len(present) < thr:
            continue
        amask = None
        if allowed_map is not None and qid in allowed_map:
            qa = allowed_map[qid]
            qa = qa[(qa >= lo) & (qa <= hi)]
            if not qa.size:
                continue  # this query's allowed set misses the bucket
            amask = np.zeros(hi - lo + 1, dtype=bool)
            amask[qa - lo] = True
        rmask = None
        if req_map is not None and qid in req_map:
            dead = False
            for grp in req_map[qid]:
                gmask = np.zeros(hi - lo + 1, dtype=bool)
                hit = False
                for rt in grp:
                    rtb = groups.get(int(rt))
                    if rtb is not None:
                        rdocs, _ = rtb.full(k1, b, avgdl)
                        gmask[rdocs - lo] = True
                        hit = True
                if not hit:
                    # the whole group is absent from this bucket: no doc
                    # here can satisfy the conjunction
                    dead = True
                    break
                rmask = gmask if rmask is None else (rmask & gmask)
            if dead:
                continue
        acc[:] = 0.0
        if cnt is not None:
            cnt[:] = 0
        for tb, qtf in present:  # ascending term_id == oracle's order
            docs, units = tb.full(k1, b, avgdl)
            acc[docs - lo] += qtf * units
            if cnt is not None:
                cnt[docs - lo] += 1
        if mask is not None:
            acc[~mask] = 0.0
        if amask is not None:
            acc[~amask] = 0.0
        if rmask is not None:
            acc[~rmask] = 0.0
        if cnt is not None:
            acc[cnt < thr] = 0.0
        if neg_map is not None:
            for nt in neg_map.get(qid, ()):
                ntb = groups.get(int(nt))
                if ntb is not None:
                    ndocs, _ = ntb.full(k1, b, avgdl)
                    acc[ndocs - lo] = 0.0
        if excl_idx is not None:
            acc[excl_idx] = 0.0
        nz = np.flatnonzero(acc)
        if not nz.size:
            continue
        sub = acc[nz]
        if k is None:  # full scored match set, no cut, order irrelevant
            out_q.append(np.full(nz.size, qid, dtype=np.int64))
            out_d.append(nz + lo)
            out_s.append(sub.copy())
            continue
        top = min(k, nz.size)
        if nz.size > top:
            # keep every doc tied with the k-th score, then tie-break exactly
            kth = np.partition(sub, nz.size - top)[nz.size - top]
            keep = sub >= kth
            nz, sub = nz[keep], sub[keep]
        sel = np.lexsort((nz, -sub))[:top]
        out_q.append(np.full(len(sel), qid, dtype=np.int64))
        out_d.append(nz[sel] + lo)
        out_s.append(sub[sel])
    return out_q, out_d, out_s


def make_batch_kernel(
    query_batch,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dense_min: int = DENSE_BATCH_MIN,
    prefixed: bool = True,
    max_scale: float = 1.0,
    min_match: int = 1,
    decode_cache_bytes: int = DECODE_CACHE_BYTES,
):
    """Kernel for one complete bucket frame: group blocks by term once, share
    decodes across ALL queries in the batch, emit per-bucket top-k per qid.
    Small batches go through block-max MaxScore (pruning pays off); batches
    ≥ `dense_min` through the dense shared-scoring pass (see above).
    `min_match` > 1 forces the dense pass (θ pruning is unsound under a
    match-count constraint, same argument as the filtered kernel).

    `query_batch` is a broadcast (or plain) pair (batch, idf_map) — or triple
    (batch, idf_map, neg_map) for boolean must_not: batch is a list of
    (qid, term_ids, qtfs) with term_ids ascending; idf_map maps every
    referenced term_id (negated ones included) to its CURRENT idf (blocks
    are stored idf-free); neg_map maps qid → negated term_ids. Exclusion
    forces the dense pass — θ pruning seeded from soon-to-be-excluded docs
    could over-prune, the same soundness argument as filters/min_match."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        payload = query_batch.value if hasattr(query_batch, "value") else query_batch
        batch, idf_map, *rest = payload
        neg_map = rest[0] if len(rest) > 0 else None
        excluded = rest[1] if len(rest) > 1 else None
        req_map = rest[2] if len(rest) > 2 else None
        budget = _DecodeBudget(decode_cache_bytes)
        groups: dict[int, _TermBlocks] = {}
        for tid, sub in pdf.groupby("term_id", sort=False):
            tid = int(tid)
            groups[tid] = _TermBlocks(
                sub.sort_values("first_doc"), idf_map[tid], prefixed, max_scale,
                budget=budget,
            )
        if (
            len(batch) >= dense_min
            or min_match != 1
            or neg_map
            or req_map
            or excluded is not None
        ):
            # require forces the dense pass: θ pruning seeded from docs a
            # required group will eliminate could over-prune (the same
            # soundness argument as negation/filters/min_match)
            out_q, out_d, out_s = _score_batch_dense(
                groups, batch, k, k1, b, avgdl, min_match=min_match,
                neg_map=neg_map, excluded=excluded, req_map=req_map,
            )
        else:
            out_q, out_d, out_s = [], [], []
            for qid, tids, qtfs in batch:
                terms = [
                    (groups[t], float(qtf))
                    for t, qtf in zip(tids, qtfs)
                    if t in groups
                ]
                if not terms:
                    continue
                docs, scores = _score_query_in_bucket(terms, k, k1, b, avgdl)
                if len(docs):
                    out_q.append(np.full(len(docs), qid, dtype=np.int64))
                    out_d.append(docs)
                    out_s.append(scores)
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


def bucket_frame_stream(kernel, empty: pd.DataFrame, final_topk: int | None = None):
    """mapInPandas generator factory: feed `kernel` one COMPLETE bucket frame
    at a time. The trailing (possibly incomplete) bucket group of each Arrow
    batch carries into the next, so a bucket never splits across kernel calls
    and Python overhead is per-partition, not per-bucket. Shared by every
    bucket-keyed scorer (BM25 batch, QL-Dirichlet, phrase/NEAR).

    `final_topk=k`: merge the per-BUCKET top-k outputs into one per-
    PARTITION per-qid top-k before emitting. Exact, because the cut uses
    the identical total order as the downstream global window
    ((score DESC, doc_id ASC) on exact floats): global top-k ⊆ union of
    per-partition top-k under one total order. At production bucket counts
    (100s of buckets per reducer) this shrinks the global-merge exchange by
    the buckets-per-partition factor — per-partition rows go from
    O(#buckets·|Q|·k) to O(|Q|·k)."""

    # fold the running buffer whenever it exceeds this many rows: peak task
    # memory stays O(FOLD_ROWS + one bucket's output) instead of
    # O(#buckets · |Q| · k) — after a fold the buffer is ≤ |Q| · k rows
    FOLD_ROWS = 1 << 18

    def _cut(frames: list[pd.DataFrame]) -> pd.DataFrame:
        allp = pd.concat(frames, ignore_index=True)
        order = np.lexsort(
            (allp["doc_id"].to_numpy(), -allp["score"].to_numpy())
        )
        allp = allp.iloc[order]
        keep = allp.groupby("qid", sort=False).cumcount() < final_topk
        return allp[keep].reset_index(drop=True)

    def stream(batches):
        tail: pd.DataFrame | None = None
        acc: list[pd.DataFrame] = []
        acc_rows = 0

        def emit(frame: pd.DataFrame):
            nonlocal acc, acc_rows
            if final_topk is None:
                return frame
            if len(frame):
                acc.append(frame)
                acc_rows += len(frame)
                if acc_rows > FOLD_ROWS:
                    # per-qid cut is idempotent and associative under the
                    # shared total order — folding early never changes the
                    # final merged top-k
                    acc = [_cut(acc)]
                    acc_rows = len(acc[0])
            return None

        for pdf in batches:
            if tail is not None and len(tail):
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_b = pdf["bucket"].iat[-1]
            is_tail = pdf["bucket"] == last_b
            tail = pdf[is_tail]
            body = pdf[~is_tail]
            if len(body):
                out = [kernel(g) for _, g in body.groupby("bucket", sort=False)]
                merged = pd.concat(out, ignore_index=True) if out else empty
                got = emit(merged)
                if got is not None:
                    yield got
        if tail is not None and len(tail):
            got = emit(kernel(tail))
            if got is not None:
                yield got
        if final_topk is not None:
            yield _cut(acc) if acc else empty

    return stream


def make_filtered_kernel(
    query_batch,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    prefixed: bool = True,
    max_scale: float = 1.0,
    decode_cache_bytes: int = DECODE_CACHE_BYTES,
):
    """Cogroup kernel for FILTERED retrieval: one bucket's segment blocks on
    the left, the bucket's slice of the allowed-doc set on the right (both
    sides co-partitioned by the cogroup's bucket exchange — the allowed set
    is never broadcast, so it can be arbitrarily large). Always scores
    through the dense exhaustive pass: MaxScore's θ pruning is unsound under
    a filter (θ seeded from unfiltered docs can exceed the k-th ALLOWED
    score and prune allowed candidates), while the dense pass is exact for
    any mask."""

    def kernel(seg_pdf: pd.DataFrame, allowed_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(seg_pdf):
            return _EMPTY
        payload = query_batch.value if hasattr(query_batch, "value") else query_batch
        batch, idf_map, *rest = payload
        neg_map = rest[0] if len(rest) > 0 else None
        excluded = rest[1] if len(rest) > 1 else None
        req_map = rest[2] if len(rest) > 2 else None
        # PER-QUERY filtering: rest[3] is the GLOBAL set of filtered qids —
        # a bucket must know a qid is filtered even when that qid's allowed
        # docs all live in OTHER buckets (its local slice is empty ⇒ it
        # matches nothing here, while unfiltered qids still score)
        filtered_qids = rest[3] if len(rest) > 3 else None
        if not len(allowed_pdf) and not filtered_qids:
            return _EMPTY  # classic global-allowed: empty slice = no docs
        budget = _DecodeBudget(decode_cache_bytes)
        groups: dict[int, _TermBlocks] = {}
        for tid, sub in seg_pdf.groupby("term_id", sort=False):
            tid = int(tid)
            groups[tid] = _TermBlocks(
                sub.sort_values("first_doc"), idf_map[tid], prefixed, max_scale,
                budget=budget,
            )
        # an allowed side carrying a `qid` column is PER-QUERY: each qid's
        # rows constrain only that query; qids absent stay unfiltered
        # (the query-string path's phrase-clause filters). Without `qid`
        # the set constrains every query (classic filtered retrieval).
        allowed = None
        allowed_map = None
        if filtered_qids is not None:
            allowed_map = {
                int(q): np.sort(sub["doc_id"].to_numpy(np.int64))
                for q, sub in allowed_pdf.groupby("qid", sort=False)
            }
            for q in filtered_qids:  # empty local slice still constrains
                if q not in allowed_map:
                    allowed_map[q] = np.empty(0, dtype=np.int64)
        else:
            allowed = allowed_pdf["doc_id"].to_numpy(np.int64)
        out_q, out_d, out_s = _score_batch_dense(
            groups, batch, k, k1, b, avgdl, allowed=allowed,
            neg_map=neg_map, excluded=excluded, req_map=req_map,
            allowed_map=allowed_map,
        )
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


def make_masked_kernel(
    query_batch,
    k: int | None,
    k1: float,
    b: float,
    avgdl: float,
    min_match: int = 1,
    prefixed: bool = True,
    max_scale: float = 1.0,
    decode_cache_bytes: int = DECODE_CACHE_BYTES,
):
    """Cogroup kernel for LARGE-tombstone retrieval: one bucket's segment
    blocks on the left, the bucket's slice of the TOMBSTONE set on the right
    — the `search_filtered` exchange shape with the mask inverted. Both
    sides co-partition on the cogroup's bucket exchange, so the pending
    delete set is never collected to the driver or broadcast (the
    `index/delete.py` migration path past the broadcast working-set bound).
    Always the dense exhaustive pass: MaxScore's θ seeded from
    soon-to-be-excluded docs could exceed the k-th LIVE score and over-prune
    (the same soundness argument as filters). A bucket with no tombstones
    scores with `excluded=None` — identical float ops to the unmasked
    kernel."""

    def kernel(seg_pdf: pd.DataFrame, tomb_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(seg_pdf):
            return _EMPTY
        payload = query_batch.value if hasattr(query_batch, "value") else query_batch
        batch, idf_map, *rest = payload
        neg_map = rest[0] if len(rest) > 0 else None
        req_map = rest[1] if len(rest) > 1 else None
        budget = _DecodeBudget(decode_cache_bytes)
        groups: dict[int, _TermBlocks] = {}
        for tid, sub in seg_pdf.groupby("term_id", sort=False):
            tid = int(tid)
            groups[tid] = _TermBlocks(
                sub.sort_values("first_doc"), idf_map[tid], prefixed, max_scale,
                budget=budget,
            )
        excluded = (
            tomb_pdf["doc_id"].to_numpy(np.int64) if len(tomb_pdf) else None
        )
        out_q, out_d, out_s = _score_batch_dense(
            groups, batch, k, k1, b, avgdl, min_match=min_match,
            neg_map=neg_map, excluded=excluded, req_map=req_map,
        )
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


def load_index(spark: SparkSession, index_dir: str, as_of_epoch: int | None = None):
    """Load the live index, or — with `as_of_epoch=k` — its immutable
    snapshot as of epoch k's commit (k=0 is the base build, each
    `append_index` adds one). Time-travel needs NO copied data: every epoch's
    stats+dictionary are immutable on disk (`epoch_stats/e{k}.json`,
    `term_dict[_e{k}]`), and because an append's blocks contain ONLY doc_ids
    ≥ the previously committed N, the doc-range filter `first_doc < N_k`
    excises later epochs exactly, with no partial blocks. Query-time idf then
    re-prices the surviving blocks with the snapshot's N/df — the same
    mechanism that makes appends rewrite-free makes snapshots free."""
    if as_of_epoch is None:
        stats_path = os.path.join(index_dir, "stats.json")
    else:
        stats_path = os.path.join(index_dir, "epoch_stats", f"e{as_of_epoch}.json")
    with open(stats_path) as f:
        stats = json.load(f)
    # consistent format gate (same default-to-1 rule as append/compact): a
    # pre-segver index stores idf-baked max_score blocks the v2+ reader
    # cannot interpret — fail HERE with a clear message instead of an opaque
    # KeyError('max_unit') inside a kernel
    if stats.get("segver", 1) < 2:
        raise ValueError(
            "index segment format v1: rebuild required "
            "(segver>=2 idf-free blocks; build_index writes segver 3)"
        )
    # seg_dir is a stats.json pointer (like dict_dir): compact_index swaps
    # the whole segment tree atomically by updating it
    segments = spark.read.parquet(
        os.path.join(index_dir, stats.get("seg_dir", "segments"))
    )
    if as_of_epoch is not None:
        segments = segments.filter(F.col("first_doc") < stats["N"])
    # stats.json is the index's atomic commit pointer: after append_index it
    # names the active (immutable, epoch-versioned) dictionary directory
    term_dict = spark.read.parquet(
        os.path.join(index_dir, stats.get("dict_dir", "term_dict"))
    )
    return segments, term_dict, stats


class SnapshotReader:
    """Driver-side keyed reads of one snapshot's committed parquet files:
    the point path's first-touch dictionary, block and url lookups, with no
    Spark job. Posting lists are columnar, statistics-pruned storage read by
    a vectorized scan (the columnar inverted index of ICDE 2025): tshard
    partition directories and parquet row-group statistics prune the files,
    and Arrow hands the rows to pandas.

    The files are listed HERE, once, from the `stats` `load_index` read —
    as `spark.read.parquet` lists them there. A searcher is one immutable
    snapshot: files a later `append_index` commits must stay invisible to
    it. pyarrow's default `ignore_prefixes` ('.', '_') skip the files Spark
    skips (dot-tmp, `.crc`, `_SUCCESS`). `as_of_epoch` applies
    `load_index`'s `first_doc < N` cut."""

    def __init__(self, index_dir: str, stats: dict, as_of_epoch: int | None):
        def at(key: str, default: str):
            return pads.dataset(
                os.path.join(index_dir, stats.get(key, default)),
                format="parquet",
                partitioning="hive",
            )

        self.segments = at("seg_dir", "segments")
        self.term_dict = at("dict_dir", "term_dict")
        self.docs = at("docs_dir", "docs")
        self._tshards = (
            stats.get("tshards")
            if "tshard" in self.segments.schema.names
            else None
        )
        self._n = stats["N"] if as_of_epoch is not None else None

    def terms(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term → (term_id, df) for the in-vocabulary members of `terms`."""
        t = self.term_dict.to_table(
            columns=["term", "term_id", "df"],
            filter=pads.field("term").isin(terms),
        )
        return {
            term: (tid, df)
            for term, tid, df in zip(
                t["term"].to_pylist(),
                t["term_id"].to_pylist(),
                t["df"].to_pylist(),
            )
        }

    def blocks(self, term_ids: list[int]) -> pd.DataFrame:
        """`term_ids`' block rows as `_BLOCK_COLS` (Spark's dtypes: `bucket`
        is int32 from hive inference on both sides), sorted by (term_id,
        bucket, first_doc) so the frame never depends on file order."""
        f = pads.field("term_id").isin(term_ids)
        if self._tshards:  # directory pruning, as in `pruned_scan`
            f &= pads.field("tshard").isin(
                sorted({t % self._tshards for t in term_ids})
            )
        if self._n is not None:
            f &= pads.field("first_doc") < self._n
        return (
            self.segments.to_table(columns=_BLOCK_COLS, filter=f)
            .sort_by(
                [("term_id", "ascending"), ("bucket", "ascending"),
                 ("first_doc", "ascending")]
            )
            .to_pandas()
        )

    def urls(self, doc_ids: list[int] | None = None) -> dict[int, str]:
        """doc_id → url for `doc_ids`, or for every document (None)."""
        t = self.docs.to_table(
            columns=["doc_id", "url"],
            filter=None if doc_ids is None else pads.field("doc_id").isin(doc_ids),
        )
        return dict(zip(t["doc_id"].to_pylist(), t["url"].to_pylist()))

    def n_docs(self) -> int:
        """Rows in the docs files, from their parquet footers alone."""
        return self.docs.count_rows()


class IndexSearcher:
    """Warm/batched query service over one built index.

    Construct once, `search()` many times. The cold path prunes the parquet
    scan (tshard partition dirs + term_id row groups) and pays one bucket
    shuffle per batch; after `warm()` the bucket-partitioned sorted segments
    stay persisted, so each batch is filter → kernel → window with ZERO
    exchange of index data (the reference's resident index server,
    ``dense_server_client.py:21-66``)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        as_of_epoch: int | None = None,
        tomb_broadcast_max: int = 10_000_000,
    ):
        """`as_of_epoch=k` opens a read-only time-travel view of the index as
        of epoch k's commit (see `load_index`): searches return exactly what
        a searcher on the pre-append index returned, including idf/avgdl.

        `tomb_broadcast_max`: pending-delete count above which the searcher
        stops collecting/broadcasting the tombstone set (the driver-memory
        cliff — 10^8 int64 ids ≈ 800 MB in every kernel broadcast) and masks
        through the distributed cogroup path instead (`make_masked_kernel`);
        the default 10^7 keeps the broadcast under ~80 MB."""
        self.spark = spark
        self.index_dir = index_dir
        self.segments, self.term_dict, self.stats = load_index(
            spark, index_dir, as_of_epoch=as_of_epoch
        )
        # the point path's first-touch lookups: listed now, next to
        # `load_index`, so both read the same file set
        self._reader = SnapshotReader(index_dir, self.stats, as_of_epoch)
        # index-level analysis chain: every query path re-applies the
        # build's token filters so query text and postings agree
        # (functions/analyzer.py)
        self._analyzer: str | None = self.stats.get("analyzer")
        # cross-shard statistics override (sharded_bm25_topk): term → GLOBAL
        # df, consulted wherever idf is priced; None = shard-local stats
        self._df_over: dict[str, int] | None = None
        if "pos_bytes" in self.segments.columns:
            # BM25 never reads positions: prune the column so neither the
            # warm cache nor the per-batch exchange carries the (large)
            # occurrence-position streams of a positional index
            self.segments = self.segments.drop("pos_bytes")
        # deletion tombstones mask the LIVE view only: a time-travel
        # snapshot is "the index as of that epoch's commit", and deletes
        # are not epoch commits (index/delete.py)
        self._tomb = None  # small set: sorted ndarray in kernel broadcasts
        self._tomb_df: DataFrame | None = None  # large set: cogrouped
        if as_of_epoch is None and self.stats.get("tomb_dir"):
            if int(self.stats.get("n_deleted", 0)) > tomb_broadcast_max:
                self._tomb_df = spark.read.parquet(
                    os.path.join(index_dir, self.stats["tomb_dir"])
                )
            else:
                from colbert_spark.index.delete import load_tombstones

                self._tomb = load_tombstones(spark, index_dir, self.stats)
        self._warm: DataFrame | None = None
        # searcher-lifetime LRU of resolved terms (term → (term_id, df),
        # None = out-of-vocabulary) — sound because this searcher is one
        # immutable snapshot (see `_lookup_terms`). `_dict_lookup_jobs`
        # counts dictionary reads (cache misses) so tests/benchmarks can
        # assert a cache-hot batch makes none.
        self._term_cache: OrderedDict[str, tuple[int, int] | None] = OrderedDict()
        self.term_cache_max: int = 1 << 20
        self._dict_lookup_jobs: int = 0
        # per-task cap on resident DECODED postings inside the scoring
        # kernels (SCALE.md §query memory contract); settable per searcher
        self.decode_cache_bytes: int = DECODE_CACHE_BYTES
        # point-serving block LRU (search_point): term_id → (block rows,
        # bytes). Compressed payloads at on-disk density (~5-7 B/posting);
        # capped at `point_cache_bytes`, sound for the searcher lifetime by
        # the same immutable-snapshot argument as `_term_cache`.
        self._block_cache: OrderedDict[int, tuple[pd.DataFrame, int]] = (
            OrderedDict()
        )
        self._block_cache_bytes: int = 0
        self.point_cache_bytes: int = 512 << 20
        # block reads (cache misses) through the snapshot reader
        self._block_fetch_jobs: int = 0
        # decoded-term cache for the point path: tid → {bucket: _TermBlocks}.
        # The _TermBlocks keep their whole-term decoded arrays across
        # queries under the SAME _DecodeBudget contract as the distributed
        # kernels (cap decode_cache_bytes, LRU eviction, recompute from the
        # resident compressed rows on miss) — a repeated head term costs a
        # scatter-add, not a re-decode.
        self._point_tbs: dict[int, dict[int, _TermBlocks]] = {}
        self._point_budget: _DecodeBudget | None = None
        # block-max pruning gate for the point path: an unmasked query whose
        # terms' summed df reaches this count scores through
        # `_score_point_pruned` — driver-side MaxScore over the cached block
        # frames' `max_unit` upper bounds, decoding ONLY survivor blocks —
        # instead of the dense pass's whole-term decode+scatter (which at a
        # df≈10^7 head term means dense-scoring ~10^7 postings per query).
        # Below the gate the dense pass wins: its budgeted whole-term arrays
        # persist across queries, so a hot small-index query is one
        # scatter-add with zero decodes.
        self.point_prune_min_postings: int = 1_000_000
        # pruning instrumentation (cumulative; tests/benches may reset):
        # blocks_seen counts every cached block of the query's terms,
        # blocks_decoded/postings_decoded what actually decompressed —
        # the skipped difference is the pruning win
        self.point_prune_stats = {
            "queries_pruned": 0,
            "queries_dense": 0,
            "blocks_seen": 0,
            "blocks_decoded": 0,
            "postings_decoded": 0,
            "postings_scanned": 0,  # essential-term scatter work per query
            "postings_skipped": 0,  # non-essential postings never scanned
        }
        # batches above this row count resolve via distributed JVM
        # tokenization (driver never holds the question strings)
        self.resolve_collect_max: int = 10_000
        # point-path guard: estimated compressed bytes a single
        # `_fetch_blocks` may collect to the driver. A web-scale head term
        # (df 10^9-10^10) would be tens of GB at on-disk density — above
        # this bound `search_point` degrades to the distributed `search()`
        # path instead (the same pattern as the large-tombstone fallback)
        self.point_fetch_max_bytes: int = 256 << 20
        # doc_id → url LRU for point-serving result resolution (sharded
        # federation's cross-shard key); misses are one pushed isin filter
        # on the docs files, never a full-table read
        self._url_cache: OrderedDict[int, str] = OrderedDict()
        self.url_cache_max: int = 1 << 20
        # prefix → (completions, fetched depth, exhausted) LRU for the
        # interactive autocomplete point path (`complete_point`)
        self._prefix_cache: OrderedDict[
            str, tuple[list[tuple[str, int]], int, bool]
        ] = OrderedDict()
        self.prefix_cache_max: int = 1 << 16
        # LIKE-pattern / range → expansion-list LRU for the query-string
        # path's wildcard and [lo TO hi] clauses (sound for the searcher's
        # lifetime: one immutable dictionary snapshot, same argument as
        # `_term_cache`)
        self._expand_cache: OrderedDict[tuple, list[str]] = OrderedDict()
        self.expand_cache_max: int = 1 << 12
        # Lucene BooleanQuery.maxClauseCount: a wildcard/range expanding to
        # more dictionary terms than this raises instead of scanning
        self.max_expansions: int = 1024
        # guards every driver-resident cache (_term_cache, _block_cache,
        # _point_tbs, _point_budget, _url_cache) so a resident server can
        # answer overlapping clients from threads — the reference's Listener
        # accept loop (dense_server_client.py:21-66) implies concurrency
        self._point_lock = threading.RLock()

    def with_global_stats(
        self, n_docs: int, avgdl: float, df_map: dict[str, int]
    ) -> "IndexSearcher":
        """Price every query with CROSS-SHARD statistics (the distributed-IDF
        protocol, Elasticsearch's dfs_query_then_fetch): idf from globally
        summed df and global N, length norm from global avgdl. Pruning stays
        sound: block max_unit inflation already covers any avgdl ≥ the
        encode-time value, and unit scores are monotone in avgdl so a
        smaller global avgdl only loosens the stored bound."""
        with self._point_lock:
            self.stats = dict(self.stats)
            self.stats["avgdl"] = float(avgdl)
            self.stats["live_docs"] = int(n_docs)  # idf reads live_docs ?? N
            self._df_over = dict(df_map)
            # idf is baked into cached decoded terms and resolved-term LRUs
            # built under the OLD prices — drop them
            self._point_tbs = {}
            self._point_budget = None
        return self

    def update_global_df(self, df_updates: dict[str, int]) -> None:
        """Merge new terms into the cross-shard df override WITHOUT dropping
        the point path's decoded-term caches wholesale (`with_global_stats`
        must — it reprices everything). A resident `ShardedSearcher` resolves
        each term's global df exactly once (shard snapshots are immutable, so
        a summed df can never change); only a term whose price actually moved
        has its baked-idf cache entry invalidated."""
        with self._point_lock:
            if self._df_over is None:
                self._df_over = {}
            for t, df in df_updates.items():
                if self._df_over.get(t) == df:
                    continue
                self._df_over[t] = df
                hit = self._term_cache.get(t)
                if hit is not None:
                    self._point_tbs.pop(hit[0], None)

    def warm(self) -> "IndexSearcher":
        if self._warm is None:
            p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self._warm = (
                self.segments.repartition(p, "bucket")
                .sortWithinPartitions("bucket", "term_id", "first_doc")
                .persist()
            )
            self._warm.count()
            # the dictionary is resident too: term-cache misses become an
            # InMemoryTableScan filter, never a per-batch parquet FileScan
            self.term_dict = self.term_dict.persist()
            self.term_dict.count()
        return self

    def prefetch_point(self, budget_bytes: int | None = None) -> int:
        """Pre-load the heaviest (top-df) terms' compressed blocks into the
        point LRU during warm-up: a fresh service's first queries hit head
        terms disproportionately (Zipf), and each cold head term otherwise
        pays a block read at request time. Fills up to `budget_bytes`
        (default half of `point_cache_bytes`) by the same ~10 B/posting
        estimate `_fetch_blocks` uses, skipping any term over the per-fetch
        guard, and reads in guard-sized slices. Returns the number of terms
        prefetched. Cost: one dictionary top-df Spark job + a few
        driver-side block reads (`SnapshotReader.blocks`) — all at warm
        time, none at request time. The reads run outside `_point_lock`
        (the snapshot is immutable, so a slice cannot go stale): point
        queries never wait on them."""
        budget = int(
            budget_bytes
            if budget_bytes is not None
            else self.point_cache_bytes // 2
        )
        rows = (
            self.term_dict.select("term", "term_id", "df")
            .orderBy(F.desc("df"))
            # candidate depth, not a fetch bound — the byte budget below
            # governs what actually loads. 64k df-ranked rows collect in a
            # few MB even against a 10^9-term dictionary, and let a small
            # index prefetch its WHOLE vocabulary (cold pass ≈ hot pass)
            .limit(65536)
            .collect()
        )
        picked: dict[str, tuple[int, int]] = {}
        chunks: list[list[int]] = []
        est = acc = 0
        for r in rows:
            tid, df = int(r["term_id"]), int(r["df"])
            nb = 10 * df
            if nb > self.point_fetch_max_bytes or est + nb > budget:
                continue  # keep filling with smaller head terms
            est += nb
            picked[r["term"]] = (tid, df)
            # slice the fetch under the per-fetch byte guard
            if not chunks or acc + nb > self.point_fetch_max_bytes:
                chunks.append([])
                acc = 0
            chunks[-1].append(tid)
            acc += nb
        with self._point_lock:
            self._term_cache.update(picked)
        for chunk in chunks:
            with self._point_lock:
                missing = [t for t in chunk if t not in self._block_cache]
            frames = self._collect_blocks(missing) if missing else {}
            with self._point_lock:
                self._install_blocks(frames, chunk)
        return len(picked)

    def close(self) -> None:
        if self._warm is not None:
            self._warm.unpersist()
            self._warm = None
            self.term_dict.unpersist()
        self._term_cache.clear()
        self._block_cache.clear()
        self._block_cache_bytes = 0
        self._point_tbs.clear()
        self._point_budget = None

    def pruned_scan(self, term_ids: list[int]) -> DataFrame:
        """Cold-path segment scan for a term-id set, pruned at three levels:
        tshard partition DIRECTORIES (term_id mod tshards — the analog of the
        reference's nprobe-of-nlist IVF probing), parquet row groups via the
        pushed term_id range, and exact `isin` residual. Exposed so tests can
        assert the actually-read file set shrinks with the query."""
        seg = self.segments
        if "tshard" in seg.columns and self.stats.get("tshards"):
            shards = sorted({t % self.stats["tshards"] for t in term_ids})
            seg = seg.filter(F.col("tshard").isin(shards))  # dir pruning
        return seg.filter(
            F.col("term_id").isin(list(term_ids))
            & F.col("term_id").between(min(term_ids), max(term_ids))
        )

    def _lookup_terms(
        self, terms: list[str]
    ) -> dict[str, tuple[int, int] | None]:
        """term → (term_id, df), or None for out-of-vocabulary — through the
        searcher-lifetime LRU first, the dictionary only for misses.

        The cache is sound for the searcher's lifetime because a searcher is
        one immutable index snapshot: `term_dict` is an epoch-versioned
        directory the stats.json commit pointer named at construction, so
        neither hits NOR negative (OOV) entries can go stale — an
        `append_index` produces a NEW dictionary directory that only a new
        searcher sees. Misses go through ONE pushed `isin` filter over the
        dictionary files (`SnapshotReader.terms`, a row-group-pruned
        driver-side read, no Spark job) — never a full-dictionary join, and
        no read at all once the working set is cached. The lookup runs
        outside `_point_lock`; only the install takes it. Bounded memory:
        LRU-capped at `term_cache_max` entries regardless of vocabulary size
        (at web scale the vocabulary dwarfs any driver — the cache holds the
        query working set, the dictionary stays on disk)."""
        out: dict[str, tuple[int, int] | None] = {}
        missing: list[str] = []
        with self._point_lock:
            cache = self._term_cache
            for t in terms:
                if t in cache:
                    cache.move_to_end(t)
                    out[t] = cache[t]
                else:
                    missing.append(t)
        if missing:
            found = self._reader.terms(missing)
            with self._point_lock:
                self._dict_lookup_jobs += 1
                for t in missing:
                    v = found.get(t)
                    out[t] = v
                    cache[t] = v
                    if len(cache) > self.term_cache_max:
                        cache.popitem(last=False)
        return out

    def _lookup_urls(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id → url through an LRU over the docs files — the federation
        point path's result-resolution step (url is the cross-shard document
        key). Misses are one pushed `isin` filter over the (bounded, k·|Q|)
        id set (`SnapshotReader.urls`, driver-side, no Spark job), read
        outside `_point_lock`; a cache-hot repeat query reads nothing."""
        out: dict[int, str] = {}
        missing: list[int] = []
        with self._point_lock:
            for d in doc_ids:
                if d in self._url_cache:
                    self._url_cache.move_to_end(d)
                    out[d] = self._url_cache[d]
                else:
                    missing.append(d)
        if missing:
            found = self._reader.urls(missing)
            out.update(found)
            with self._point_lock:
                for d, u in found.items():
                    self._url_cache[d] = u
                    if len(self._url_cache) > self.url_cache_max:
                        self._url_cache.popitem(last=False)
        return out

    def complete_point(
        self, prefix: str, k: int = 10, fetch_depth: int = 50
    ) -> list[tuple[str, int]]:
        """Interactive autocomplete: top-k dictionary terms with `prefix`,
        ranked (df DESC, term ASC) — the completion-suggester point path.
        Misses run ONE range-pruned dictionary scan (`term >= p AND
        term < p||'\\uffff'`, a sortable predicate that reaches the parquet
        min/max stats of the range-sorted dictionary layout) with a
        LIMIT-pushed top-k; hits come from a prefix LRU, zero jobs — so a
        keystroke stream (h, ha, has, hash…) costs one pruned scan per NEW
        prefix and pure driver memory for repeats. `fetch_depth` (> k)
        rows are cached so deepening k within a session stays hot."""
        fetch_depth = max(fetch_depth, k)
        with self._point_lock:
            hit = self._prefix_cache.get(prefix)
            if hit is not None and (hit[1] >= fetch_depth or hit[2]):
                self._prefix_cache.move_to_end(prefix)
                return hit[0][:k]
        rows = (
            self.term_dict.filter(
                (F.col("term") >= prefix)
                & (F.col("term") < prefix + "￿")
            )
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(fetch_depth)
            .collect()
        )
        out = [(r["term"], int(r["df"])) for r in rows]
        with self._point_lock:
            # (completions, depth asked, exhausted?) — a result shorter than
            # fetch_depth is the COMPLETE set for this prefix, so any k hits
            self._prefix_cache[prefix] = (
                out, fetch_depth, len(out) < fetch_depth
            )
            self._prefix_cache.move_to_end(prefix)
            if len(self._prefix_cache) > self.prefix_cache_max:
                self._prefix_cache.popitem(last=False)
        return out[:k]

    def _resolve_batch_distributed(
        self, queries: DataFrame, has_exclude: bool, has_require: bool = False
    ):
        """Large-batch resolution (the pre-point-path shape): tokenize in
        the JVM (codegen, distributed), count per-qid grammar tokens with a
        partial-agg groupBy, join the dictionary with an AQE-planned join,
        and collect ONLY the slim (qid, term, term_id, qtf, df[, neg, gidx])
        rows plus a |Q|-row token-count table — never the question strings.
        A cross-shard df override (`_df_over`, sharded federation) is
        applied driver-side to the collected slim rows by term. `require`
        groups ride the same dictionary join keyed by (qid, group index);
        group-count reconciliation (a dead fully-OOV group drops its query)
        happens driver-side against a |groups|-row expected-count table."""
        from colbert_spark.functions.analyzer import analyze_terms_col
        from colbert_spark.functions.tokenizer import tokens_col

        pos = (
            queries.select("qid", tokens_col("question").alias("toks"))
            .select(
                "qid",
                F.explode(analyze_terms_col("toks", self._analyzer)).alias("term"),
            )
            .groupBy("qid", "term")
            .agg(F.count(F.lit(1)).alias("qtf"))
        )
        ntok_rows = (
            pos.groupBy("qid").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        n_tokens = {r["qid"]: int(r["n"]) for r in ntok_rows}
        qt = pos.withColumn("neg", F.lit(False)).withColumn(
            "gidx", F.lit(-1)
        )
        if has_exclude:
            negs = (
                queries.filter(F.col("exclude").isNotNull())
                .select("qid", tokens_col("exclude").alias("toks"))
                .select(
                    "qid",
                    F.explode(
                        analyze_terms_col("toks", self._analyzer)
                    ).alias("term"),
                )
                .distinct()
                .select(
                    "qid", "term", F.lit(1).alias("qtf"),
                    F.lit(True).alias("neg"), F.lit(-1).alias("gidx"),
                )
            )
            qt = qt.unionByName(negs)
        req_expected: dict[int, int] = {}
        if has_require:
            # one row per (qid, group, analyzed term): groups are the
            # whitespace-split atoms of `require`, commas separating
            # OR-alternatives within a group (same rule as the driver path)
            req_tok = (
                queries.filter(F.col("require").isNotNull())
                .select(
                    "qid",
                    F.posexplode(
                        F.split(F.col("require"), r"\s+")
                    ).alias("gidx", "atom"),
                )
                .select(
                    "qid",
                    "gidx",
                    tokens_col(
                        F.regexp_replace(F.col("atom"), ",", " ")
                    ).alias("toks"),
                )
                .select(
                    "qid",
                    "gidx",
                    F.explode(
                        analyze_terms_col("toks", self._analyzer)
                    ).alias("term"),
                )
                .distinct()
            )
            # expected group count per qid BEFORE the dictionary join: the
            # reconciliation below turns a fully-OOV group into a dead query
            exp_rows = (
                req_tok.select("qid", "gidx")
                .distinct()
                .groupBy("qid")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            req_expected = {r["qid"]: int(r["n"]) for r in exp_rows}
            qt = qt.unionByName(
                req_tok.select(
                    "qid", "term", F.lit(1).alias("qtf"),
                    F.lit(False).alias("neg"), F.col("gidx"),
                )
            )
        rows = (
            self.term_dict.join(qt, "term")
            .select("qid", "term", "term_id", "qtf", "df", "neg", "gidx")
            .collect()
        )
        if not rows:
            return None
        n_docs = self.stats.get("live_docs", self.stats["N"])
        idf_map: dict[int, float] = {}
        by_qid: dict[int, list[tuple[int, int]]] = {}
        neg_sets: dict[int, set] = {}
        req_sets: dict[int, dict[int, set]] = {}  # qid → gidx → tids
        for r in rows:
            tid = int(r["term_id"])
            if tid not in idf_map:
                df = int(r["df"])
                if self._df_over is not None:
                    df = self._df_over.get(r["term"], df)
                idf_map[tid] = float(
                    np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                )
            if int(r["gidx"]) >= 0:
                req_sets.setdefault(r["qid"], {}).setdefault(
                    int(r["gidx"]), set()
                ).add(tid)
            elif r["neg"]:
                neg_sets.setdefault(r["qid"], set()).add(tid)
            else:
                by_qid.setdefault(r["qid"], []).append((tid, int(r["qtf"])))
        batch = []
        for qid, pairs in by_qid.items():
            pairs.sort()  # ascending term_id == oracle accumulation order
            batch.append(
                (
                    qid,
                    np.array([p[0] for p in pairs], dtype=np.int64),
                    np.array([float(p[1]) for p in pairs], dtype=np.float64),
                )
            )
        if not batch:
            return None
        neg_map = {
            qid: np.array(sorted(ts), dtype=np.int64)
            for qid, ts in neg_sets.items()
        }
        req_map: dict[int, list[np.ndarray]] = {}
        dead: set[int] = set()
        for qid, want in req_expected.items():
            got = req_sets.get(qid, {})
            if len(got) < want:
                # ≥1 required group resolved to nothing: no doc can match
                dead.add(qid)
                continue
            req_map[qid] = [
                np.array(sorted(got[g]), dtype=np.int64)
                for g in sorted(got)
            ]
        if dead:
            batch = [bq for bq in batch if bq[0] not in dead]
            if not batch:
                return None
        return Resolved(
            batch, idf_map, sorted(idf_map), neg_map, n_tokens, req_map
        )

    def _resolve_batch(self, queries: DataFrame):
        """Resolved(batch, idf_map, all_tids, neg_map, n_tokens) for a query
        DataFrame, or None if no query term is in the vocabulary.

        Serving-latency path (the reference's resident server answers single
        queries with no per-query scheduling, ``dense_server_client.py:
        21-66``): the tiny (qid, question[, exclude]) batch is collected
        once, tokenized DRIVER-SIDE with `py_tokenize` — byte-identical to
        the JVM tokenizer by construction (one regex grammar, three engines,
        ``functions/tokenizer.py``) — and terms resolve through the LRU in
        `_lookup_terms`. A fully-cached batch therefore schedules ZERO
        dictionary jobs; a miss costs one pushed-filter scan. Positive and
        must_not (`exclude` column) terms resolve in the SAME lookup.

        `n_tokens` maps qid → distinct in-grammar token count (OOV included)
        so MATCH_ALL can enforce strict-AND without another job.

        An optional `require` column (boolean MUST, filter context) holds a
        conjunction of whitespace-separated groups; commas inside a group
        separate OR-alternatives ("rock jazz,blues" = rock AND (jazz OR
        blues)). A group whose every token is out-of-vocabulary can match
        no document, so its query resolves to zero rows (dropped from the
        batch here — no kernel work)."""
        has_exclude = "exclude" in queries.columns
        has_require = "require" in queries.columns
        cols = (
            ["qid", "question"]
            + (["exclude"] if has_exclude else [])
            + (["require"] if has_require else [])
        )
        # cap driver materialization of QUESTION STRINGS: a serving batch
        # collects whole (tiny) and tokenizes driver-side (zero jobs when
        # the term LRU is hot); a LARGE offline batch (> resolve_collect_max
        # rows) falls back to distributed JVM tokenization + a dictionary
        # join, collecting only the slim vocabulary-matched
        # (qid, term_id, qtf) table — the kernel broadcast's irreducible
        # driver payload either way
        qrows = queries.select(*cols).limit(self.resolve_collect_max + 1).collect()
        if not qrows:
            return None
        if len(qrows) > self.resolve_collect_max:
            return self._resolve_batch_distributed(
                queries, has_exclude, has_require
            )
        pos_tf: dict[int, Counter] = {}
        neg_terms: dict[int, set] = {}
        req_groups: dict[int, list[list[str]]] = {}
        from colbert_spark.functions.analyzer import py_analyze

        for r in qrows:
            qid = r["qid"]
            pos_tf.setdefault(qid, Counter()).update(
                py_analyze(py_tokenize(r["question"] or ""), self._analyzer)
            )
            if has_exclude and r["exclude"]:
                neg_terms.setdefault(qid, set()).update(
                    py_analyze(py_tokenize(r["exclude"]), self._analyzer)
                )
            if has_require and r["require"]:
                groups = []
                for atom in r["require"].split():
                    toks = py_analyze(
                        py_tokenize(atom.replace(",", " ")), self._analyzer
                    )
                    if toks:  # tokenless atom imposes no constraint
                        groups.append(sorted(set(toks)))
                if groups:
                    req_groups[qid] = groups
        all_terms = sorted(
            {t for c in pos_tf.values() for t in c}
            | {t for s in neg_terms.values() for t in s}
            | {t for gs in req_groups.values() for g in gs for t in g}
        )
        resolved = self._lookup_terms(all_terms)
        # live_docs (written only by an expunging compaction) is the Lucene
        # numDocs; stats["N"] stays the id-space bound (maxDoc). Between a
        # delete and its expunge, statistics deliberately stay encode-time.
        n_docs = self.stats.get("live_docs", self.stats["N"])
        # idf resolved HERE from the current dictionary (blocks store only
        # idf-free unit scores) — appends that move N/df need no re-encode
        idf_map: dict[int, float] = {}
        for t in all_terms:
            hit = resolved.get(t)
            if hit is not None:
                tid, df = hit
                if self._df_over is not None:
                    df = self._df_over.get(t, df)
                idf_map[tid] = float(
                    np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                )
        if not idf_map:
            return None
        batch = []
        n_tokens: dict[int, int] = {}
        for qid, counts in pos_tf.items():
            n_tokens[qid] = len(counts)
            pairs = sorted(
                (resolved[t][0], qtf)
                for t, qtf in counts.items()
                if resolved.get(t) is not None
            )  # ascending term_id == oracle accumulation order
            if not pairs:
                continue
            tids = np.array([p[0] for p in pairs], dtype=np.int64)
            qtfs = np.array([p[1] for p in pairs], dtype=np.float64)
            batch.append((qid, tids, qtfs))
        if not batch:
            return None
        neg_map: dict[int, np.ndarray] = {}
        for qid, ts in neg_terms.items():
            tids = sorted(
                resolved[t][0] for t in ts if resolved.get(t) is not None
            )
            if tids:  # OOV negated terms exclude nothing (no postings)
                neg_map[qid] = np.array(tids, dtype=np.int64)
        req_map: dict[int, list[np.ndarray]] = {}
        dead: set[int] = set()
        for qid, gs in req_groups.items():
            arrs = []
            for g in gs:
                gtids = sorted(
                    resolved[t][0] for t in g if resolved.get(t) is not None
                )
                if not gtids:
                    # a fully-OOV required group matches no document
                    dead.add(qid)
                    break
                arrs.append(np.array(gtids, dtype=np.int64))
            else:
                if arrs:
                    req_map[qid] = arrs
        if dead:
            batch = [bq for bq in batch if bq[0] not in dead]
            if not batch:
                return None
        return Resolved(
            batch, idf_map, sorted(idf_map), neg_map, n_tokens, req_map
        )

    def expand_like(self, pattern: str) -> list[str]:
        """Dictionary terms matching a SQL-LIKE `pattern` (the query-string
        path's wildcard clause: `str*` → `str%`, `te?t` → `te_t`), sorted.

        Scale shape: ONE dictionary scan per novel pattern. A pattern with a
        literal prefix additionally pushes the sortable range predicate
        `term >= p AND term < p||'\\uffff'` — on the range-sorted dictionary
        layout that prunes parquet row groups by min/max stats, so `str%`
        touches only the `str…` neighborhood of a 10^9-term vocabulary
        (same pruning as `complete_point`). A leading-wildcard pattern
        (`%ing`) routes through the reversed-term sidecar when the index
        was built with `reverse_dict=True` (Lucene ReverseStringFilter:
        the reversed pattern `gni%` range-prunes the rterm-sorted sidecar);
        without a sidecar it stays the documented full-scan case, exactly
        as Lucene warns. Results ride an LRU keyed by pattern
        (`_expand_cache` — sound for the searcher's immutable snapshot).
        Raises ValueError above `max_expansions` (Lucene
        BooleanQuery.maxClauseCount)."""
        return self._expand(("like", pattern))

    def expand_term_range(self, lo: str, hi: str) -> list[str]:
        """Dictionary terms in the INCLUSIVE range [lo, hi] (the `[lo TO
        hi]` clause), sorted. Pure range predicates — always min/max
        prunable on the range-sorted dictionary. Same expansion cap and LRU
        as `expand_like`."""
        return self._expand(("range", lo, hi))

    def expand_fuzzy(self, term: str, max_edits: int = 2) -> list[str]:
        """Dictionary terms within Levenshtein distance `max_edits` of
        `term` (Lucene FuzzyQuery; the query-string `term~N` clause),
        sorted. The exact term, if present, is its own distance-0 match.

        Scale shape: ONE dictionary scan per novel (term, n). Lucene
        intersects a Levenshtein automaton with the term FST; the engine
        analog is a JVM-side scan with two pushed predicates — a length
        band `len(term)±n` (column-stats prunable) and Spark's native
        `levenshtein(_, _, threshold)` which early-exits the DP row once
        the band exceeds n, so per-term cost is O(n·|term|) not
        O(|term|²). No driver-side candidate enumeration (a distance-2
        automaton over a 10^9-term vocabulary is exactly what must NOT be
        materialized). Same expansion cap and LRU as `expand_like`."""
        if not 0 <= max_edits <= 2:
            raise ValueError("fuzzy distance must be 0, 1, or 2")
        if max_edits == 0:
            return [term]
        return self._expand(("fuzzy", term, max_edits))

    def _reversed_dict(self) -> "DataFrame | None":
        """Lazy reader over the ACTIVE dictionary's reversed-term sidecar
        (`<dict_dir>_rev`, written when the index was built with
        `reverse_dict=True`) — None when the index carries no sidecar."""
        if not self.stats.get("reverse_dict"):
            return None
        if getattr(self, "_rev_dict_df", None) is None:
            path = os.path.join(
                self.index_dir, self.stats.get("dict_dir", "term_dict") + "_rev"
            )
            self._rev_dict_df = self.spark.read.parquet(path)
        return self._rev_dict_df

    def _expand(self, key: tuple) -> list[str]:
        with self._point_lock:
            hit = self._expand_cache.get(key)
            if hit is not None:
                self._expand_cache.move_to_end(key)
                return hit
        src = self.term_dict
        if key[0] == "like":
            pred = F.col("term").like(key[1])
            prefix = _like_literal_prefix(key[1])
            if prefix:
                pred = (
                    pred
                    & (F.col("term") >= prefix)
                    & (F.col("term") < prefix + "￿")
                )
            elif "\\" not in key[1]:
                # leading wildcard (`%ing`): on a reverse_dict index, route
                # through the reversed-term sidecar (ReverseStringFilter) —
                # LIKE(t, p) ⇔ LIKE(reverse(t), reverse(p)) for %/_ patterns
                # without escapes, and the reversed pattern has a literal
                # prefix (`gni%`) that min/max-prunes the rterm-sorted
                # sidecar's row groups. Without a sidecar this stays the
                # documented full-dictionary-scan case (Lucene's warning).
                rsrc = self._reversed_dict()
                if rsrc is not None:
                    rpat = key[1][::-1]
                    rprefix = _like_literal_prefix(rpat)
                    pred = F.col("rterm").like(rpat)
                    if rprefix:
                        pred = (
                            pred
                            & (F.col("rterm") >= rprefix)
                            & (F.col("rterm") < rprefix + "￿")
                        )
                    src = rsrc
        elif key[0] == "fuzzy":
            q, n = key[1], int(key[2])
            # length band first (column-stats prunable), then the
            # threshold-bounded Levenshtein (early-exits rows whose DP band
            # already exceeds n — returns -1 above the threshold)
            pred = F.length("term").between(len(q) - n, len(q) + n) & (
                F.levenshtein(F.col("term"), F.lit(q), n) >= 0
            )
        else:
            pred = (F.col("term") >= key[1]) & (F.col("term") <= key[2])
        rows = (
            src.filter(pred)
            .select("term")
            .limit(self.max_expansions + 1)
            .collect()
        )
        if len(rows) > self.max_expansions:
            raise ValueError(
                f"pattern {key!r} expands to more than "
                f"max_expansions={self.max_expansions} dictionary terms "
                "(Lucene BooleanQuery.maxClauseCount); narrow the pattern"
            )
        terms = sorted(r["term"] for r in rows)
        with self._point_lock:
            self._expand_cache[key] = terms
            self._expand_cache.move_to_end(key)
            if len(self._expand_cache) > self.expand_cache_max:
                self._expand_cache.popitem(last=False)
        return terms

    def _resolve_compiled(self, compiled: list) -> "Resolved | None":
        """`Resolved` from STRUCTURED clause lists — the query-string
        compiler's channel (`query/qstring.py`), bypassing the string
        columns so terms arrive FINAL (already tokenized/analyzed, wildcard
        expansions already enumerated) and are never re-analyzed (analyzer
        chains need not be idempotent).

        `compiled`: list of (qid, scored, require_groups, exclude_terms) —
        scored = [(term, weight)] with float weights (Lucene ^boost as
        query-side tf), require_groups = [[term, …], …] (≥1 of every group,
        filter context), exclude_terms = [term, …] (must_not). Resolution is
        driver-side through the searcher-lifetime term LRU (`_lookup_terms`
        — cache-hot compiled batches schedule zero dictionary jobs); a
        query whose every scored term is OOV, or with a fully-OOV required
        group, resolves to no rows."""
        all_terms: set[str] = set()
        for _, scored, reqs, excl in compiled:
            all_terms.update(t for t, _ in scored)
            for g in reqs:
                all_terms.update(g)
            all_terms.update(excl)
        if not all_terms:
            return None
        resolved = self._lookup_terms(sorted(all_terms))
        n_docs = self.stats.get("live_docs", self.stats["N"])
        idf_map: dict[int, float] = {}

        def tid_of(t: str) -> int | None:
            hit = resolved.get(t)
            if hit is None:
                return None
            tid, df = hit
            if self._df_over is not None:
                df = self._df_over.get(t, df)
            if tid not in idf_map:
                idf_map[tid] = float(
                    np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                )
            return tid
        batch = []
        neg_map: dict[int, np.ndarray] = {}
        req_map: dict[int, list[np.ndarray]] = {}
        n_tokens: dict[int, int] = {}
        for qid, scored, reqs, excl in compiled:
            n_tokens[qid] = len({t for t, _ in scored})
            pairs: dict[int, float] = {}
            for t, w in scored:
                tid = tid_of(t)
                if tid is not None:
                    pairs[tid] = pairs.get(tid, 0.0) + float(w)
            if not pairs:
                continue
            arrs: list[np.ndarray] = []
            dead = False
            for g in reqs:
                gtids = sorted({tid_of(t) for t in g} - {None})
                if not gtids:
                    dead = True  # fully-OOV required group: nothing matches
                    break
                arrs.append(np.array(gtids, dtype=np.int64))
            if dead:
                continue
            ntids = sorted({tid_of(t) for t in excl} - {None})
            tids = sorted(pairs)
            batch.append((
                qid,
                np.array(tids, dtype=np.int64),
                np.array([pairs[t] for t in tids], dtype=np.float64),
            ))
            if arrs:
                req_map[qid] = arrs
            if ntids:
                neg_map[qid] = np.array(ntids, dtype=np.int64)
        if not batch:
            return None
        return Resolved(
            batch, idf_map, sorted(idf_map), neg_map, n_tokens, req_map
        )

    def search_compiled(
        self,
        compiled: list,
        k: int = 10,
        allowed: DataFrame | None = None,
        filtered_qids: frozenset | None = None,
        min_match: int = 1,
        offset: int = 0,
    ) -> DataFrame:
        """Top-k over STRUCTURED clause lists (see `_resolve_compiled`) —
        the execution entry the query-string path uses. Without `allowed`
        this is exactly `search`'s plan (θ-pruned or dense, warm cache,
        tombstone paths); with `allowed` (+ `filtered_qids` for per-query
        sets — phrase clauses) it is `search_filtered`'s cogroup plan."""
        if allowed is not None and (offset or min_match != 1):
            raise ValueError(
                "offset/min_match compose with the unfiltered path only"
            )
        resolved = self._resolve_compiled(compiled)
        if allowed is not None:
            return self._execute_filtered(
                resolved, allowed, k, filtered_qids=filtered_qids
            )
        return self._execute_resolved(
            resolved, k, min_match=min_match, offset=offset
        )

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        dense_min: int = DENSE_BATCH_MIN,
        min_match: int = 1,
        offset: int = 0,
    ) -> DataFrame:
        """queries(qid, question) → (qid, rank, doc_id, score), rank 1..k by
        (−score, doc_id). Queries whose terms are all absent yield no rows.
        `dense_min` picks the kernel's batch-vs-pruned crossover (tests force
        each path with 1/∞). `min_match=m` ranks only docs matching ≥ m
        distinct query terms (Lucene minimum_should_match; m=1 is plain
        disjunctive BM25); `min_match=MATCH_ALL` is scored boolean-AND —
        every distinct query term required, and a query containing an
        out-of-vocabulary term returns nothing.

        Boolean must_not: an optional `exclude` string column on `queries`
        removes every doc containing ANY of its terms from that query's
        results (Lucene `-term`); positives still score plain BM25. A query
        with only excluded terms (no in-vocabulary positives) yields no
        rows.

        Boolean MUST (filter context): an optional `require` string column
        keeps only docs containing ≥1 term of EVERY whitespace-separated
        group (commas separate OR-alternatives within a group — a required
        wildcard expansion is one comma-joined group). Required terms
        constrain but do not score (ES bool-`filter`); repeat them in
        `question` for Lucene's scored-MUST. A fully out-of-vocabulary
        required group yields no rows for its query.

        `offset` (deep paging / searchAfter): skip the first `offset` ranks
        and return ranks offset+1 … offset+k (renumbered 1…k). Exact: the
        kernel keeps offset+k per bucket, so the global page is a strict
        slice of the full ranking — page boundaries never disagree with a
        one-shot search at depth offset+k."""
        resolved = self._resolve_batch(queries)
        return self._execute_resolved(
            resolved, k, dense_min=dense_min, min_match=min_match,
            offset=offset,
        )

    def _execute_resolved(
        self,
        resolved,
        k: int,
        dense_min: int = DENSE_BATCH_MIN,
        min_match: int = 1,
        offset: int = 0,
    ) -> DataFrame:
        """Execution half of `search`: one pruned scan → per-bucket kernel →
        global rank window, given an already-built `Resolved` (from the
        string channels via `_resolve_batch`, or from structured clause
        lists via `_resolve_compiled` — the query-string path)."""
        spark = self.spark
        if resolved is None:
            return spark.createDataFrame([], TOPK_SCHEMA)
        batch, idf_map, all_tids, neg_map = resolved[:4]
        req_map = resolved.req_map
        if min_match == MATCH_ALL:
            # strict AND counts OOV tokens too: drop any qid whose resolved
            # term count falls short of its distinct-token count (already
            # known driver-side from resolution — no extra job)
            want = resolved.n_tokens
            batch = [b for b in batch if len(b[1]) == want.get(b[0], -1)]
            if not batch:
                return spark.createDataFrame([], TOPK_SCHEMA)
            all_tids = sorted({int(t) for b in batch for t in b[1]})
        if neg_map or req_map:
            # negated/required terms' blocks must reach the kernel too: join
            # the scan set AFTER any MATCH_ALL re-derivation of the positives
            all_tids = sorted(
                set(all_tids)
                | {int(t) for ts in neg_map.values() for t in ts}
                | {
                    int(t)
                    for gs in req_map.values()
                    for g in gs
                    for t in g
                }
            )

        if self._warm is not None:
            # persisted bucket-partitioned sort: filter is narrow, grouping
            # contiguity is preserved — no exchange at all
            shuffled = self._warm.filter(F.col("term_id").isin(all_tids))
        else:
            # explicit partition count: AQE would coalesce the (small,
            # compressed) exchange to one partition and serialize the
            # decode/score kernel
            p = int(spark.conf.get("spark.sql.shuffle.partitions"))
            shuffled = self.pruned_scan(all_tids).repartition(
                p, "bucket"
            ).sortWithinPartitions("bucket", "term_id", "first_doc")

        max_scale = (
            max(1.0, self.stats["avgdl"] / enc_avgdl)
            if (enc_avgdl := self.stats.get("min_enc_avgdl") or self.stats["avgdl"])
            else 1.0
        )
        if self._tomb_df is not None:
            # LARGE pending-delete set: never collected/broadcast — it keys
            # by the index's bucket function and cogroups with the pruned
            # scan (one exchange on `bucket` for each side), the
            # `search_filtered` shape with the mask inverted.
            # The key CAST matters: cogroup sides hash-partition on their own
            # key type, and Spark's Murmur3 hashes int32(v) ≠ int64(v) — a
            # reused left-side partitioning (warm cache / repartition) with a
            # long right key would silently misalign every group
            bucket_size = int(self.stats["bucket_size"])
            bucket_type = dict(shuffled.dtypes)["bucket"]
            tomb_b = self._tomb_df.select(
                F.expr(f"doc_id DIV {bucket_size}")
                .cast(bucket_type)
                .alias("bucket"),
                F.col("doc_id").cast("long").alias("doc_id"),
            )
            bc = spark.sparkContext.broadcast(
                (batch, idf_map, neg_map, req_map)
            )
            mkernel = make_masked_kernel(
                bc,
                k + offset,
                self.stats["k1"],
                self.stats["b"],
                self.stats["avgdl"],
                min_match=min_match,
                prefixed=self.stats.get("segver", 2) >= 3,
                max_scale=max_scale,
                decode_cache_bytes=self.decode_cache_bytes,
            )
            partial = (
                shuffled.groupby("bucket")
                .cogroup(tomb_b.groupby("bucket"))
                .applyInPandas(mkernel, KERNEL_OUT_SCHEMA)
            )
        else:
            bc = spark.sparkContext.broadcast(
                (batch, idf_map, neg_map, self._tomb, req_map)
            )
            kernel = make_batch_kernel(
                bc,
                k + offset,
                self.stats["k1"],
                self.stats["b"],
                self.stats["avgdl"],
                dense_min=dense_min,
                min_match=min_match,
                prefixed=self.stats.get("segver", 2) >= 3,
                # soundness across appends: stored block maxima are exact at
                # their encode-time avgdl; inflate to bound CURRENT unit
                # scores
                max_scale=max_scale,
                decode_cache_bytes=self.decode_cache_bytes,
            )
            partial = shuffled.mapInPandas(
                bucket_frame_stream(kernel, _EMPTY, final_topk=k + offset),
                KERNEL_OUT_SCHEMA,
            )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            partial.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k))
            .select(
                "qid", (F.col("rank") - offset).alias("rank"), "doc_id", "score"
            )
        )

    def _fetch_blocks(
        self, term_ids: list[int], df_by_tid: dict[int, int] | None = None
    ) -> bool:
        """Pull the block rows of `term_ids` into the driver-side point LRU.
        One driver-side read of the MISSING terms' rows from the snapshot's
        segment files (`_collect_blocks`) — no Spark job; a cache-hot query
        reads nothing. The read bytes are the terms' compressed payloads
        (on-disk density, ~5-7 B/posting), NOT decoded postings, so even a
        df=10^6 head term costs single-digit MB. The point lock is held by
        the caller.

        Bounded: with `df_by_tid` (the dictionary df the caller already
        resolved), the fetch size is ESTIMATED before collecting — df ×
        ~10 B/posting (compressed payload + block-row overhead, a deliberate
        over-estimate). If the missing terms would exceed
        `point_fetch_max_bytes` (a web-scale head term: df 10^9 ≈ 10 GB),
        returns False WITHOUT collecting — the caller degrades to the
        distributed `search()` path, where that term's postings stream
        through executors instead of the driver."""
        missing = [t for t in term_ids if t not in self._block_cache]
        if missing and df_by_tid is not None:
            est = sum(10 * int(df_by_tid.get(t, 0)) for t in missing)
            if est > self.point_fetch_max_bytes:
                return False
        frames = self._collect_blocks(missing) if missing else {}
        self._install_blocks(frames, term_ids)
        return True

    def _collect_blocks(self, term_ids: list[int]) -> dict[int, tuple]:
        """`term_ids`' block rows as block-LRU entries, read driver-side
        through the snapshot reader. Takes the point lock only to count the
        read: `prefetch_point` reads without holding it."""
        with self._point_lock:
            self._block_fetch_jobs += 1
        return _split_blocks(self._reader.blocks(term_ids), term_ids)

    def _install_blocks(self, frames: dict, current: list[int]) -> None:
        """(Point lock held.) Add entries for terms not yet resident, touch
        `current`, evict LRU terms outside it over `point_cache_bytes`."""
        for t, entry in frames.items():
            if t not in self._block_cache:
                self._block_cache[t] = entry
                self._block_cache_bytes += entry[1]
        for t in current:
            if t in self._block_cache:
                self._block_cache.move_to_end(t)
        keep = set(current)
        while self._block_cache_bytes > self.point_cache_bytes:
            victim = next(
                (t for t in self._block_cache if t not in keep), None
            )
            if victim is None:
                break
            _, nb = self._block_cache.pop(victim)
            self._block_cache_bytes -= nb
            self._point_tbs.pop(victim, None)

    def search_point(self, question: str, k: int = 10,
                     exclude: str | None = None,
                     require: str | None = None) -> pd.DataFrame:
        """Sub-second SINGLE-query serving — the reference's resident point
        server (``dense_server_client.py:21-66``: query in, top-k out, no
        per-query job scheduling), realized driver-side: tokenize with the
        shared grammar, resolve terms through the searcher-lifetime LRU,
        pull any uncached terms' dictionary entries and block rows once
        from the snapshot's parquet files (`SnapshotReader`, driver-side),
        then run the IDENTICAL numpy kernels the distributed path runs
        (`_score_query_in_bucket` block-max MaxScore, or the dense pass
        under negation/tombstones) over the cached frames and take the
        exact global top-k with (score DESC, doc_id ASC) ties. Neither a
        first-touch nor a cache-hot query schedules a Spark job; a hot one
        is pure driver numpy, sub-10 ms. Only the `_point_fallback` exits
        below run Spark.

        Returns a pandas DataFrame (rank, doc_id, score) — rank-identical
        to `search()` on the same snapshot (asserted in tests). An index
        with a LARGE pending-delete set (cogroup masking) falls back to the
        distributed path: the mask is deliberately never driver-resident."""
        if self._tomb_df is not None:
            return self._point_fallback(question, k, exclude, require)
        from colbert_spark.functions.analyzer import py_analyze

        counts = Counter(py_analyze(py_tokenize(question or ""), self._analyzer))
        neg = (
            set(py_analyze(py_tokenize(exclude), self._analyzer))
            if exclude
            else set()
        )
        req_tok_groups: list[list[str]] = []
        if require:
            for atom in require.split():
                toks = py_analyze(
                    py_tokenize(atom.replace(",", " ")), self._analyzer
                )
                if toks:
                    req_tok_groups.append(sorted(set(toks)))
        if not counts:
            return _point_result(_NO_DOCS, _NO_SCORES, k)
        resolved = self._lookup_terms(
            sorted(
                set(counts)
                | neg
                | {t for g in req_tok_groups for t in g}
            )
        )
        n_docs = self.stats.get("live_docs", self.stats["N"])
        pairs = sorted(
            (resolved[t][0], float(qtf))
            for t, qtf in counts.items()
            if resolved.get(t) is not None
        )
        if not pairs:
            return _point_result(_NO_DOCS, _NO_SCORES, k)
        tids = np.array([p[0] for p in pairs], dtype=np.int64)
        qtfs = np.array([p[1] for p in pairs], dtype=np.float64)
        neg_tids = sorted(
            resolved[t][0] for t in neg if resolved.get(t) is not None
        )
        req_groups: list[np.ndarray] = []
        for g in req_tok_groups:
            gtids = sorted(
                resolved[t][0] for t in g if resolved.get(t) is not None
            )
            if not gtids:
                # fully-OOV required group: nothing can match
                return _point_result(_NO_DOCS, _NO_SCORES, k)
            req_groups.append(np.array(gtids, dtype=np.int64))
        idf_map = {}
        df_by_tid: dict[int, int] = {}
        for t, hit in resolved.items():
            if hit is not None:
                tid, df = hit
                if self._df_over is not None:
                    df = self._df_over.get(t, df)
                df_by_tid[tid] = int(df)
                idf_map[tid] = float(
                    np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                )
        all_ids = sorted(
            set(tids.tolist())
            | set(neg_tids)
            | {int(t) for g in req_groups for t in g}
        )
        # one lock spans fetch → decode-cache build → scoring: concurrent
        # clients see consistent LRUs and a shared _DecodeBudget (driver
        # numpy is GIL-bound anyway; a first-touch block read holds the lock
        # for one pruned parquet read, the hot path not at all)
        with self._point_lock:
            # False: a head term too big to collect — degrade below
            if self._fetch_blocks(all_ids, df_by_tid):
                return self._score_point_locked(
                    all_ids, tids, qtfs, neg_tids, idf_map, k,
                    req_groups=req_groups, df_by_tid=df_by_tid,
                )
        return self._point_fallback(question, k, exclude, require)

    def _point_fallback(self, question, k, exclude, require) -> pd.DataFrame:
        """`search_point`'s exact degrade path: one distributed `search()`,
        used when the mask must stay distributed (large tombstone set) or a
        head term's postings are too big to collect (`_fetch_blocks`
        bound)."""
        row = {"qid": 0, "question": question}
        for n, v in (("exclude", exclude), ("require", require)):
            if v:
                row[n] = v
        schema = ", ".join(
            f"{n} {'long' if n == 'qid' else 'string'}" for n in row
        )
        qdf = self.spark.createDataFrame([tuple(row.values())], schema)
        rows = self.search(qdf, k=k).collect()
        return _point_result(
            np.array([r["doc_id"] for r in rows], dtype=np.int64),
            np.array([r["score"] for r in rows], dtype=np.float64),
            k,
        )

    def _score_point_locked(
        self, all_ids, tids, qtfs, neg_tids, idf_map, k,
        req_groups: list | None = None,
        df_by_tid: dict[int, int] | None = None,
    ) -> pd.DataFrame:
        """Driver-numpy scoring over the resident block cache (lock held by
        caller): identical kernels to the distributed dense pass, except that
        an unmasked head-term query (summed df ≥ `point_prune_min_postings`,
        no exclude/require/tombstones) goes through driver-side block-max
        MaxScore (`_score_point_pruned`) — the same θ logic the distributed
        kernel runs, applied to the cached frames' `max_unit` bounds so most
        of a df≈10^7 term's blocks are never decoded."""
        k1, b, avgdl = (
            self.stats["k1"], self.stats["b"], self.stats["avgdl"],
        )
        enc_avgdl = self.stats.get("min_enc_avgdl") or avgdl
        max_scale = max(1.0, avgdl / enc_avgdl) if enc_avgdl else 1.0
        prefixed = self.stats.get("segver", 2) >= 3
        if self._point_budget is None:
            self._point_budget = _DecodeBudget(self.decode_cache_bytes)
        # per-(term, bucket) _TermBlocks persist across queries: their
        # whole-term decoded arrays live under the shared _DecodeBudget, so
        # a repeated term costs one scatter-add per bucket, zero decodes
        buckets: set[int] = set()
        for t in all_ids:
            tbs = self._point_tbs.get(t)
            if tbs is None:
                frame = self._block_cache[t][0]
                tbs = {
                    int(bk): _TermBlocks(
                        s2.sort_values("first_doc"), idf_map[t],
                        prefixed, max_scale, budget=self._point_budget,
                    )
                    for bk, s2 in frame.groupby("bucket", sort=False)
                }
                self._point_tbs[t] = tbs
            buckets.update(tbs.keys())
        # θ pruning is sound only without masks (the same argument as the
        # distributed kernel: a θ seeded from a doc that exclusion /
        # require / tombstones later zero could over-prune)
        if (
            not neg_tids
            and not req_groups
            and self._tomb is None
            and df_by_tid is not None
            and sum(int(df_by_tid.get(int(t), 0)) for t in tids)
            >= self.point_prune_min_postings
        ):
            self.point_prune_stats["queries_pruned"] += 1
            return self._score_point_pruned(tids, qtfs, k)
        self.point_prune_stats["queries_dense"] += 1
        batch = [(0, tids, qtfs)]
        neg_map = (
            {0: np.array(neg_tids, dtype=np.int64)} if neg_tids else None
        )
        req_map = {0: req_groups} if req_groups else None
        out_d, out_s = [], []
        # dense pass: exact for any mask, and its whole-term full() decodes
        # are what the budgeted cache retains across queries
        for bk in sorted(buckets):
            groups = {
                t: self._point_tbs[t][bk]
                for t in all_ids
                if bk in self._point_tbs.get(t, ())
            }
            if not groups:
                continue
            _, d, s = _score_batch_dense(
                groups, batch, k, k1, b, avgdl,
                neg_map=neg_map, excluded=self._tomb, req_map=req_map,
            )
            out_d.extend(d)
            out_s.extend(s)
        docs = np.concatenate([_NO_DOCS, *out_d])
        return _point_result(docs, np.concatenate([_NO_SCORES, *out_s]), k)

    def _score_point_pruned(self, tids, qtfs, k) -> pd.DataFrame:
        """Driver-side MaxScore over the resident block cache (point lock
        held by caller): a running global top-k threshold θ carried ACROSS
        buckets (visited in descending upper-bound order), essential/non-
        essential term split per bucket, survivors probed exactly
        (`_prune_score_bucket`). Exact by the standard MaxScore argument:
        θ is always the score of a real kth-best doc seen so far (monotone
        nondecreasing), every skip bound is conservative by construction
        (encode-time maxima × idf × max_scale, 1e-9 relative slack against
        float rounding), and the survivor re-score accumulates float64 in
        ascending-term_id order — so results are rank- AND score-identical
        to the dense pass / `search()`.

        Memory model: the dense path's — budget-cached whole-term (docs,
        units) arrays (doc-sorted here, `full_sorted`), decoded once per
        (term, bucket) and shared across queries. The win over the dense
        pass is PER-QUERY WORK: the dense pass scatter-adds every posting of
        every query term (at the 10M soak, ~10^7-posting head-term streams
        per query — the p95 bottleneck); here non-essential terms cost a
        binary-search probe per survivor instead of a full scan, and the
        `postings_scanned`/`postings_skipped` counters expose the split."""
        k1, b, avgdl = (
            self.stats["k1"], self.stats["b"], self.stats["avgdl"],
        )
        stats = self.point_prune_stats

        # bucket → [(tb, qtf)] ascending term_id (tids arrive sorted)
        per_bucket: dict[int, list[tuple[_TermBlocks, float]]] = {}
        for t, qtf in zip(tids, qtfs):
            for bk, tb in self._point_tbs.get(int(t), {}).items():
                per_bucket.setdefault(int(bk), []).append((tb, float(qtf)))
                stats["blocks_seen"] += len(tb.maxs)
        # visit buckets in descending total upper bound: θ rises fastest,
        # and once a bucket's bound falls below θ every later one does too
        bucket_list = sorted(
            (
                (sum(tb.unit_max * qtf for tb, qtf in terms), bk, terms)
                for bk, terms in per_bucket.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )
        pool_d, pool_s = _NO_DOCS, _NO_SCORES
        theta = 0.0
        dense_hint = False
        for bucket_ub, _bk, terms in bucket_list:
            if len(pool_s) >= k and bucket_ub < theta - 1e-9 * theta:
                break
            d, s, dense_hint = _prune_score_bucket(
                terms, k, theta, k1, b, avgdl, stats, dense_hint=dense_hint
            )
            if not d.size:
                continue
            pool_d = np.concatenate([pool_d, d])
            pool_s = np.concatenate([pool_s, s])
            if len(pool_s) >= k:
                # trim to the top-k scores KEEPING ties at the kth (the
                # final (−score, doc_id) cut resolves them exactly)
                kth = np.partition(pool_s, len(pool_s) - k)[len(pool_s) - k]
                keep = pool_s >= kth
                pool_d, pool_s = pool_d[keep], pool_s[keep]
                theta = float(kth)
        return _point_result(pool_d, pool_s, k)

    def score_matches(self, queries: DataFrame) -> DataFrame:
        """Every scored match, uncut: queries(qid, question) → (qid, doc_id,
        score) for each doc containing ≥1 query term — the exact substrate
        for FIELD-COLLAPSE / grouped top-k and score-distribution analytics,
        where the cut happens per (query, group) AFTER a metadata join the
        kernel cannot see. Same single-pass plan shape as `search`; always
        the dense pass (a pruning cut is meaningless without k); output is
        O(match set) — the caller's window prunes from there."""
        spark = self.spark
        resolved = self._resolve_batch(queries)
        if resolved is None:
            return spark.createDataFrame([], KERNEL_OUT_SCHEMA)
        batch, idf_map, all_tids, neg_map = resolved[:4]
        if neg_map:
            all_tids = sorted(
                set(all_tids) | {int(t) for ts in neg_map.values() for t in ts}
            )
        if self._warm is not None:
            shuffled = self._warm.filter(F.col("term_id").isin(all_tids))
        else:
            p = int(spark.conf.get("spark.sql.shuffle.partitions"))
            shuffled = self.pruned_scan(all_tids).repartition(
                p, "bucket"
            ).sortWithinPartitions("bucket", "term_id", "first_doc")
        bc = spark.sparkContext.broadcast(
            (batch, idf_map, neg_map, self._tomb, resolved.req_map)
        )
        kernel = make_batch_kernel(
            bc, None, self.stats["k1"], self.stats["b"], self.stats["avgdl"],
            dense_min=0,
            prefixed=self.stats.get("segver", 2) >= 3,
            decode_cache_bytes=self.decode_cache_bytes,
        )
        out = shuffled.mapInPandas(
            bucket_frame_stream(kernel, _EMPTY), KERNEL_OUT_SCHEMA
        )
        # large tombstone set (never broadcast): the output is the FULL
        # match set with no top-k cut, so a distributed anti-join AFTER the
        # kernel is exact — deleted docs drop out, nothing re-ranks
        if self._tomb_df is not None:
            out = out.join(self._tomb_df, "doc_id", "left_anti")
        return out

    def matching_docs(self, queries: DataFrame) -> DataFrame:
        """Unscored boolean-OR matching: queries(qid, question) → every
        (qid, doc_id) where the doc contains ≥1 query term — the engine's
        match-set primitive under faceting / aggregations (where the FULL
        match set matters, not a top-k cut). Same plan shape as `search`
        (pruned scan or warm cache → one bucket-keyed pass), but the kernel
        only unions each present term's decoded doc_ids per qid — no
        scoring, no per-bucket top-k, output size = the true match set."""
        spark = self.spark
        resolved = self._resolve_batch(queries)
        if resolved is None:
            return spark.createDataFrame([], "qid long, doc_id long")
        batch, _, all_tids, _ = resolved[:4]

        if self._warm is not None:
            shuffled = self._warm.filter(F.col("term_id").isin(all_tids))
        else:
            p = int(spark.conf.get("spark.sql.shuffle.partitions"))
            shuffled = self.pruned_scan(all_tids).repartition(
                p, "bucket"
            ).sortWithinPartitions("bucket", "term_id", "first_doc")

        prefixed = self.stats.get("segver", 2) >= 3
        bc = spark.sparkContext.broadcast((batch, self._tomb))
        empty = pd.DataFrame(
            {"qid": pd.Series([], dtype="int64"),
             "doc_id": pd.Series([], dtype="int64")}
        )

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            kbatch, excluded = bc.value
            groups: dict[int, np.ndarray] = {}
            for tid, sub in pdf.groupby("term_id", sort=False):
                tb = _TermBlocks(sub.sort_values("first_doc"), 0.0, prefixed, 1.0)
                docs = np.unique(
                    np.concatenate([tb.decode(i)[0] for i in range(len(tb.firsts))])
                )
                if excluded is not None:
                    docs = docs[~np.isin(docs, excluded)]
                groups[int(tid)] = docs
            out_q, out_d = [], []
            for qid, tids, _qtfs in kbatch:
                present = [groups[t] for t in tids if t in groups]
                if not present:
                    continue
                docs = (
                    present[0]
                    if len(present) == 1
                    else np.unique(np.concatenate(present))
                )
                out_q.append(np.full(len(docs), qid, dtype=np.int64))
                out_d.append(docs)
            if not out_q:
                return empty
            return pd.DataFrame(
                {"qid": np.concatenate(out_q), "doc_id": np.concatenate(out_d)}
            )

        out = shuffled.mapInPandas(
            bucket_frame_stream(kernel, empty), "qid long, doc_id long"
        )
        # large tombstone set: unscored full match set → exact post-kernel
        # anti-join (same argument as score_matches)
        if self._tomb_df is not None:
            out = out.join(self._tomb_df, "doc_id", "left_anti")
        return out

    def explain(self, queries: DataFrame, candidates: DataFrame) -> DataFrame:
        """Score breakdown (the Lucene Explanation analog): for each
        (qid, doc_id) in `candidates`, one row per matching query term —
        (qid, doc_id, term_id, tf, doclen, contrib) with
        contrib = qtf·idf·unit exactly as the scoring kernel prices it
        (same float ops, so Σ contrib per doc is bit-identical to its
        search score). `candidates` is broadcast-small by construction
        (top-k per query), so it collects to a per-qid set and the pass is
        the standard pruned-scan → bucket kernel shape."""
        spark = self.spark
        resolved = self._resolve_batch(queries)
        schema = (
            "qid long, doc_id long, term_id long, tf long, doclen long, "
            "contrib double"
        )
        if resolved is None:
            return spark.createDataFrame([], schema)
        batch, idf_map, all_tids, _ = resolved[:4]
        if self._tomb_df is not None:
            # large tombstone set: drop deleted candidates BEFORE the collect
            # (candidates are top-k-small; the tombstone side stays
            # distributed through the join)
            candidates = candidates.join(self._tomb_df, "doc_id", "left_anti")
        cand: dict[int, np.ndarray] = {}
        for r in candidates.select("qid", "doc_id").collect():
            cand.setdefault(int(r["qid"]), []).append(int(r["doc_id"]))
        cand = {q: np.array(sorted(d), dtype=np.int64) for q, d in cand.items()}
        if self._tomb is not None:
            cand = {
                q: d[~np.isin(d, self._tomb)] for q, d in cand.items()
            }
        if self._warm is not None:
            shuffled = self._warm.filter(F.col("term_id").isin(all_tids))
        else:
            p = int(spark.conf.get("spark.sql.shuffle.partitions"))
            shuffled = self.pruned_scan(all_tids).repartition(
                p, "bucket"
            ).sortWithinPartitions("bucket", "term_id", "first_doc")
        prefixed = self.stats.get("segver", 2) >= 3
        k1, b, avgdl = self.stats["k1"], self.stats["b"], self.stats["avgdl"]
        bc = spark.sparkContext.broadcast((batch, idf_map, cand))
        empty = pd.DataFrame(
            {
                "qid": pd.Series([], dtype="int64"),
                "doc_id": pd.Series([], dtype="int64"),
                "term_id": pd.Series([], dtype="int64"),
                "tf": pd.Series([], dtype="int64"),
                "doclen": pd.Series([], dtype="int64"),
                "contrib": pd.Series([], dtype="float64"),
            }
        )

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            kbatch, kidf, kcand = bc.value
            decoded: dict[int, tuple] = {}
            for tid, sub in pdf.groupby("term_id", sort=False):
                tid = int(tid)
                tb = _TermBlocks(
                    sub.sort_values("first_doc"), kidf[tid], prefixed, 1.0
                )
                parts = [tb.decode(i) for i in range(len(tb.firsts))]
                docs = np.concatenate([p[0] for p in parts])
                tfs = np.concatenate([p[1] for p in parts])
                dls = np.concatenate([p[2] for p in parts])
                units = _bm25(tfs, dls, kidf[tid], k1, b, avgdl)
                decoded[tid] = (docs, tfs, dls, units)
            out = []
            for qid, tids, qtfs in kbatch:
                cdocs = kcand.get(qid)
                if cdocs is None:
                    continue
                for t, qtf in zip(tids, qtfs):
                    if int(t) not in decoded:
                        continue
                    docs, tfs, dls, units = decoded[int(t)]
                    sel = np.isin(docs, cdocs)
                    if not sel.any():
                        continue
                    out.append(
                        pd.DataFrame(
                            {
                                "qid": np.full(int(sel.sum()), qid, dtype=np.int64),
                                "doc_id": docs[sel],
                                "term_id": np.full(
                                    int(sel.sum()), int(t), dtype=np.int64
                                ),
                                "tf": tfs[sel].astype(np.int64),
                                "doclen": dls[sel].astype(np.int64),
                                "contrib": float(qtf) * units[sel],
                            }
                        )
                    )
            return pd.concat(out, ignore_index=True) if out else empty

        return shuffled.mapInPandas(bucket_frame_stream(kernel, empty), schema)

    def search_filtered(
        self, queries: DataFrame, allowed: DataFrame, k: int = 10
    ) -> DataFrame:
        """Filtered retrieval: top-k BM25 restricted to `allowed` (a
        DataFrame with a `doc_id` column — typically the result of a
        predicate over a document-attribute table). Ranks/scores are exactly
        those of a search over the allowed subset; collection statistics
        (idf, avgdl) stay corpus-wide, the standard filtered-search contract.

        Scale shape: the allowed set is keyed by the SAME bucket function as
        the index (bucket = doc_id // bucket_size) and cogrouped with the
        pruned segment scan — both sides exchange once on `bucket`, the
        filter is never broadcast or collected, so the predicate set can be
        any size. Always scores through the exhaustive dense pass (θ pruning
        is unsound under a filter, see `make_filtered_kernel`)."""
        resolved = self._resolve_batch(queries)
        return self._execute_filtered(resolved, allowed, k)

    def _execute_filtered(
        self,
        resolved,
        allowed: DataFrame,
        k: int,
        filtered_qids: frozenset | None = None,
    ) -> DataFrame:
        """Execution half of `search_filtered`. `allowed` with only a
        `doc_id` column constrains EVERY query; with `filtered_qids` set the
        allowed side must also carry `qid` and each qid's rows constrain
        only that query (qids outside the set stay unfiltered) — the
        query-string path's per-query phrase-clause filters."""
        spark = self.spark
        if resolved is None:
            return spark.createDataFrame([], TOPK_SCHEMA)
        batch, idf_map, all_tids, neg_map = resolved[:4]
        bucket_size = int(self.stats["bucket_size"])
        if self._tomb_df is not None:
            # large tombstone set: the allowed side is already a distributed
            # DataFrame — shrink it to (allowed ∖ deleted) with a plain
            # anti-join before the cogroup; the kernel then needs no
            # tombstone payload at all
            allowed = allowed.join(self._tomb_df, "doc_id", "left_anti")
        # key type must MATCH the segment side's bucket dtype — cogroup
        # sides hash-partition on their own key type, and int32(v)/int64(v)
        # hash differently (see the masked-kernel branch in `search`)
        bucket_type = dict(self.segments.dtypes)["bucket"]
        acols = [
            F.expr(f"doc_id DIV {bucket_size}")
            .cast(bucket_type)
            .alias("bucket"),
            F.col("doc_id").cast("long").alias("doc_id"),
        ]
        if filtered_qids is not None:
            acols.append(F.col("qid").cast("long").alias("qid"))
        allowed_b = allowed.select(*acols)
        # must_not / require terms (the `exclude` / `require` query columns)
        # apply under filters too: their blocks already ride the pruned scan
        # via all_tids (resolution's idf_map covers them), and the dense
        # pass applies both masks post-accumulation
        bc = spark.sparkContext.broadcast(
            (batch, idf_map, neg_map, self._tomb, resolved.req_map,
             filtered_qids)
        )
        kernel = make_filtered_kernel(
            bc,
            k,
            self.stats["k1"],
            self.stats["b"],
            self.stats["avgdl"],
            decode_cache_bytes=self.decode_cache_bytes,
            prefixed=self.stats.get("segver", 2) >= 3,
            max_scale=max(1.0, self.stats["avgdl"] / enc_avgdl)
            if (enc_avgdl := self.stats.get("min_enc_avgdl") or self.stats["avgdl"])
            else 1.0,
        )
        partial = (
            self.pruned_scan(all_tids)
            .groupby("bucket")
            .cogroup(allowed_b.groupby("bucket"))
            .applyInPandas(kernel, KERNEL_OUT_SCHEMA)
        )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "doc_id", "score")
        )


def bm25_topk_segments(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """→ (qid, rank, doc_id, score) from the compressed segment index
    (one-shot convenience wrapper; batch services should hold an
    `IndexSearcher` and call `search` repeatedly). `as_of_epoch` opens the
    index's time-travel snapshot of that epoch instead of the live view."""
    return IndexSearcher(spark, index_dir, as_of_epoch=as_of_epoch).search(queries, k)


class _UnionExpander:
    """Dictionary-expansion facade over a `ShardedSearcher`: wildcard/range
    clauses expand against the UNION of the shard dictionaries (concurrent
    per-shard LRU'd expansions). Quacks like an `IndexSearcher` for
    `qstring.compile_query` (`_analyzer`, `expand_like`,
    `expand_term_range`)."""

    def __init__(self, sharded: "ShardedSearcher"):
        self._sh = sharded
        self._analyzer = sharded._analyzer

    def _union(self, fn_name: str, *args) -> list[str]:
        out: set[str] = set()
        for exp in self._sh._pool.map(
            lambda s: getattr(s, fn_name)(*args), self._sh.searchers
        ):
            out.update(exp)
        return sorted(out)

    def expand_like(self, pattern: str) -> list[str]:
        return self._union("expand_like", pattern)

    def expand_term_range(self, lo: str, hi: str) -> list[str]:
        return self._union("expand_term_range", lo, hi)

    def expand_fuzzy(self, term: str, max_edits: int = 2) -> list[str]:
        return self._union("expand_fuzzy", term, max_edits)


class ShardedSearcher:
    """Resident scatter-gather service across INDEPENDENT shard indexes with
    GLOBAL statistics — serving's dual of `index/merge.py` (which fuses the
    data; this fuses only the query). The reference serves one resident
    index (``dense_server_client.py:21-66``); N shards is its only
    scale-out, and this IS the 10^12-doc serving architecture.

    Protocol (exact, not approximate):
      1. global stats: N and avgdl from shard stats.json sums ONCE at
         construction; df per QUERY term by summing each shard's dictionary
         hit (KB-scale lookups through the shard term LRUs — never a
         full-dictionary union). Each term's global df is resolved once per
         service lifetime (shard snapshots are immutable) and merged into
         the shards via `update_global_df`, so point-path decoded caches
         stay warm across queries.
      2. scatter: every shard prices its local top-k with the global
         (N, avgdl, df) — so a shard never over/under-weights a term that
         is rare locally but common globally (Elasticsearch's
         dfs_query_then_fetch). Per-shard searches are submitted
         CONCURRENTLY from a thread pool (Spark schedules concurrent jobs),
         so federation latency is max(shard), not Σ(shard).
      3. gather: per-shard top-k rankings (k·|Q| rows each) merge by score;
         every document lives in exactly ONE shard (disjoint url spaces,
         the build/merge contract), so the merged cut IS the global top-k.

    Batch sizing: a batch larger than `resolve_collect_max` resolves its
    term set DISTRIBUTED (JVM tokenize → distinct → collect terms only,
    vocabulary-bounded) — the driver never materializes question strings,
    and each shard's `search()` takes its own distributed-resolution path."""

    def __init__(
        self, spark: SparkSession, index_dirs: list[str], warm: bool = False
    ):
        self.spark = spark
        self.index_dirs = list(index_dirs)
        self.searchers = [IndexSearcher(spark, d) for d in index_dirs]
        a0 = self.searchers[0]._analyzer
        if any(s._analyzer != a0 for s in self.searchers):
            raise ValueError(
                "cannot federate shards with different analyzers"
            )
        self._analyzer = a0
        self.n_global = sum(
            s.stats.get("live_docs", s.stats["N"]) for s in self.searchers
        )
        cf_g = sum(s.stats["total_cf"] for s in self.searchers)
        self.avgdl_global = cf_g / self.n_global if self.n_global else 0.0
        for s in self.searchers:
            s.with_global_stats(self.n_global, self.avgdl_global, {})
        self._df_g: dict[str, int] = {}
        self._lock = threading.Lock()
        self._pool = ThreadPoolExecutor(
            max_workers=max(2, len(self.searchers))
        )
        if warm:
            self.warm()

    def warm(self, prefetch_point: bool = True) -> "ShardedSearcher":
        """Warm every shard (resident segment cache + dictionary) and, by
        default, PREFETCH each shard's head-term blocks into its point LRU
        (`IndexSearcher.prefetch_point`) with the union head vocabulary
        priced at global df first — so a fresh federation's first point
        queries skip both the global-df resolution jobs and the cold block
        fetches that made the round-4 cold fanout 42 s/100q."""
        list(self._pool.map(lambda s: s.warm(), self.searchers))
        if prefetch_point:
            # resident url map per shard: when the whole shard's url map
            # fits the driver LRU (row count from the parquet footers),
            # read it ONCE at warm so result resolution (`_lookup_urls`)
            # never reads per query; above the cap, misses stay one pushed
            # driver-side read each. The read runs outside the point lock:
            # a re-warm of a serving federation never stalls its queries.
            def _warm_docs(s: "IndexSearcher") -> None:
                if s._reader.n_docs() <= s.url_cache_max:
                    urls = s._reader.urls()
                    with s._point_lock:
                        s._url_cache.update(urls)

            list(self._pool.map(_warm_docs, self.searchers))
            heads: set[str] = set()
            for s in self.searchers:
                rows = (
                    s.term_dict.select("term", "df")
                    .orderBy(F.desc("df"))
                    .limit(65536)
                    .collect()
                )
                heads.update(r["term"] for r in rows)
            self._ensure_global_df(sorted(heads))
            list(self._pool.map(lambda s: s.prefetch_point(), self.searchers))
        return self

    def close(self) -> None:
        self._pool.shutdown(wait=True)
        for s in self.searchers:
            s.close()
        for p in getattr(self, "_pos", None) or []:
            p.close()

    def _positionals(self):
        """Lazy per-shard `PositionalSearcher`s for federated phrase/NEAR/
        WITHIN filters; every shard must be a positional build."""
        if getattr(self, "_pos", None) is None:
            for d, s in zip(self.index_dirs, self.searchers):
                if not s.stats.get("positions"):
                    raise ValueError(
                        f"{d}: phrase-filtered federation needs positional "
                        "shard indexes (build with positions=True)"
                    )
            from colbert_spark.query.phrase import PositionalSearcher

            self._pos = [
                PositionalSearcher(self.spark, d) for d in self.index_dirs
            ]
        return self._pos

    def _batch_terms(self, queries: DataFrame) -> list[str]:
        """Distinct analyzed terms of the batch (positives + must_nots).
        Small batches tokenize driver-side; a batch past resolve_collect_max
        tokenizes in the JVM and collects ONLY the distinct term strings —
        never a question string."""
        has_exclude = "exclude" in queries.columns
        cols = ["question"] + (["exclude"] if has_exclude else [])
        cap = min(s.resolve_collect_max for s in self.searchers)
        rows = queries.select(*cols).limit(cap + 1).collect()
        if len(rows) <= cap:
            from colbert_spark.functions.analyzer import py_analyze

            terms: set[str] = set()
            for r in rows:
                for c in cols:
                    if r[c]:
                        terms.update(
                            py_analyze(py_tokenize(r[c]), self._analyzer)
                        )
            return sorted(terms)
        from colbert_spark.functions.analyzer import analyze_terms_col
        from colbert_spark.functions.tokenizer import tokens_col

        frames = [
            queries.select(tokens_col("question").alias("toks")).select(
                F.explode(
                    analyze_terms_col("toks", self._analyzer)
                ).alias("term")
            )
        ]
        if has_exclude:
            frames.append(
                queries.filter(F.col("exclude").isNotNull())
                .select(tokens_col("exclude").alias("toks"))
                .select(
                    F.explode(
                        analyze_terms_col("toks", self._analyzer)
                    ).alias("term")
                )
            )
        uni = frames[0]
        for f2 in frames[1:]:
            uni = uni.unionByName(f2)
        return sorted(r["term"] for r in uni.distinct().collect())

    def _ensure_global_df(self, terms: list[str]) -> None:
        """Resolve the global df of any NOT-yet-priced terms: concurrent
        per-shard dictionary lookups, summed, pushed into each shard's df
        override. Idempotent and monotone — a term is priced exactly once."""
        with self._lock:
            new = sorted(t for t in set(terms) if t not in self._df_g)
        if not new:
            return
        maps = list(
            self._pool.map(lambda s: s._lookup_terms(new), self.searchers)
        )
        upd = {
            t: sum(int(m[t][1]) for m in maps if m.get(t) is not None)
            for t in new
        }
        with self._lock:
            self._df_g.update(upd)
        for s in self.searchers:
            s.update_global_df(upd)

    def search(self, queries: DataFrame, k: int = 10) -> DataFrame:
        """→ (qid, rank, url, score): url is the cross-shard document key
        (shard doc_ids collide by construction)."""
        self._ensure_global_df(self._batch_terms(queries))

        def one(i: int) -> DataFrame:
            s, d = self.searchers[i], self.index_dirs[i]
            hits = s.search(queries, k)
            docs_dir = os.path.join(d, s.stats.get("docs_dir", "docs"))
            urls = self.spark.read.parquet(docs_dir).select(
                "doc_id", "url"
            )
            return hits.join(urls, "doc_id").select("qid", "url", "score")

        # concurrent scatter: each shard's eager resolution jobs overlap;
        # the union below executes the per-shard plans in one gather action
        parts = list(self._pool.map(one, range(len(self.searchers))))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("url"))
        return (
            merged.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "url", "score")
        )

    def search_strings(self, queries, k: int = 10) -> DataFrame:
        """Query-string federation → (qid, rank, url, score): the Lucene
        classic subset (`query/qstring.py`) served scatter-gather with
        GLOBAL statistics. `queries` is a list of (qid, qstring) pairs or a
        DataFrame with (qid, query) columns.

        Exactness across shards: wildcards/ranges/fuzzies expand against
        the UNION of the shard dictionaries (concurrent LRU'd per-shard
        expansions — a doc's terms always live in its own shard's
        dictionary, so the union expansion filters each shard exactly; a
        require group whose every member is absent from one shard correctly
        matches nothing THERE while other shards still answer). Scoring
        prices every expanded/scored term with the summed global df before
        the scatter. Phrase/NEAR/WITHIN FILTER clauses federate too: each
        shard resolves its own match sets from its positional blocks (a
        doc's positions live in its own shard — per-shard filters are
        globally exact) and runs the cogrouped filtered kernel; requires
        every shard be built with positions=True. PURE single-phrase
        queries federate as well: phrase tf and doclen are per-doc
        (per-shard exact), and each shard's `phrase_bm25` prices with the
        federation's global N/avgdl/token-df via
        `PositionalSearcher.with_global_stats` — so N-shard PhraseQuery
        scoring equals the single-whole-index run."""
        from colbert_spark.functions.analyzer import py_analyze
        from colbert_spark.query.qstring import (
            compile_query,
            execute_compiled,
            iter_query_strings,
        )

        # bounded ingress (the plain-text path's resolve_collect_max
        # contract): an offline-scale DataFrame batch streams partition-at-
        # a-time through the compiler — question strings are never all
        # driver-resident; the structured compiled payloads (which the
        # kernel plan broadcasts anyway) are what accumulates
        cap = min(s.resolve_collect_max for s in self.searchers)
        exp = _UnionExpander(self)
        compiled = [
            compile_query(exp, int(qid), q)
            for qid, q in iter_query_strings(queries, cap)
        ]
        live = []
        pures: list[tuple[int, str]] = []
        terms: set[str] = set()
        has_filters = False
        for cq in compiled:
            if cq.dead:
                continue
            if cq.pure_phrase is not None:
                pures.append((cq.qid, cq.pure_phrase))
                terms.update(
                    py_analyze(py_tokenize(cq.pure_phrase), self._analyzer)
                )
                continue
            if not cq.scored:
                continue
            if cq.phrases or cq.nears or cq.withins:
                has_filters = True
            live.append(cq)
            terms.update(t for t, _ in cq.scored)
            for g in cq.require:
                terms.update(g)
            terms.update(cq.exclude)
        if not live and not pures:
            return self.spark.createDataFrame([], SHARDED_TOPK_SCHEMA)
        self._ensure_global_df(sorted(terms))
        payload = [(c.qid, c.scored, c.require, c.exclude) for c in live]
        positionals = (
            self._positionals() if (has_filters or pures) else None
        )
        if pures:
            for p in positionals:
                p.with_global_stats(
                    self.n_global, self.avgdl_global, self._df_g
                )
            pure_df = self.spark.createDataFrame(
                pures, "phrase_id long, phrase string"
            )

        def one(i: int) -> DataFrame:
            s, d = self.searchers[i], self.index_dirs[i]
            if live:
                if has_filters:
                    hits = execute_compiled(
                        s, live, k, positional=positionals[i]
                    )
                else:
                    hits = s.search_compiled(payload, k)
            else:
                hits = None
            if pures:
                ph = positionals[i].phrase_bm25(pure_df, k=k).select(
                    F.col("phrase_id").alias("qid"), "rank", "doc_id",
                    "score",
                )
                hits = ph if hits is None else hits.unionByName(ph)
            docs_dir = os.path.join(d, s.stats.get("docs_dir", "docs"))
            urls = self.spark.read.parquet(docs_dir).select("doc_id", "url")
            return hits.join(urls, "doc_id").select("qid", "url", "score")

        parts = list(self._pool.map(one, range(len(self.searchers))))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("url"))
        return (
            merged.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "url", "score")
        )

    def search_point(
        self, question: str, k: int = 10, exclude: str | None = None,
        require: str | None = None,
    ) -> pd.DataFrame:
        """Point-serving federation: fan a single query out over the
        resident shard searchers' driver-side point paths CONCURRENTLY and
        merge the per-shard top-k by (score DESC, url ASC) — rank-identical
        to `search()` on the same shards. A cache-hot question schedules
        zero Spark jobs on every shard. → pandas (rank, url, score, shard,
        doc_id)."""
        from colbert_spark.functions.analyzer import py_analyze

        terms = set(py_analyze(py_tokenize(question or ""), self._analyzer))
        if exclude:
            terms |= set(py_analyze(py_tokenize(exclude), self._analyzer))
        if terms:
            self._ensure_global_df(sorted(terms))
        futs = [
            self._pool.submit(s.search_point, question, k, exclude, require)
            for s in self.searchers
        ]
        parts = []
        for i, f in enumerate(futs):
            pdf = f.result()
            ids = [int(d) for d in pdf["doc_id"]]
            urls = self.searchers[i]._lookup_urls(ids)
            url = np.array([urls[d] for d in ids], dtype=object)
            parts.append(pdf.assign(shard=np.int64(i), url=url))
        allp = (
            pd.concat(parts, ignore_index=True)
            .sort_values(
                ["score", "url"], ascending=[False, True], kind="mergesort"
            )
            .head(k)
            .reset_index(drop=True)
        )
        allp["rank"] = np.arange(1, len(allp) + 1, dtype=np.int64)
        return allp[["rank", "url", "score", "shard", "doc_id"]]


def sharded_bm25_topk(
    spark: SparkSession,
    index_dirs: list[str],
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """One-shot convenience wrapper over `ShardedSearcher` (services should
    hold the searcher resident and call `search`/`search_point` repeatedly).
    → (qid, rank, url, score)."""
    svc = ShardedSearcher(spark, index_dirs)
    try:
        return svc.search(queries, k)
    finally:
        svc._pool.shutdown(wait=True)
