"""Index-backed exact-phrase retrieval over positional segments.

`fts_phrase_match` (operators/fts_documents.py) expresses phrase semantics
as a full corpus scan — fine as an oracle, wrong at 10^12 docs, where a
phrase query must touch only the phrase terms' posting lists. This module
is the index path: blocks built with `build_index(positions=True)` carry
per-occurrence token positions (see index/build.py SEGMENT_SCHEMA notes),
and a phrase "t_0 t_1 … t_{m-1}" matches doc d at start position p iff
every t_j occurs in d at p+j.

Algorithm (per bucket, per phrase): for term j build the sorted int64 key
set {local_doc · 2^32 + (pos − j) : pos ≥ j}; the intersection of the m key
sets is exactly the set of (doc, start) phrase occurrences — m−1
`np.intersect1d` passes over sorted unique arrays (a term occupies distinct
positions in a doc, and `_term_occurrences` lexsorts the merged stream by
(doc, pos) — the salted build sub-splits interleave doc SETS, so block
order alone does not give a sorted stream). Duplicate terms in the phrase
("scan scan") need no special case: the same posting data joins under two
shifts.

Scale shape: identical to the BM25 batch path (query/wand.py) — the phrase
table resolves to term_ids via one broadcast join, the segment scan prunes
tshard partition DIRECTORIES + parquet row groups to only the phrase
terms' blocks, and ONE shuffle keyed `bucket` moves each block's compressed
bytes exactly once for the whole phrase batch. Matches are exact (no
top-k), so there is no window stage — output is (phrase_id, doc_id, n_occ).

Key-packing contract: local_doc < bucket_size ≤ 2^31 and positions < 2^32
(doclen bounded far below that), so keys fit int64 without collision.

Reference parity: the reference has no positional index (dense retrieval,
``colbert/ranking/colbert_ranker.py``); this is beyond-reference engine
surface, cross-checked against the DataFrame/DuckDB phrase oracle.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from colbert_spark.functions.tokenizer import py_tokenize, tokens_col
from colbert_spark.index.codec import decode_block
from colbert_spark.query.bm25 import bm25_col
from colbert_spark.query.wand import bucket_frame_stream, load_index

PHRASE_OUT_SCHEMA = "phrase_id long, doc_id long, n_occ long"
PHRASE_TOPK_SCHEMA = "phrase_id long, rank int, doc_id long, score double"

_SHIFT = np.int64(1) << np.int64(32)

_EMPTY = pd.DataFrame(
    {
        "phrase_id": pd.Series([], dtype="int64"),
        "doc_id": pd.Series([], dtype="int64"),
        "n_occ": pd.Series([], dtype="int64"),
    }
)


def _term_occurrences(sub: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """One (bucket, term)'s blocks → (occ_docs, occ_pos), occurrence-level,
    globally sorted by (doc, pos). Within one block docs ascend, but across
    the salted sub-splits of the base build the doc SETS interleave (the
    build salt hashes docs, it does not range-partition them), so a final
    lexsort is required — `searchsorted` probes and packed-key scans are only
    sound on the sorted stream."""
    occ_docs_l, occ_pos_l = [], []
    for db, tb, pb in zip(sub["doc_bytes"], sub["tf_bytes"], sub["pos_bytes"]):
        docs = np.cumsum(decode_block(db))
        tfs = decode_block(tb)
        deltas = decode_block(pb)
        cs = np.cumsum(deltas)
        offs = np.zeros(len(tfs) + 1, dtype=np.int64)
        np.cumsum(tfs, out=offs[1:])
        starts = offs[:-1]
        base = cs[starts] - deltas[starts]
        occ_pos_l.append(cs - np.repeat(base, tfs))
        occ_docs_l.append(np.repeat(docs, tfs))
    od = np.concatenate(occ_docs_l)
    op = np.concatenate(occ_pos_l)
    order = np.lexsort((op, od))
    return od[order], op[order]


def _make_phrase_kernel(phrase_map, bucket_size: int):
    """Kernel for one bucket frame: decode each needed term's occurrences
    ONCE, then every phrase of the batch intersects shifted key sets."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        phrases = phrase_map.value if hasattr(phrase_map, "value") else phrase_map
        bucket_lo = np.int64(int(pdf["bucket"].iat[0])) * np.int64(bucket_size)
        cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for tid, sub in pdf.groupby("term_id", sort=False):
            cache[int(tid)] = _term_occurrences(sub)
        out_p, out_d, out_n = [], [], []
        for pid, tids in phrases:
            if any(t not in cache for t in tids):
                continue
            keys: np.ndarray | None = None
            for j, t in enumerate(tids):
                od, op = cache[t]
                m = op >= j
                kj = (od[m] - bucket_lo) * _SHIFT + (op[m] - np.int64(j))
                keys = (
                    kj
                    if keys is None
                    else np.intersect1d(keys, kj, assume_unique=True)
                )
                if not keys.size:
                    break
            if keys is None or not keys.size:
                continue
            loc, counts = np.unique(keys // _SHIFT, return_counts=True)
            out_p.append(np.full(len(loc), pid, dtype=np.int64))
            out_d.append(loc + bucket_lo)
            out_n.append(counts.astype(np.int64))
        if not out_p:
            return _EMPTY
        return pd.DataFrame(
            {
                "phrase_id": np.concatenate(out_p),
                "doc_id": np.concatenate(out_d),
                "n_occ": np.concatenate(out_n),
            }
        )

    return kernel


def _positional_scan(spark, segments, stats, all_tids, kernel, schema, empty,
                     warm=None):
    """Shared scale shape of every positions consumer: prune the segment scan
    to `all_tids` (tshard partition dirs + pushed term_id range), ONE shuffle
    keyed `bucket` alone, then run `kernel` once per bucket frame — blocks
    arrive sorted (bucket, term_id, first_doc) so each term's occurrence
    stream decodes exactly once per bucket for the whole query batch.

    `warm`: a persisted bucket-partitioned sorted frame
    (`PositionalSearcher.warm`) — a narrow filter preserves its partitioning
    and grouping contiguity, so a warm batch exchanges NO index data."""
    if warm is not None:
        shuffled = warm.filter(F.col("term_id").isin(all_tids))
    else:
        seg = segments
        if "tshard" in seg.columns and stats.get("tshards"):
            shards = sorted({t % stats["tshards"] for t in all_tids})
            seg = seg.filter(F.col("tshard").isin(shards))  # dir pruning
        seg = seg.filter(
            F.col("term_id").isin(all_tids)
            & F.col("term_id").between(min(all_tids), max(all_tids))
        ).select(
            "bucket", "term_id", "first_doc", "doc_bytes", "tf_bytes", "pos_bytes"
        )
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        shuffled = seg.repartition(p, "bucket").sortWithinPartitions(
            "bucket", "term_id", "first_doc"
        )
    return shuffled.mapInPandas(bucket_frame_stream(kernel, empty), schema)


def _require_positions(stats) -> None:
    if not stats.get("positions"):
        raise ValueError(
            "this query needs a positional index (build_index(positions=True))"
        )


class PositionalSearcher:
    """Warm/batched service over one POSITIONAL index — the phrase/proximity/
    highlighting sibling of `wand.IndexSearcher`. Construct once, query many
    times; after `warm()` the bucket-partitioned sorted segments (INCLUDING
    the position streams) stay persisted, so each batch is a narrow filter →
    kernel with zero index-data exchange."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        as_of_epoch: int | None = None,
        tomb_broadcast_max: int = 10_000_000,
    ):
        """`tomb_broadcast_max`: pending-delete count above which the
        result-mask anti-join stops hinting broadcast and lets AQE plan the
        distributed join — the same knob (same default) as
        `wand.IndexSearcher`, so tuning one searcher tunes both paths."""
        self.tomb_broadcast_max = int(tomb_broadcast_max)
        self.spark = spark
        self.segments, self.term_dict, self.stats = load_index(
            spark, index_dir, as_of_epoch=as_of_epoch
        )
        _require_positions(self.stats)
        # the index's analysis chain applies to every query string, same
        # contract as wand.IndexSearcher (functions/analyzer.py); positions
        # are post-filter stream offsets on both sides (filters are 1:1)
        self._analyzer: str | None = self.stats.get("analyzer")
        # docs sink (doc_id, url, doclen): a stats.json pointer after an
        # expunging compaction, the build-time docs/ otherwise
        self._docs_path = os.path.join(
            index_dir, self.stats.get("docs_dir", "docs")
        )
        # deletion tombstones (live view only, like IndexSearcher): phrase /
        # NEAR / first-hit return FULL match sets with no top-k cut, so a
        # doc_id anti-join AFTER the kernel is exact — deleted docs simply
        # drop out, nothing is re-ranked
        self._tomb_df: DataFrame | None = None
        if as_of_epoch is None and self.stats.get("tomb_dir"):
            self._tomb_df = spark.read.parquet(
                os.path.join(index_dir, self.stats["tomb_dir"])
            )
        self._warm: DataFrame | None = None
        # federation overrides (ShardedSearcher): global N/avgdl and a
        # term-string→summed-df map so per-shard phrase scoring prices
        # with cross-shard statistics (phrase tf and doclen are per-doc,
        # hence per-shard exact)
        self._n_global: int | None = None
        self._avgdl_global: float | None = None
        self._df_global: dict[str, int] | None = None
        # phrase_point driver caches (same contracts as IndexSearcher's
        # point path: immutable-snapshot LRUs, byte-capped block rows)
        self._pterm_cache: OrderedDict = OrderedDict()
        self._pblock_cache: OrderedDict = OrderedDict()
        self._pblock_bytes: int = 0
        self.point_cache_bytes: int = 512 << 20
        self.term_cache_max: int = 1 << 20
        self._point_lookup_jobs: int = 0
        self._point_fetch_jobs: int = 0

    def _mask(self, res: DataFrame) -> DataFrame:
        if self._tomb_df is None:
            return res
        # positional outputs are FULL match sets (no top-k cut before
        # phrase_bm25's window, which ranks the already-masked hits), so the
        # anti-join is exact; only hint broadcast while the pending-delete
        # set is small — past that, a plain (AQE-planned) join keeps the set
        # distributed (the wand.make_masked_kernel bound)
        t = self._tomb_df
        if int(self.stats.get("n_deleted", 0)) <= self.tomb_broadcast_max:
            t = F.broadcast(t)
        return res.join(t, "doc_id", "left_anti")

    def warm(self) -> "PositionalSearcher":
        if self._warm is None:
            p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            self._warm = (
                self.segments.select(
                    "bucket", "term_id", "first_doc",
                    "doc_bytes", "tf_bytes", "pos_bytes",
                )
                .repartition(p, "bucket")
                .sortWithinPartitions("bucket", "term_id", "first_doc")
                .persist()
            )
            self._warm.count()
        return self

    def close(self) -> None:
        if self._warm is not None:
            self._warm.unpersist()
            self._warm = None
        self._pterm_cache.clear()
        self._pblock_cache.clear()
        self._pblock_bytes = 0

    def _lookup_terms_point(self, terms: list[str]) -> dict:
        """term → (term_id, df) | None through a searcher-lifetime LRU —
        the `IndexSearcher._lookup_terms` contract (sound: one immutable
        snapshot); misses cost one pushed-filter collect."""
        out, missing = {}, []
        for t in terms:
            if t in self._pterm_cache:
                self._pterm_cache.move_to_end(t)
                out[t] = self._pterm_cache[t]
            else:
                missing.append(t)
        if missing:
            self._point_lookup_jobs += 1
            rows = (
                self.term_dict.filter(F.col("term").isin(missing))
                .select("term", "term_id", "df")
                .collect()
            )
            found = {r["term"]: (int(r["term_id"]), int(r["df"])) for r in rows}
            for t in missing:
                out[t] = self._pterm_cache[t] = found.get(t)
                if len(self._pterm_cache) > self.term_cache_max:
                    self._pterm_cache.popitem(last=False)
        return out

    def _fetch_pblocks(self, term_ids: list[int]) -> None:
        """Positional block rows (incl. pos_bytes) of `term_ids` into the
        driver LRU — one collect for the misses, none when cache-hot."""
        missing = [t for t in term_ids if t not in self._pblock_cache]
        if missing:
            self._point_fetch_jobs += 1
            cols = ["bucket", "term_id", "doc_bytes", "tf_bytes", "pos_bytes"]
            src = self._warm if self._warm is not None else self.segments
            pdf = (
                src.filter(F.col("term_id").isin(missing)).select(*cols).toPandas()
            )
            for t in missing:
                sub = pdf[pdf["term_id"] == t].reset_index(drop=True)
                nb = int(sub.memory_usage(deep=True).sum())
                self._pblock_cache[t] = (sub, nb)
                self._pblock_bytes += nb
        current = set(term_ids)
        for t in term_ids:
            if t in self._pblock_cache:
                self._pblock_cache.move_to_end(t)
        while self._pblock_bytes > self.point_cache_bytes:
            victim = next(
                (t for t in self._pblock_cache if t not in current), None
            )
            if victim is None:
                break
            _, nb = self._pblock_cache.pop(victim)
            self._pblock_bytes -= nb

    def phrase_point(self, phrase: str) -> pd.DataFrame:
        """(doc_id, n_occ) for ONE exact phrase, answered driver-side — the
        positional sibling of `IndexSearcher.search_point`: tokenize with
        the shared grammar, resolve through the term LRU, pull uncached
        terms' positional block rows once, and run the IDENTICAL
        `_make_phrase_kernel` intersection per cached bucket frame. A
        cache-hot phrase schedules no Spark job. Any OOV token ⇒ empty (the
        phrase cannot match). Indexes with pending deletes fall back to the
        distributed path (the mask joins there)."""
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "n_occ": pd.Series([], dtype="int64"),
            }
        )
        _require_positions(self.stats)
        if self._tomb_df is not None:
            qdf = self.spark.createDataFrame(
                [(0, phrase)], "phrase_id long, phrase string"
            )
            rows = self.phrase(qdf).collect()
            return (
                pd.DataFrame(
                    {
                        "doc_id": [r["doc_id"] for r in rows],
                        "n_occ": [r["n_occ"] for r in rows],
                    }
                ).sort_values("doc_id").reset_index(drop=True)
                if rows
                else empty
            )
        from colbert_spark.functions.analyzer import py_analyze

        toks = py_analyze(py_tokenize(phrase or ""), self._analyzer)
        if not toks:
            return empty
        resolved = self._lookup_terms_point(sorted(set(toks)))
        if any(resolved.get(t) is None for t in toks):
            return empty
        tids = [resolved[t][0] for t in toks]
        uniq = sorted(set(tids))
        self._fetch_pblocks(uniq)
        frames = [
            self._pblock_cache[t][0]
            for t in uniq
            if len(self._pblock_cache[t][0])
        ]
        if len(frames) < len(uniq):
            return empty  # a term with no stored blocks cannot complete a phrase
        pdf = pd.concat(frames, ignore_index=True)
        kernel = _make_phrase_kernel(
            [(0, tids)], int(self.stats["bucket_size"])
        )
        outs = []
        for _, sub in pdf.groupby("bucket", sort=False):
            res = kernel(sub.reset_index(drop=True))
            if len(res):
                outs.append(res)
        if not outs:
            return empty
        allr = pd.concat(outs, ignore_index=True)
        return (
            allr[["doc_id", "n_occ"]]
            .astype({"doc_id": "int64", "n_occ": "int64"})
            .sort_values("doc_id")
            .reset_index(drop=True)
        )

    def near_point(self, t1: str, t2: str, window: int = 4) -> pd.DataFrame:
        """(doc_id, n_anchor) for ONE proximity pair (|pos(t1) − pos(t2)| ≤
        window), answered driver-side through the same term/block LRUs as
        `phrase_point` and the IDENTICAL `_make_near_kernel` probe. OOV on
        either side ⇒ empty; pending-delete indexes fall back to the
        distributed masked path."""
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "n_anchor": pd.Series([], dtype="int64"),
            }
        )
        _require_positions(self.stats)
        if self._tomb_df is not None:
            qdf = self.spark.createDataFrame(
                [(0, t1, t2)], "pair_id long, t1 string, t2 string"
            )
            rows = self.near(qdf, window=window).collect()
            return (
                pd.DataFrame(
                    {
                        "doc_id": [r["doc_id"] for r in rows],
                        "n_anchor": [r["n_anchor"] for r in rows],
                    }
                ).sort_values("doc_id").reset_index(drop=True)
                if rows
                else empty
            )
        from colbert_spark.functions.analyzer import py_analyze

        w1 = py_analyze(py_tokenize(t1 or ""), self._analyzer)
        w2 = py_analyze(py_tokenize(t2 or ""), self._analyzer)
        if len(w1) != 1 or len(w2) != 1:
            return empty
        resolved = self._lookup_terms_point(sorted({w1[0], w2[0]}))
        if resolved.get(w1[0]) is None or resolved.get(w2[0]) is None:
            return empty
        tid1, tid2 = resolved[w1[0]][0], resolved[w2[0]][0]
        uniq = sorted({tid1, tid2})
        self._fetch_pblocks(uniq)
        frames = [
            self._pblock_cache[t][0]
            for t in uniq
            if len(self._pblock_cache[t][0])
        ]
        if len(frames) < len(uniq):
            return empty
        pdf = pd.concat(frames, ignore_index=True)
        kernel = _make_near_kernel(
            [(0, tid1, tid2)], int(self.stats["bucket_size"]), int(window)
        )
        outs = []
        for _, sub in pdf.groupby("bucket", sort=False):
            res = kernel(sub.reset_index(drop=True))
            if len(res):
                outs.append(res)
        if not outs:
            return empty
        allr = pd.concat(outs, ignore_index=True)
        return (
            allr[["doc_id", "n_anchor"]]
            .astype({"doc_id": "int64", "n_anchor": "int64"})
            .sort_values("doc_id")
            .reset_index(drop=True)
        )

    def within_point(self, terms: str, window: int = 8) -> pd.DataFrame:
        """(doc_id, min_span) for ONE unordered k-term proximity group (all
        analyzed tokens of `terms` within `window` consecutive positions),
        answered driver-side through the same term/block LRUs as
        `phrase_point` and the IDENTICAL `_make_within_kernel` sweep. Any
        OOV term ⇒ empty; pending-delete indexes fall back to the
        distributed masked path."""
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "min_span": pd.Series([], dtype="int64"),
            }
        )
        _require_positions(self.stats)
        if self._tomb_df is not None:
            qdf = self.spark.createDataFrame(
                [(0, terms)], "group_id long, terms string"
            )
            rows = self.within(qdf, window=window).collect()
            return (
                pd.DataFrame(
                    {
                        "doc_id": [r["doc_id"] for r in rows],
                        "min_span": [r["min_span"] for r in rows],
                    }
                ).sort_values("doc_id").reset_index(drop=True)
                if rows
                else empty
            )
        from colbert_spark.functions.analyzer import py_analyze

        toks = list(dict.fromkeys(py_analyze(py_tokenize(terms or ""), self._analyzer)))
        if not toks:
            return empty
        resolved = self._lookup_terms_point(sorted(set(toks)))
        if any(resolved.get(t) is None for t in toks):
            return empty
        tids = sorted({resolved[t][0] for t in toks})
        self._fetch_pblocks(tids)
        frames = [
            self._pblock_cache[t][0]
            for t in tids
            if len(self._pblock_cache[t][0])
        ]
        if len(frames) < len(tids):
            return empty
        pdf = pd.concat(frames, ignore_index=True)
        kernel = _make_within_kernel([(0, tids, int(window))])
        outs = []
        for _, sub in pdf.groupby("bucket", sort=False):
            res = kernel(sub.reset_index(drop=True))
            if len(res):
                outs.append(res)
        if not outs:
            return empty
        allr = pd.concat(outs, ignore_index=True)
        return (
            allr[["doc_id", "min_span"]]
            .astype({"doc_id": "int64", "min_span": "int64"})
            .sort_values("doc_id")
            .reset_index(drop=True)
        )

    def with_global_stats(
        self, n_docs: int, avgdl: float, df_map: dict[str, int]
    ) -> "PositionalSearcher":
        """Price phrase scoring with FEDERATION-global statistics: N and
        avgdl from the shard sums, df per token from the summed per-shard
        dictionaries (term-string keyed — shard term_ids are local). Match
        sets, phrase tf and doclen stay per-shard (exact). Mirror of
        `IndexSearcher.with_global_stats`."""
        self._n_global = int(n_docs)
        self._avgdl_global = float(avgdl)
        self._df_global = dict(df_map)
        return self

    def _resolve_phrases(self, phrases: DataFrame):
        """phrases(phrase_id, phrase) → (phrase_list, df_map, tid2term) or
        None. phrase_list is [(pid, [term_id, …] in token order)] for
        phrases whose EVERY token is in the vocabulary (one OOV token ⇒ the
        phrase cannot match and is dropped); df_map carries each resolved
        term's df for query-time idf (blocks are idf-free, same contract as
        wand.py); tid2term maps the shard-local ids back to term strings
        for the federation's global-df override."""
        from colbert_spark.functions.analyzer import analyze_terms_col

        ptoks = phrases.select(
            "phrase_id", tokens_col("phrase").alias("toks")
        ).select(
            "phrase_id",
            F.posexplode(analyze_terms_col("toks", self._analyzer)).alias(
                "j", "term"
            ),
        )
        n_toks = {
            r["phrase_id"]: r["n"]
            for r in ptoks.groupBy("phrase_id").agg(F.count("*").alias("n")).collect()
        }
        # one broadcast join resolves the whole batch; the dictionary-side
        # scan prunes via the join and is never collected
        resolved = (
            self.term_dict.join(F.broadcast(ptoks), "term")
            .select("phrase_id", "j", "term_id", "df", "term")
            .collect()
        )
        by_pid: dict[int, list[tuple[int, int]]] = {}
        df_map: dict[int, int] = {}
        tid2term: dict[int, str] = {}
        for r in resolved:
            by_pid.setdefault(r["phrase_id"], []).append((r["j"], r["term_id"]))
            df_map[int(r["term_id"])] = int(r["df"])
            tid2term[int(r["term_id"])] = r["term"]
        phrase_list = []
        for pid, pairs in by_pid.items():
            if len(pairs) != n_toks.get(pid, -1):
                continue  # an OOV token: the phrase cannot match
            pairs.sort()
            phrase_list.append((pid, [tid for _, tid in pairs]))
        if not phrase_list:
            return None
        return phrase_list, df_map, tid2term

    def _phrase_hits(self, phrase_list) -> DataFrame:
        """(phrase_id, doc_id, n_occ) for a resolved phrase batch — the
        shared positional-intersection kernel over ONE bucket-keyed scan."""
        all_tids = sorted({t for _, tids in phrase_list for t in tids})
        bc = self.spark.sparkContext.broadcast(phrase_list)
        kernel = _make_phrase_kernel(bc, int(self.stats["bucket_size"]))
        return self._mask(_positional_scan(
            self.spark, self.segments, self.stats, all_tids, kernel,
            PHRASE_OUT_SCHEMA, _EMPTY, warm=self._warm,
        ))

    def phrase(self, phrases: DataFrame) -> DataFrame:
        """phrases(phrase_id, phrase) → (phrase_id, doc_id, n_occ) of every
        doc containing the exact token sequence. A phrase with any
        out-of-vocabulary token matches nothing; so does an empty
        (all-punctuation) phrase."""
        resolved = self._resolve_phrases(phrases)
        if resolved is None:
            return self.spark.createDataFrame([], PHRASE_OUT_SCHEMA)
        return self._phrase_hits(resolved[0])

    def phrase_bm25(self, phrases: DataFrame, k: int = 10) -> DataFrame:
        """RANKED phrase retrieval — the Lucene PhraseQuery analog (Lucene
        scores a phrase as one synthetic term: tf = exact-occurrence count,
        idf = Σ idf(tokenᵢ), through the same BM25 saturation as unigrams).
        phrases(phrase_id, phrase) → (phrase_id, rank, doc_id, score), top-k
        per phrase, ties broken (score DESC, doc_id ASC) like
        `IndexSearcher.search`.

        Scale shape: the positional-intersection kernel emits the match set
        (phrase matches are rare — orders of magnitude below unigram posting
        volume), the doclen join against the docs sink is AQE-decided (the
        hits side is small), and idf_sum is a |phrases|-row broadcast. No
        new exchange beyond `phrase()`'s single bucket-keyed scan."""
        resolved = self._resolve_phrases(phrases)
        if resolved is None:
            return self.spark.createDataFrame([], PHRASE_TOPK_SCHEMA)
        phrase_list, df_map, tid2term = resolved
        hits = self._phrase_hits(phrase_list)
        st = self.stats
        # live_docs appears only after an expunging compaction; between a
        # delete and its expunge, statistics deliberately stay encode-time.
        # Under federation overrides, N/avgdl/df price globally instead.
        n_docs = (
            self._n_global
            if self._n_global is not None
            else st.get("live_docs", st["N"])
        )

        def _df(t: int) -> int:
            if self._df_global is not None:
                return int(self._df_global.get(tid2term[t], df_map[t]))
            return df_map[t]

        idf_rows = [
            (
                int(pid),
                float(
                    sum(
                        np.log(
                            1.0
                            + (n_docs - _df(t) + 0.5) / (_df(t) + 0.5)
                        )
                        for t in tids
                    )
                ),
            )
            for pid, tids in phrase_list
        ]
        idf_df = self.spark.createDataFrame(
            idf_rows, "phrase_id long, idf_sum double"
        )
        doclens = self.spark.read.parquet(self._docs_path).select(
            "doc_id", "doclen"
        )
        k1, b = float(st["k1"]), float(st["b"])
        avgdl = (
            self._avgdl_global
            if self._avgdl_global is not None
            else float(st["avgdl"])
        )
        score = bm25_col(F.col("idf_sum"), F.col("n_occ"), k1, b, avgdl)
        scored = (
            hits.join(F.broadcast(idf_df), "phrase_id")
            .join(doclens, "doc_id")
            .select("phrase_id", "doc_id", score.alias("score"))
        )
        w = Window.partitionBy("phrase_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("phrase_id", "rank", "doc_id", "score")
        )

    def near(self, pairs: DataFrame, window: int = 4) -> DataFrame:
        """pairs(pair_id, t1, t2) → (pair_id, doc_id, n_anchor): proximity
        (NEAR/w) retrieval. n_anchor counts the t1 occurrences that have a
        t2 occurrence within `window` tokens in the same doc (unordered,
        |Δpos| ≤ window). Each side must normalize to a single token under
        the index grammar; a pair with an out-of-vocabulary side matches
        nothing."""
        spark = self.spark
        from colbert_spark.functions.analyzer import analyze_terms_col

        sides = (
            pairs.selectExpr("pair_id", "stack(2, 0, t1, 1, t2) as (side, raw)")
            .select("pair_id", "side", tokens_col("raw").alias("toks"))
            .select(
                "pair_id",
                "side",
                F.element_at(
                    analyze_terms_col("toks", self._analyzer), 1
                ).alias("term"),
            )
        )
        resolved = (
            self.term_dict.join(F.broadcast(sides), "term")
            .select("pair_id", "side", "term_id")
            .collect()
        )
        by_pid: dict[int, dict[int, int]] = {}
        for r in resolved:
            by_pid.setdefault(r["pair_id"], {})[r["side"]] = r["term_id"]
        pair_list = [
            (pid, d[0], d[1]) for pid, d in by_pid.items() if 0 in d and 1 in d
        ]
        if not pair_list:
            return spark.createDataFrame([], NEAR_OUT_SCHEMA)
        all_tids = sorted({t for _, a, b in pair_list for t in (a, b)})

        bc = spark.sparkContext.broadcast(pair_list)
        kernel = _make_near_kernel(bc, int(self.stats["bucket_size"]), int(window))
        return self._mask(_positional_scan(
            spark, self.segments, self.stats, all_tids, kernel,
            NEAR_OUT_SCHEMA, _NEAR_EMPTY, warm=self._warm,
        ))

    def within(self, groups: DataFrame, window: int = 8) -> DataFrame:
        """groups(group_id, terms) → (group_id, doc_id, min_span): k-term
        UNORDERED proximity (INQUERY's #uwN; the unordered side of Lucene's
        sloppy phrase, which NEAR/w covers only for k = 2). `terms` is a
        space-separated string; tokens analyze under the index grammar and
        DEDUPLICATE (set semantics — "a b a" ≡ "a b"). A doc matches when
        some window of `window` consecutive positions contains ≥1 occurrence
        of EVERY group term; min_span is the smallest such cover
        (max−min+1 over one-occurrence-per-term choices). A group with any
        out-of-vocabulary term matches nothing.

        Scale shape: same as `phrase`/`near` — one broadcast join resolves
        the batch, the segment scan prunes to the group terms' blocks, ONE
        bucket-keyed shuffle. Kernel work per group is bounded by the
        RAREST term's per-bucket df (candidate docs = the k-way doc-set
        intersection, walked once per candidate with the classic minimal-
        window sweep over its few merged occurrences)."""
        spark = self.spark
        from colbert_spark.functions.analyzer import analyze_terms_col

        gtoks = groups.select(
            "group_id", tokens_col("terms").alias("toks")
        ).select(
            "group_id",
            F.explode(
                F.array_distinct(analyze_terms_col("toks", self._analyzer))
            ).alias("term"),
        )
        n_terms = {
            r["group_id"]: r["n"]
            for r in gtoks.groupBy("group_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        resolved = (
            self.term_dict.join(F.broadcast(gtoks), "term")
            .select("group_id", "term_id")
            .collect()
        )
        by_gid: dict[int, list[int]] = {}
        for r in resolved:
            by_gid.setdefault(r["group_id"], []).append(int(r["term_id"]))
        group_list = [
            (gid, sorted(tids), int(window))
            for gid, tids in by_gid.items()
            if len(tids) == n_terms.get(gid, -1)  # any OOV ⇒ no match
        ]
        if not group_list:
            return spark.createDataFrame([], WITHIN_OUT_SCHEMA)
        all_tids = sorted({t for _, tids, _ in group_list for t in tids})
        bc = spark.sparkContext.broadcast(group_list)
        kernel = _make_within_kernel(bc)
        return self._mask(_positional_scan(
            spark, self.segments, self.stats, all_tids, kernel,
            WITHIN_OUT_SCHEMA, _WITHIN_EMPTY, warm=self._warm,
        ))

    def first_hit(self, queries: DataFrame, candidates: DataFrame) -> DataFrame:
        """(qid, doc_id, first_pos) for each candidate pair: the 0-BASED
        position of the EARLIEST occurrence of any of the query's distinct
        terms in that doc — the highlighting primitive, answered from
        posting positions without touching document text. `candidates(qid,
        doc_id)` is a top-k result (k·|Q| rows — broadcast-small by
        construction); pairs whose doc contains no query term produce no
        row."""
        spark = self.spark
        from colbert_spark.functions.analyzer import analyze_terms_col

        qtoks = queries.select(
            "qid", tokens_col("question").alias("toks")
        ).select(
            "qid",
            F.explode(
                F.array_distinct(analyze_terms_col("toks", self._analyzer))
            ).alias("term"),
        )
        resolved = (
            self.term_dict.join(F.broadcast(qtoks), "term")
            .select("qid", "term_id")
            .collect()
        )
        qid_terms: dict[int, list[int]] = {}
        for r in resolved:
            qid_terms.setdefault(r["qid"], []).append(r["term_id"])
        cands = [(r["qid"], r["doc_id"]) for r in candidates.collect()]
        if not qid_terms or not cands:
            return spark.createDataFrame([], FIRSTHIT_OUT_SCHEMA)
        all_tids = sorted({t for ts in qid_terms.values() for t in ts})
        bc = spark.sparkContext.broadcast((qid_terms, cands))
        kernel = _make_firsthit_kernel(bc, int(self.stats["bucket_size"]))
        return self._mask(_positional_scan(
            spark, self.segments, self.stats, all_tids, kernel,
            FIRSTHIT_OUT_SCHEMA, _FH_EMPTY, warm=self._warm,
        ))


def phrase_match_segments(
    spark: SparkSession,
    index_dir: str,
    phrases: DataFrame,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """One-shot convenience wrapper over `PositionalSearcher.phrase`."""
    return PositionalSearcher(spark, index_dir, as_of_epoch).phrase(phrases)


def phrase_bm25_segments(
    spark: SparkSession,
    index_dir: str,
    phrases: DataFrame,
    k: int = 10,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """One-shot convenience wrapper over `PositionalSearcher.phrase_bm25`."""
    return PositionalSearcher(spark, index_dir, as_of_epoch).phrase_bm25(
        phrases, k=k
    )


FIRSTHIT_OUT_SCHEMA = "qid long, doc_id long, first_pos long"

_FH_EMPTY = pd.DataFrame(
    {
        "qid": pd.Series([], dtype="int64"),
        "doc_id": pd.Series([], dtype="int64"),
        "first_pos": pd.Series([], dtype="int64"),
    }
)


def _make_firsthit_kernel(payload_bc, bucket_size: int):
    """Kernel for one bucket frame: per needed term, the FIRST occurrence
    position per doc (one np.unique over the sorted occurrence stream); each
    (qid, candidate-doc) pair then takes the min over the query's terms via
    binary-search probes. Candidates are a broadcast k·|Q| set — tiny by
    construction (they come from a top-k), so the probe loop is bounded."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        payload = payload_bc.value if hasattr(payload_bc, "value") else payload_bc
        qid_terms, cands = payload
        bkt = int(pdf["bucket"].iat[0])
        lo, hi = bkt * bucket_size, (bkt + 1) * bucket_size
        mine = [(q, d) for q, d in cands if lo <= d < hi]
        if not mine:
            return _FH_EMPTY
        cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for tid, sub in pdf.groupby("term_id", sort=False):
            od, op = _term_occurrences(sub)
            ud, idx = np.unique(od, return_index=True)  # stream is (doc,pos)-
            cache[int(tid)] = (ud, op[idx])  # sorted ⇒ idx = first occurrence
        out_q, out_d, out_p = [], [], []
        for q, d in mine:
            best = None
            for t in qid_terms.get(q, ()):
                e = cache.get(t)
                if e is None:
                    continue
                ud, fp = e
                i = int(np.searchsorted(ud, d))
                if i < len(ud) and ud[i] == d:
                    p = int(fp[i])
                    best = p if best is None or p < best else best
            if best is not None:
                out_q.append(q)
                out_d.append(d)
                out_p.append(best)
        if not out_q:
            return _FH_EMPTY
        return pd.DataFrame(
            {
                "qid": np.array(out_q, dtype=np.int64),
                "doc_id": np.array(out_d, dtype=np.int64),
                "first_pos": np.array(out_p, dtype=np.int64),
            }
        )

    return kernel


def first_hit_segments(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    candidates: DataFrame,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """One-shot convenience wrapper over `PositionalSearcher.first_hit`."""
    return PositionalSearcher(spark, index_dir, as_of_epoch).first_hit(
        queries, candidates
    )


NEAR_OUT_SCHEMA = "pair_id long, doc_id long, n_anchor long"

_NEAR_EMPTY = pd.DataFrame(
    {
        "pair_id": pd.Series([], dtype="int64"),
        "doc_id": pd.Series([], dtype="int64"),
        "n_anchor": pd.Series([], dtype="int64"),
    }
)


def _make_near_kernel(pair_map, bucket_size: int, window: int):
    """Kernel for one bucket frame: decode each needed term's occurrences
    once; an ANCHOR is an occurrence of t1 with some occurrence of t2 in the
    same doc within `window` tokens (|p1 − p2| ≤ window, either side). The
    t2 side is probed by binary search over its packed sorted (doc, pos)
    keys — window ≪ 2^32, so the probe range can never leak into a
    neighboring doc's key space."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pairs = pair_map.value if hasattr(pair_map, "value") else pair_map
        bucket_lo = np.int64(int(pdf["bucket"].iat[0])) * np.int64(bucket_size)
        cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for tid, sub in pdf.groupby("term_id", sort=False):
            cache[int(tid)] = _term_occurrences(sub)
        out_p, out_d, out_n = [], [], []
        for pid, t1, t2 in pairs:
            if t1 not in cache or t2 not in cache:
                continue
            od1, op1 = cache[t1]
            od2, op2 = cache[t2]
            keys2 = (od2 - bucket_lo) * _SHIFT + op2
            lo1 = (od1 - bucket_lo) * _SHIFT
            lo = lo1 + np.maximum(op1 - np.int64(window), np.int64(0))
            hi = lo1 + (op1 + np.int64(window))
            hit = np.searchsorted(keys2, hi, side="right") > np.searchsorted(
                keys2, lo, side="left"
            )
            if not hit.any():
                continue
            loc, counts = np.unique(od1[hit], return_counts=True)
            out_p.append(np.full(len(loc), pid, dtype=np.int64))
            out_d.append(loc)
            out_n.append(counts.astype(np.int64))
        if not out_p:
            return _NEAR_EMPTY
        return pd.DataFrame(
            {
                "pair_id": np.concatenate(out_p),
                "doc_id": np.concatenate(out_d),
                "n_anchor": np.concatenate(out_n),
            }
        )

    return kernel


WITHIN_OUT_SCHEMA = "group_id long, doc_id long, min_span long"

_WITHIN_EMPTY = pd.DataFrame(
    {
        "group_id": pd.Series([], dtype="int64"),
        "doc_id": pd.Series([], dtype="int64"),
        "min_span": pd.Series([], dtype="int64"),
    }
)


def _make_within_kernel(group_map):
    """Kernel for one bucket frame: decode each needed term's occurrences
    once; for every group, candidate docs are the k-way sorted-unique doc
    intersection, and each candidate is scanned with the classic minimal-
    window sweep (two pointers over the merged labelled occurrence stream,
    O(total occurrences of the group's terms in that doc)). Unlike the
    phrase/NEAR kernels it needs no bucket offset: the sweep works on
    global doc ids directly (no packed bucket-relative keys)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        groups = group_map.value if hasattr(group_map, "value") else group_map
        cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for tid, sub in pdf.groupby("term_id", sort=False):
            cache[int(tid)] = _term_occurrences(sub)
        out_g, out_d, out_s = [], [], []
        for gid, tids, window in groups:
            if any(t not in cache for t in tids):
                continue
            k = len(tids)
            cand: np.ndarray | None = None
            for t in tids:
                u = np.unique(cache[t][0])
                cand = (
                    u
                    if cand is None
                    else np.intersect1d(cand, u, assume_unique=True)
                )
                if not cand.size:
                    break
            if cand is None or not cand.size:
                continue
            for d in cand:
                ps_l, lb_l = [], []
                for j, t in enumerate(tids):
                    od, op = cache[t]
                    lo = np.searchsorted(od, d, side="left")
                    hi = np.searchsorted(od, d, side="right")
                    ps_l.append(op[lo:hi])
                    lb_l.append(np.full(hi - lo, j, dtype=np.int64))
                ps = np.concatenate(ps_l)
                lb = np.concatenate(lb_l)
                order = np.argsort(ps, kind="stable")
                ps, lb = ps[order], lb[order]
                counts = np.zeros(k, dtype=np.int64)
                missing, left = k, 0
                best = np.int64(1) << np.int64(60)
                for right in range(len(ps)):
                    c = lb[right]
                    if counts[c] == 0:
                        missing -= 1
                    counts[c] += 1
                    while missing == 0:  # shrink to the minimal cover
                        span = ps[right] - ps[left] + 1
                        if span < best:
                            best = span
                        cl = lb[left]
                        counts[cl] -= 1
                        if counts[cl] == 0:
                            missing += 1
                        left += 1
                if best <= window:
                    out_g.append(gid)
                    out_d.append(int(d))
                    out_s.append(int(best))
        if not out_g:
            return _WITHIN_EMPTY
        return pd.DataFrame(
            {
                "group_id": np.array(out_g, dtype=np.int64),
                "doc_id": np.array(out_d, dtype=np.int64),
                "min_span": np.array(out_s, dtype=np.int64),
            }
        )

    return kernel


def within_match_segments(
    spark: SparkSession,
    index_dir: str,
    groups: DataFrame,
    window: int = 8,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """One-shot convenience wrapper over `PositionalSearcher.within`."""
    return PositionalSearcher(spark, index_dir, as_of_epoch).within(
        groups, window
    )


def near_match_segments(
    spark: SparkSession,
    index_dir: str,
    pairs: DataFrame,
    window: int = 4,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """One-shot convenience wrapper over `PositionalSearcher.near`."""
    return PositionalSearcher(spark, index_dir, as_of_epoch).near(pairs, window)
