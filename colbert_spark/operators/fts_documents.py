"""Full-text engine operators over the `documents` testdata table — the
driver-gated face of the BM25 engine (SURVEY.md §2.2 P2 tokenize, §2.4 A1/A2/A6
stats, §2.5 J5 score join, §2.6 T1 top-k).

Every query has a DuckDB oracle built from the SAME tokenizer grammar
(`DUCKDB_TOKEN_REGEX`) and the SAME BM25 formula, so the driver's value-hash
compare is an independent cross-engine rank-identity check. Scores are ranked
on round(score, 9) in BOTH engines (kills float-summation-order rank flips on
mathematically-tied scores) and output rounded to 4 decimals.

On the Spark side the BM25 formula lives once, in `query/bm25.py` (`idf_col`,
`bm25_col`, `bm25_score_col`): every corpus-scan operator takes its postings,
df and (N, avgdl) from `_corpus_model` and its per-posting contributions from
`_contribs`, keeping only its own filters and joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from colbert_spark.functions.tokenizer import duckdb_tokens_sql, tokens_col
from colbert_spark.oracle import B_DEFAULT, K1_DEFAULT
from colbert_spark.query.bm25 import bm25_col, bm25_score_col, idf_col, query_terms_df
from colbert_spark.sources.tables import load_table

# the fixed "reference query set" for the documents corpus
DOC_QUERIES = [
    (0, "hash join table"),
    (1, "customer order line"),
    (2, "vector stream"),
    (3, "slow query filter"),
    (4, "the a data"),
    (5, "scan scan scan"),
    (6, "zzznotfound vector"),
    (7, "window"),
]
TOPK = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("terms"))
        .withColumn("doclen", F.size("terms"))
    )


def _postings(docs: DataFrame) -> DataFrame:
    """Tokenized docs → lazy corpus postings (term, doc_id, doclen, tf)."""
    return (
        docs.select("doc_id", "doclen", F.explode("terms").alias("term"))
        .groupBy("term", "doc_id", "doclen")
        .agg(F.count("*").alias("tf"))
    )


def _corpus_model(docs: DataFrame) -> tuple[DataFrame, DataFrame, int, float]:
    """The corpus-scan BM25 model of tokenized `docs`: (postings,
    tstats(term, df), N, avgdl), N and avgdl from one collect over the
    cached docs."""
    docs = docs.cache()
    row = docs.agg(F.count("*").alias("n"), F.avg("doclen").alias("avgdl")).collect()[0]
    posts = _postings(docs)
    tstats = posts.groupBy("term").agg(F.count("*").alias("df"))
    return posts, tstats, row["n"], row["avgdl"]


def _contribs(
    posts: DataFrame, qterms: DataFrame, n_docs: int, avgdl: float
) -> DataFrame:
    """posts ⋈ broadcast(qterms(qid, term, qtf, df)) plus each posting's
    BM25 `contrib` — the one formula, `query/bm25.py:bm25_score_col`."""
    return posts.join(F.broadcast(qterms), "term").withColumn(
        "contrib", bm25_score_col(K1_DEFAULT, B_DEFAULT, n_docs, avgdl)
    )


def _bm25_scores(contribs: DataFrame) -> DataFrame:
    """(qid, doc_id, score): Σ contrib per query and doc."""
    return contribs.groupBy("qid", "doc_id").agg(F.sum("contrib").alias("score"))


def fts_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", F.col("doclen").cast("long").alias("doclen"))


def fts_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).agg(
        F.count("*").alias("n_docs"),
        F.sum("doclen").cast("long").alias("total_tokens"),
        F.round(F.avg("doclen"), 6).alias("avgdl_r"),
    )


def fts_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _postings(_docs(spark, sf_dir))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(30)
    )


def fts_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: BM25 top-10 for the fixed query set over `documents`."""
    return _fts_bm25_topk(spark, sf_dir, TOPK)


def _rank_topk(scored, k: int = TOPK, offset: int = 0):
    """The engine's tie-break contract, shared by every ranked entry AND its
    oracle: rank per qid on (round(score, 9) DESC, doc_id ASC), keep k, emit
    round(score, 4) AS score_r. One definition so the protocol cannot drift
    between operators. `offset` pages: ranks offset+1 … offset+k,
    renumbered 1 … k."""
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k))
        .select(
            "qid",
            (F.col("rank") - offset).alias("rank"),
            "doc_id",
            F.round("score", 4).alias("score_r"),
        )
    )


def _fts_bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    allowed: DataFrame | None = None,
    page_offset: int = 0,
    docs: DataFrame | None = None,
    queries_df: DataFrame | None = None,
    analyzer: str | None = None,
) -> DataFrame:
    """`allowed` (filtered retrieval): a (doc_id) DataFrame restricting the
    RANKED docs; collection statistics (N, avgdl, df) deliberately stay
    corpus-wide — the standard filtered-search contract. `docs` / `queries_df`
    override the default corpus tokenization / query set, and `analyzer`
    applies an analysis chain to the QUERY tokens (analyzer entries pass
    pre-analyzed `docs`)."""
    posts, tstats, n_docs, avgdl = _corpus_model(
        docs if docs is not None else _docs(spark, sf_dir)
    )
    if allowed is not None:
        posts = posts.join(allowed.select("doc_id"), "doc_id", "leftsemi")
    queries = (
        queries_df
        if queries_df is not None
        else spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    )
    from colbert_spark.functions.analyzer import analyze_terms_col

    qt = (
        queries.select("qid", tokens_col("question").alias("qtoks"))
        .select("qid", F.explode(analyze_terms_col("qtoks", analyzer)).alias("term"))
        .groupBy("qid", "term")
        .agg(F.count("*").alias("qtf"))
    )
    scores = _bm25_scores(_contribs(posts, qt.join(tstats, "term"), n_docs, avgdl))
    return _rank_topk(scores, k, offset=page_offset)


def fts_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize top-k hits back to document attributes — the reference's
    pid → passage-text lookup (``dense_server_client.py:47,92-103``) as a
    join. The docs side is the big table: plain join (broadcast the tiny
    top-k side at scale), never a collect."""
    topk = fts_bm25_topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return topk.join(docs, "doc_id").select(
        "qid", "rank", "doc_id", "lang", "source", "n_chars"
    ).orderBy("qid", "rank")


SNIPPET_BEFORE = 3  # tokens of left context before the first query-term hit
SNIPPET_LEN = 8  # snippet window width in tokens


def fts_snippet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result snippets: for each BM25 top-k hit, the token window around the
    EARLIEST occurrence of any query term in the document — the
    search-result highlighting every user-facing FTS engine ships.

    Plan shape: the top-k table (80 rows) and the per-query term arrays
    (8 rows) are both broadcast; the document side is one scan and the
    first-hit position + window slice are pure JVM higher-order array
    expressions inside whole-stage codegen — no explode, no extra shuffle,
    no Python. At 100 TB the join prunes the scan to the k·|Q| hit docs
    via the broadcast hash join before any snippet work happens."""
    topk = fts_bm25_topk(spark, sf_dir).select("qid", "rank", "doc_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("toks")
    )
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qarr = queries.select(
        "qid", F.array_distinct(tokens_col("question")).alias("qterms")
    )
    j = (
        docs.join(F.broadcast(topk), "doc_id")
        .join(F.broadcast(qarr), "qid")
        .withColumn(
            "first_pos",
            F.expr(
                "array_min(filter(transform(qterms, t -> array_position(toks, t)),"
                " p -> p > 0))"
            ),
        )
    )
    snippet = F.expr(
        f"array_join(slice(toks, greatest(first_pos - {SNIPPET_BEFORE}, 1),"
        f" {SNIPPET_LEN}), ' ')"
    )
    return j.select(
        "qid",
        "rank",
        "doc_id",
        F.col("first_pos").cast("long").alias("first_pos"),
        snippet.alias("snippet"),
    ).orderBy("qid", "rank")


def fts_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (boolean-AND) retrieval ranked by BM25: only documents
    containing EVERY distinct query term qualify, then BM25 orders the
    survivors. The classical strict-semantics sibling of `fts_bm25_topk`
    (whose disjunctive scoring admits partial matches) — same one-shuffle
    plan, the conjunction is a post-aggregation filter on matched-term count
    so no extra exchange is added. A query with an out-of-vocabulary term
    (qid 6) correctly returns nothing."""
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = query_terms_df(queries)
    n_req = qt.groupBy("qid").agg(F.count("*").alias("n_req"))
    # joined rows are unique per (qid, doc_id, term) ⇒ count(*) is the number
    # of DISTINCT query terms this doc matched
    agg = (
        _contribs(posts, qt.join(tstats, "term"), n_docs, avgdl)
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("n_matched"))
        .join(F.broadcast(n_req), "qid")
        .filter(F.col("n_matched") == F.col("n_req"))
    )
    return _rank_topk(agg)


# fixed phrase set for exact-adjacency matching (tokenizer-normal word pairs)
DOC_PHRASES = [
    (0, "hash join"),
    (1, "customer order"),
    (2, "data stream"),
    (3, "zzznot here"),
]


def fts_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase (adjacent-bigram) matching: documents where the two words
    occur consecutively, with the occurrence count. Positional-index semantics
    expressed WITHOUT positions: the doc's bigram multiset is built inline
    with the same zip_with slice-chain as the dedup shingles, so the match is
    a pure JVM expression over one corpus scan — no explode, no shuffle at
    all until the final order."""
    from colbert_spark.operators.dedup import shingles_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", shingles_col(tokens_col("text"), n=2).alias("bigrams")
    )
    phrases = spark.createDataFrame(DOC_PHRASES, "phrase_id long, phrase string")
    joined = docs.crossJoin(F.broadcast(phrases))
    n_occ = F.size(F.filter("bigrams", lambda x: x == F.col("phrase")))
    return (
        joined.select("phrase_id", "doc_id", n_occ.cast("long").alias("n_occ"))
        .filter(F.col("n_occ") > 0)
        .orderBy("phrase_id", "doc_id")
    )


# positional-index dirs already built THIS process (one build serves every
# index-backed positional entry of a driver/test run over the same sf_dir)
def _corpus_key(sf_dir: str) -> str:
    """Cache key for process-shared /tmp indexes: the sf_dir PLUS the
    documents parquet's (mtime, size), so reusing a completed index across
    gate processes can never serve a stale corpus."""
    import hashlib
    import os

    p = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(p)
        tag = f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}"
    except OSError:
        tag = sf_dir
    return hashlib.md5(tag.encode()).hexdigest()[:10]


_PIDX_BUILT: set[str] = set()


def _positional_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) a positional segment index over
    the documents table, urls = zero-padded doc_ids, and return its path."""
    import hashlib
    import os
    import shutil
    import tempfile

    from colbert_spark.index.build import build_index

    idx = os.path.join(
        tempfile.gettempdir(),
        "colbert_spark_phrase_idx_" + _corpus_key(sf_dir),
    )
    if idx not in _PIDX_BUILT:
        # stats.json is the build's LAST atomic write, so its presence marks
        # a complete index — reuse it (builds are deterministic) instead of
        # rebuilding, which would race a concurrently-running gate process
        done = os.path.join(idx, "stats.json")
        ok = False
        if os.path.exists(done):
            import json

            with open(done) as f:
                s = json.load(f)
            ok = (
                bool(s.get("positions"))
                and s.get("bucket_size") == 1000
                and s.get("stored_cols") == ["n_chars", "lang", "source"]
                and bool(s.get("reverse_dict"))
            )
        if not ok:
            shutil.rmtree(idx, ignore_errors=True)
            pages = load_table(spark, sf_dir, "documents").select(
                F.format_string("%012d", F.col("doc_id")).alias("url"),
                "text",
                "n_chars",
                "lang",
                "source",
            )
            build_index(
                spark, pages, idx, bucket_size=1000, positions=True,
                stored_cols=["n_chars", "lang", "source"],
                reverse_dict=True,
            )
        _PIDX_BUILT.add(idx)
    return idx


def _index_docs_path(idx: str) -> str:
    """The index's docs sink path — a stats.json pointer after an expunging
    compaction (`docs_dir`), else the build-time `docs/`."""
    import json
    import os

    with open(os.path.join(idx, "stats.json")) as f:
        return os.path.join(idx, json.load(f).get("docs_dir", "docs"))


def _map_index_docs(
    spark: SparkSession, idx: str, hits: DataFrame, key_col: str, val_col: str
) -> DataFrame:
    """Map the index's dense url-rank doc_ids back to table doc_ids through
    the index's own docs sink (never assumed contiguous)."""
    import os

    back = spark.read.parquet(_index_docs_path(idx)).select(
        F.col("doc_id").alias("idx_doc"), F.col("url").cast("long").alias("table_doc")
    )
    val = F.col(val_col) if val_col == "score" else F.col(val_col).cast("long")
    return hits.join(back, hits.doc_id == back.idx_doc).select(
        key_col, F.col("table_doc").alias("doc_id"), val.alias(val_col)
    )


def fts_phrase_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same phrase matches as `fts_phrase_match`, but INDEX-BACKED: build
    a positional segment index over the documents table and answer the
    phrases from posting positions (`query/phrase.py`) instead of a corpus
    scan. Sharing `fts_phrase_match`'s DuckDB oracle makes the driver's
    value-hash compare a cross-engine proof that the positional index
    round-trips occurrence positions exactly."""
    from colbert_spark.query.phrase import phrase_match_segments

    idx = _positional_index_dir(spark, sf_dir)
    phrases = spark.createDataFrame(DOC_PHRASES, "phrase_id long, phrase string")
    hits = phrase_match_segments(spark, idx, phrases)
    return _map_index_docs(spark, idx, hits, "phrase_id", "n_occ").orderBy(
        "phrase_id", "doc_id"
    )


def fts_phrase_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKED phrase retrieval by corpus scan — Lucene PhraseQuery semantics
    under BM25: the phrase scores as ONE synthetic term with tf = exact
    occurrence count and idf = Σ idf(tokenᵢ), through the same saturation and
    tie-break protocol (`_rank_topk`) as every other ranked entry. Shares
    `DOC_PHRASES` with the boolean phrase-match entries. A phrase with any
    out-of-vocabulary token is dropped (it cannot match)."""
    from colbert_spark.operators.dedup import shingles_col

    docs = _docs(spark, sf_dir)
    _, tstats, n_docs, avgdl = _corpus_model(docs)
    phrases = spark.createDataFrame(DOC_PHRASES, "qid long, phrase string")
    pterms = phrases.select(
        "qid", "phrase", F.explode(F.split("phrase", " ")).alias("term")
    )
    # idf_sum only for phrases whose EVERY token is in the vocabulary; the
    # inner df join drops OOV tokens, so require the full token count back
    n_terms = pterms.groupBy("qid").agg(F.count("*").alias("n_terms"))
    pidf = (
        pterms.join(tstats, "term")
        .groupBy("qid", "phrase")
        .agg(F.sum(idf_col(n_docs)).alias("idf_sum"), F.count("*").alias("n_found"))
        .join(n_terms, "qid")
        .filter(F.col("n_found") == F.col("n_terms"))
        .select("qid", "phrase", "idf_sum")
    )
    n_occ = F.size(F.filter("bigrams", lambda x: x == F.col("phrase")))
    score = bm25_col(F.col("idf_sum"), F.col("n_occ"), K1_DEFAULT, B_DEFAULT, avgdl)
    scored = (
        docs.withColumn("bigrams", shingles_col(F.col("terms"), n=2))
        .crossJoin(F.broadcast(pidf))
        .select(
            "qid", "doc_id", "doclen", "idf_sum", n_occ.cast("long").alias("n_occ")
        )
        .filter(F.col("n_occ") > 0)
        .withColumn("score", score)
    )
    return _rank_topk(scored)


def fts_phrase_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_phrase_bm25` answered from the POSITIONAL SEGMENT INDEX
    (`query/phrase.py:PositionalSearcher.phrase_bm25`): occurrence counts
    from posting-position intersection, idf from the committed dictionary,
    doclen from the docs sink. The kernel ranks by exact float score; the
    oracle on round(score, 9) — over-fetch k+5 and re-rank the oracle's way
    so mathematically-tied neighbors at the cut agree."""
    from colbert_spark.query.phrase import phrase_bm25_segments

    idx = _positional_index_dir(spark, sf_dir)
    phrases = spark.createDataFrame(DOC_PHRASES, "phrase_id long, phrase string")
    hits = phrase_bm25_segments(spark, idx, phrases, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select(F.col("phrase_id").alias("qid"), "doc_id", "score"),
        "qid", "score",
    )
    return _rank_topk(mapped)


def fts_doclen_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_doclen` answered from the index's docs SINK (doc_id, url,
    doclen) instead of re-tokenizing the corpus — the oracle compare proves
    the build's stored document lengths equal a fresh tokenization."""
    import os

    idx = _positional_index_dir(spark, sf_dir)
    return spark.read.parquet(_index_docs_path(idx)).select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("doclen").cast("long").alias("doclen"),
    )


def fts_collection_stats_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_collection_stats` from the index's committed stats.json (exact
    aggregates persisted by the build) — N, total tokens (Σcf), avgdl."""
    import json
    import os

    idx = _positional_index_dir(spark, sf_dir)
    with open(os.path.join(idx, "stats.json")) as f:
        s = json.load(f)
    return spark.createDataFrame(
        [(int(s["N"]), int(s["total_cf"]), float(round(s["avgdl"], 6)))],
        "n_docs long, total_tokens long, avgdl_r double",
    )


def fts_term_df_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_term_df` from the index's term DICTIONARY (df/cf aggregated from
    the encode kernel's per-term partials) — the oracle compare proves the
    dictionary agrees with a full corpus recount."""
    import os

    idx = _positional_index_dir(spark, sf_dir)
    td = spark.read.parquet(os.path.join(idx, "term_dict"))
    return (
        td.select("term", F.col("df").cast("long").alias("df"),
                  F.col("cf").cast("long").alias("cf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(30)
    )


def fts_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship BM25 answered from the COMPRESSED SEGMENT INDEX — the same
    query set and the same DuckDB oracle as `fts_bm25_topk`, so the driver's
    value-hash compare proves the block-max/dense segment kernels, the varbyte
    codec, and the idf-free block format reproduce the declarative DataFrame
    scores end-to-end (pytest already proves rank-identity vs the pure-Python
    oracle; this adds the third engine). The kernel ranks by exact float
    score; the oracle ranks on round(score, 9) — re-rank a small over-fetch
    (k+5) the oracle's way so mathematically-tied neighbors at the cut agree."""
    from colbert_spark.query.wand import bm25_topk_segments

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = bm25_topk_segments(spark, idx, queries, k=TOPK + 5)
    mapped = _map_index_docs(spark, idx, hits.select("qid", "doc_id", "score"),
                             "qid", "score")
    return _rank_topk(mapped)


def fts_point_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship BM25 answered by the DRIVER-RESIDENT point path
    (`IndexSearcher.search_point` — the reference's resident point server,
    ``dense_server_client.py:21-66``) — same query set and same DuckDB
    oracle as `fts_bm25_topk`, so the value-hash compare proves the point
    path's driver-side block cache + budgeted decode kernels reproduce the
    declarative scores end-to-end with no per-query job scheduling.
    Over-fetch k+5 and re-rank the oracle's way (round-9 score), same as
    `fts_bm25_index`."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    searcher = IndexSearcher(spark, idx)
    rows = []
    for qid, q in DOC_QUERIES:
        pt = searcher.search_point(q, k=TOPK + 5)
        rows.extend(
            (int(qid), int(r.doc_id), float(r.score)) for r in pt.itertuples()
        )
    if not rows:
        hits = spark.createDataFrame([], "qid long, doc_id long, score double")
    else:
        hits = spark.createDataFrame(rows, "qid long, doc_id long, score double")
    mapped = _map_index_docs(spark, idx, hits, "qid", "score")
    return _rank_topk(mapped)


# fixed proximity set: (pair_id, t1, t2); NEAR/w with |pos(t1)−pos(t2)| ≤ w
NEAR_PAIRS = [
    (0, "hash", "join"),
    (1, "customer", "order"),
    (2, "stream", "data"),
    (3, "zzznot", "here"),
]
NEAR_WINDOW = 4


def fts_near_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity (NEAR/w) matching by corpus scan: for each pair, the docs
    where some occurrence of t1 has an occurrence of t2 within NEAR_WINDOW
    tokens (unordered), with the count of such t1 ANCHOR occurrences.
    Exact-semantics oracle for the positional-index path (`fts_near_index`);
    both sides of the position join are pre-filtered to the pairs' terms by
    broadcast before any shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("p", "term")
    )
    pairs = spark.createDataFrame(NEAR_PAIRS, "pair_id long, t1 string, t2 string")
    a = pos.join(
        F.broadcast(pairs), pos.term == pairs.t1
    ).select("pair_id", "doc_id", F.col("p").alias("pa"), "t2")
    b = pos.join(
        F.broadcast(pairs.select(F.col("t2").alias("term")).distinct()), "term"
    ).select(F.col("doc_id").alias("doc_b"), F.col("term").alias("term_b"),
             F.col("p").alias("pb"))
    anchors = (
        a.join(
            b,
            (a.doc_id == b.doc_b)
            & (a.t2 == b.term_b)
            & (F.abs(F.col("pa") - F.col("pb")) <= NEAR_WINDOW),
            "leftsemi",
        )
    )
    return (
        anchors.groupBy("pair_id", "doc_id")
        .agg(F.count("*").cast("long").alias("n_anchor"))
        .orderBy("pair_id", "doc_id")
    )


def fts_near_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_near_match` answered from the positional segment index
    (`query/phrase.py:near_match_segments`): binary-search probes over each
    pair's two posting position streams instead of a corpus scan. Shares the
    corpus-scan oracle — the value-hash compare proves the windowed-proximity
    semantics agree across engines."""
    from colbert_spark.query.phrase import near_match_segments

    idx = _positional_index_dir(spark, sf_dir)
    pairs = spark.createDataFrame(NEAR_PAIRS, "pair_id long, t1 string, t2 string")
    hits = near_match_segments(spark, idx, pairs, window=NEAR_WINDOW)
    return _map_index_docs(spark, idx, hits, "pair_id", "n_anchor").orderBy(
        "pair_id", "doc_id"
    )


def fts_phrase_point_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_phrase_match` answered by the DRIVER-RESIDENT positional point
    path (`PositionalSearcher.phrase_point` — term/block LRUs + the
    identical occurrence-intersection kernel, zero per-query jobs when
    cache-hot). Shares the corpus-scan oracle, so the value-hash compare
    proves the point path end-to-end."""
    from colbert_spark.query.phrase import PositionalSearcher

    idx = _positional_index_dir(spark, sf_dir)
    searcher = PositionalSearcher(spark, idx)
    rows = []
    for pid, phrase in DOC_PHRASES:
        pt = searcher.phrase_point(phrase)
        rows.extend(
            (int(pid), int(r.doc_id), int(r.n_occ)) for r in pt.itertuples()
        )
    hits = spark.createDataFrame(
        rows, "phrase_id long, doc_id long, n_occ long"
    ) if rows else spark.createDataFrame(
        [], "phrase_id long, doc_id long, n_occ long"
    )
    return _map_index_docs(spark, idx, hits, "phrase_id", "n_occ").orderBy(
        "phrase_id", "doc_id"
    )


def fts_near_point_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_near_match` answered by the driver-resident proximity point path
    (`PositionalSearcher.near_point`), sharing the corpus-scan oracle."""
    from colbert_spark.query.phrase import PositionalSearcher

    idx = _positional_index_dir(spark, sf_dir)
    searcher = PositionalSearcher(spark, idx)
    rows = []
    for pid, t1, t2 in NEAR_PAIRS:
        pt = searcher.near_point(t1, t2, window=NEAR_WINDOW)
        rows.extend(
            (int(pid), int(r.doc_id), int(r.n_anchor)) for r in pt.itertuples()
        )
    hits = spark.createDataFrame(
        rows, "pair_id long, doc_id long, n_anchor long"
    ) if rows else spark.createDataFrame(
        [], "pair_id long, doc_id long, n_anchor long"
    )
    return _map_index_docs(spark, idx, hits, "pair_id", "n_anchor").orderBy(
        "pair_id", "doc_id"
    )


# k-term unordered proximity (INQUERY #uwN; the k>2 generalization of
# NEAR/w): all the group's terms within WITHIN_WINDOW consecutive
# positions, reporting the minimal cover span. Group 3 carries an OOV term
# and must match nothing.
WITHIN_GROUPS = [
    (0, "hash join filter"),
    (1, "customer order data"),
    (2, "stream window"),
    (3, "hash zzznot here"),
]
WITHIN_WINDOW = 6


def fts_within_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered k-term proximity by corpus scan: for each group, the docs
    where some window of WITHIN_WINDOW consecutive token positions contains
    every group term, with the minimal such span (max−min+1 over one-
    occurrence-per-term choices). Exact-semantics oracle for the
    positional-index path (`fts_within_index`). The scan ships only the
    groups' matched positions (broadcast semi-join before the shuffle);
    the per-(group, doc) minimal-window sweep runs in an Arrow-batched
    mapInPandas kernel over position lists that are tf-sized."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("p", "term")
    )
    rows = []
    for gid, terms in WITHIN_GROUPS:
        seen: list[str] = []
        for t in terms.split():
            if t not in seen:
                seen.append(t)
        for j, t in enumerate(seen):
            rows.append((gid, t, j, len(seen)))
    gdf = spark.createDataFrame(rows, "group_id long, term string, j int, k int")
    matched = pos.join(F.broadcast(gdf), "term").select(
        "group_id", "doc_id", "p", "j", "k"
    )

    def min_cover(batches):
        for pdf in batches:
            gs, ds, ss = [], [], []
            for row in pdf.itertuples(index=False):
                ps = sorted((int(o["p"]), int(o["j"])) for o in row.occ)
                counts: dict[int, int] = {}
                missing, left = int(row.k), 0
                best = -1
                for right in range(len(ps)):
                    c = ps[right][1]
                    if not counts.get(c):
                        missing -= 1
                    counts[c] = counts.get(c, 0) + 1
                    while missing == 0:  # shrink to the minimal cover
                        span = ps[right][0] - ps[left][0] + 1
                        if best < 0 or span < best:
                            best = span
                        cl = ps[left][1]
                        counts[cl] -= 1
                        if counts[cl] == 0:
                            missing += 1
                        left += 1
                if 0 < best <= WITHIN_WINDOW:
                    gs.append(row.group_id)
                    ds.append(row.doc_id)
                    ss.append(best)
            yield pd.DataFrame(
                {"group_id": gs, "doc_id": ds, "min_span": ss}
            ).astype("int64")

    spans = (
        matched.groupBy("group_id", "doc_id")
        .agg(
            F.collect_list(F.struct("p", "j")).alias("occ"),
            F.first("k").alias("k"),
        )
        .mapInPandas(min_cover, "group_id long, doc_id long, min_span long")
    )
    return spans.orderBy("group_id", "doc_id")


def fts_within_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_within_match` answered from the positional segment index
    (`query/phrase.py:within_match_segments`): candidate docs from the
    k-way posting doc-set intersection, minimal-window sweep over merged
    posting positions — no corpus scan. Shares the corpus-scan oracle."""
    from colbert_spark.query.phrase import within_match_segments

    idx = _positional_index_dir(spark, sf_dir)
    groups = spark.createDataFrame(
        WITHIN_GROUPS, "group_id long, terms string"
    )
    hits = within_match_segments(spark, idx, groups, window=WITHIN_WINDOW)
    return _map_index_docs(spark, idx, hits, "group_id", "min_span").orderBy(
        "group_id", "doc_id"
    )


def fts_within_point_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_within_match` answered by the driver-resident proximity point
    path (`PositionalSearcher.within_point`), sharing the corpus-scan
    oracle."""
    from colbert_spark.query.phrase import PositionalSearcher

    idx = _positional_index_dir(spark, sf_dir)
    searcher = PositionalSearcher(spark, idx)
    rows = []
    for gid, terms in WITHIN_GROUPS:
        pt = searcher.within_point(terms, window=WITHIN_WINDOW)
        rows.extend(
            (int(gid), int(r.doc_id), int(r.min_span)) for r in pt.itertuples()
        )
    hits = spark.createDataFrame(
        rows, "group_id long, doc_id long, min_span long"
    ) if rows else spark.createDataFrame(
        [], "group_id long, doc_id long, min_span long"
    )
    return _map_index_docs(spark, idx, hits, "group_id", "min_span").orderBy(
        "group_id", "doc_id"
    )


def fts_snippet_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_snippet` with the highlighting positions answered from the
    POSITIONAL INDEX (`query/phrase.py:first_hit_segments`) instead of
    array-scanning each hit document's tokens: BM25 top-k from the segment
    kernel, first-hit position from posting positions for just the k·|Q|
    candidate pairs, and only the final window slice touches document text.
    Shares `fts_snippet`'s oracle — the value-hash compare proves stored
    positions reproduce the corpus-scan highlighting exactly."""
    import os

    from colbert_spark.query.phrase import first_hit_segments
    from colbert_spark.query.wand import bm25_topk_segments

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = bm25_topk_segments(spark, idx, queries, k=TOPK + 5)
    # index doc_ids are the dense rank of zero-padded table ids, so the
    # (round-9 score, doc_id) tie-break orders identically to the oracle's
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")
    )
    ranked = (
        hits.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
        .select("qid", "rank", F.col("doc_id").alias("idx_doc"))
    )
    fh = first_hit_segments(
        spark, idx, queries, ranked.select("qid", F.col("idx_doc").alias("doc_id"))
    ).select("qid", F.col("doc_id").alias("idx_doc"), "first_pos")
    back = spark.read.parquet(_index_docs_path(idx)).select(
        F.col("doc_id").alias("idx_doc"), F.col("url").cast("long").alias("table_doc")
    )
    toks = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("table_doc"), tokens_col("text").alias("toks")
    )
    j = (
        ranked.join(fh, ["qid", "idx_doc"])
        .join(back, "idx_doc")
        .join(toks, "table_doc")
        .withColumn("fp1", F.col("first_pos") + 1)  # oracle is 1-based
    )
    snippet = F.expr(
        f"array_join(slice(toks, greatest(fp1 - {SNIPPET_BEFORE}, 1),"
        f" {SNIPPET_LEN}), ' ')"
    )
    return j.select(
        "qid",
        "rank",
        F.col("table_doc").alias("doc_id"),
        F.col("fp1").cast("long").alias("first_pos"),
        snippet.alias("snippet"),
    ).orderBy("qid", "rank")


LMD_MU = 2000.0  # Dirichlet smoothing parameter for the QL entries


def fts_lmd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood (Dirichlet-smoothed) top-10 by corpus scan — the
    second scoring model over the same query set (see `query/lm.py` for the
    formula and its rank-invariant simplification). Exact-semantics oracle
    for the index path (`fts_lmd_index`)."""
    return _rank_topk(_fts_lmd_scored(spark, sf_dir))


def _fts_lmd_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, doc_id, score) under QL-Dirichlet for the fixed query set —
    the pre-cut frame shared by `fts_lmd_topk` and the RRF fusion."""
    docs = _docs(spark, sf_dir).cache()
    c_total = float(docs.agg(F.sum("doclen")).collect()[0][0])
    posts = _postings(docs)
    cfs = posts.groupBy("term").agg(F.sum("tf").alias("cf"))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    # query terms present in the collection vocab
    qv = query_terms_df(queries).join(cfs, "term")
    mu = LMD_MU
    ml = F.col("qtf") * F.log1p(
        F.col("tf") / (F.lit(mu) * F.col("cf") / F.lit(c_total))
    )
    agg = (
        posts.join(F.broadcast(qv), "term")
        .withColumn("ml", ml)
        .groupBy("qid", "doc_id")
        .agg(F.sum("ml").alias("mlsum"), F.first("doclen").alias("doclen"))
    )
    qn = qv.groupBy("qid").agg(F.sum("qtf").alias("nq"))
    return agg.join(F.broadcast(qn), "qid").withColumn(
        "score",
        F.col("mlsum")
        + F.col("nq") * F.log(F.lit(mu) / (F.col("doclen") + F.lit(mu))),
    )


def fts_lmd_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_lmd_topk` answered from the segment index (`query/lm.py`): the
    same blocks price under a different scorer at query time — tf/dl come
    from the payloads, cf from the dictionary, nothing re-encoded. Shares
    the corpus-scan oracle."""
    from colbert_spark.query.lm import lm_topk_segments

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = lm_topk_segments(spark, idx, queries, k=TOPK + 5, mu=LMD_MU)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


def fts_boolean_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_boolean_and` answered from the segment index: scored boolean-AND
    via `search(min_match=MATCH_ALL)` — the dense kernel's match counter
    with the threshold set to each query's own distinct-term count, OOV
    queries dropped at resolution. Shares the corpus-scan oracle."""
    from colbert_spark.query.wand import MATCH_ALL, IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).search(queries, k=TOPK + 5, min_match=MATCH_ALL)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped).orderBy("qid", "rank")


MIN_MATCH = 2  # minimum-should-match threshold for the msm entries


def fts_msm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-should-match by corpus scan: BM25 top-10 ranking ONLY docs
    that contain ≥ MIN_MATCH distinct terms of the query (Lucene
    minimum_should_match between pure disjunction and boolean-AND).
    Single-term queries cannot meet the threshold and return nothing.
    Exact-semantics oracle for the index path (`fts_msm_index`)."""
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = query_terms_df(queries)
    agg = (
        _contribs(posts, qt.join(tstats, "term"), n_docs, avgdl)
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            F.count("*").alias("n_matched"),  # distinct by grouping construction
        )
        .filter(F.col("n_matched") >= MIN_MATCH)
    )
    return _rank_topk(agg)


def fts_msm_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_msm_bm25` answered from the segment index: the dense kernel
    counts distinct matched terms with a second scatter-add and masks docs
    below the threshold before top-k (`wand.py:_score_batch_dense`
    min_match). Shares the corpus-scan oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).search(queries, k=TOPK + 5, min_match=MIN_MATCH)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


# filtered retrieval predicate (≈44% of docs at every sf)
FILTER_LANG = "en"


def fts_filtered_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered retrieval by corpus scan: BM25 top-10 RANKED ONLY over docs
    satisfying a metadata predicate (lang = 'en'), with corpus-wide
    collection statistics. Exact-semantics oracle for the index path
    (`fts_filtered_index`)."""
    allowed = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == FILTER_LANG
    ).select("doc_id")
    return _fts_bm25_topk(spark, sf_dir, TOPK, allowed=allowed)


def fts_filtered_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_filtered_bm25` answered from the segment index via
    `IndexSearcher.search_filtered`: the predicate's doc set is cogrouped
    with the pruned segment scan on the index's own bucket key (never
    broadcast/collected) and masked into the dense kernel before top-k.
    Shares the corpus-scan oracle."""
    import os

    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    allowed_tbl = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == FILTER_LANG
    ).select(F.col("doc_id").alias("table_doc"))
    back = spark.read.parquet(_index_docs_path(idx)).select(
        "doc_id", F.col("url").cast("long").alias("table_doc")
    )
    allowed_idx = back.join(allowed_tbl, "table_doc").select("doc_id")
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).search_filtered(
        queries, allowed_idx, k=TOPK + 5
    )
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


_DEL_IDX_BUILT: set = set()


def _deleted_index_dir(spark: SparkSession, sf_dir: str, expunged: bool) -> str:
    """Build (once per process per sf_dir) a segment index over documents
    with every lang != FILTER_LANG doc TOMBSTONED — and, for
    `expunged=True`, a second copy where the tombstones were physically
    expunged by `compact_index(expunge_deletes=True)` (the two entries
    must not share state: contract entries can run in any order)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from colbert_spark.index.build import build_index
    from colbert_spark.index.compact import compact_index
    from colbert_spark.index.delete import delete_docs

    import json

    key = _corpus_key(sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"colbert_spark_del_idx_{key}")
    exp = os.path.join(tempfile.gettempdir(), f"colbert_spark_exp_idx_{key}")

    def _done(d, want_key):  # deterministic artifacts: reuse completed ones
        p = os.path.join(d, "stats.json")
        if not os.path.exists(p):
            return False
        with open(p) as f:
            return want_key in json.load(f)

    if base not in _DEL_IDX_BUILT:
        if _done(base, "tomb_dir") and _done(exp, "expunges"):
            _DEL_IDX_BUILT.add(base)
            return exp if expunged else base
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(exp, ignore_errors=True)
        pages = load_table(spark, sf_dir, "documents").select(
            F.format_string("%012d", F.col("doc_id")).alias("url"), "text"
        )
        build_index(spark, pages, base, bucket_size=1000)
        back = spark.read.parquet(_index_docs_path(base)).select(
            "doc_id", F.col("url").cast("long").alias("table_doc")
        )
        dead = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("lang") != FILTER_LANG)
            .select(F.col("doc_id").alias("table_doc"))
            .join(back, "table_doc")
            .select("doc_id")
        )
        delete_docs(spark, base, dead)
        shutil.copytree(base, exp)
        compact_index(spark, exp, expunge_deletes=True)
        _DEL_IDX_BUILT.add(base)
    return exp if expunged else base


def fts_delete_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over an index whose lang != FILTER_LANG docs were TOMBSTONED
    (`index/delete.py`): deletes mask results while collection statistics
    stay encode-time (the Lucene pre-merge contract) — which makes a
    deleted-index search semantically a filtered search over the
    complement, so this entry SHARES `fts_filtered_bm25`'s oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _deleted_index_dir(spark, sf_dir, expunged=False)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).search(queries, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


def fts_expunge_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the EXPUNGED copy of the deleted index
    (`compact_index(expunge_deletes=True)`): postings physically dropped,
    statistics recomputed — so results must equal a corpus scan over ONLY
    the surviving (lang = FILTER_LANG) docs, stats and all. The oracle
    restricts the corpus in the CTEs, proving the merge rewrote df / cf /
    avgdl / live_docs to fresh-build values."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _deleted_index_dir(spark, sf_dir, expunged=True)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).search(queries, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


# prefix/wildcard query set: a trailing '*' expands against the vocabulary
PREFIX_QUERIES = [
    (0, "dat* stream"),
    (1, "cust* or*"),
    (2, "qu* qu* table"),  # repeated pattern ⇒ qtf 2 on every expansion
    (3, "zzzz*"),  # expands to nothing ⇒ no rows
]


def _parse_prefix_queries():
    """(qid, pattern) → rows (qid, pat, is_prefix, qtf): trailing '*' marks a
    prefix pattern; the base is normalized by the token grammar. Parsed once
    in Python (shared verbatim by the Spark plan and the SQL oracle) because
    the tokenizer itself strips '*'."""
    from collections import Counter

    from colbert_spark.functions.tokenizer import py_tokenize

    rows = []
    for qid, q in PREFIX_QUERIES:
        c: Counter = Counter()
        for raw in q.split():
            is_pre = raw.endswith("*")
            toks = py_tokenize(raw.rstrip("*"))
            if toks:
                c[(toks[0], is_pre)] += 1
        rows += [(qid, pat, pre, n) for (pat, pre), n in sorted(c.items())]
    return rows


PREFIX_PARSED = _parse_prefix_queries()


def _expanded_bm25_scan(spark, sf_dir, patterns, cond_fn) -> DataFrame:
    """Shared corpus-scan skeleton for DICTIONARY-EXPANDED retrieval (prefix
    / fuzzy / any pattern class): `cond_fn(tstats, qp)` returns the
    pattern-vs-vocabulary join condition; each expanded term scores with its
    own df/idf and the summed qtfs of the patterns that produced it. The
    expansion is a broadcast theta-join of the tiny pattern table against
    per-term stats — the big postings table still joins on plain `term`
    equality."""
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    expanded = (
        tstats.join(F.broadcast(patterns), cond_fn(tstats, patterns))
        .groupBy("qid", "term")
        .agg(F.sum("qtf").alias("qtf"), F.first("df").alias("df"))
    )
    return _rank_topk(_bm25_scores(_contribs(posts, expanded, n_docs, avgdl)))


def _expanded_bm25_index(spark, sf_dir, patterns, cond_fn) -> DataFrame:
    """Index-path sibling of `_expanded_bm25_scan`: expand against the
    index's term DICTIONARY (broadcast theta-join, never collected
    wholesale), rewrite to a plain disjunctive question string (summed qtf ⇒
    the term repeated), and score with the standard batch kernel."""
    import os

    from colbert_spark.query.wand import bm25_topk_segments

    idx = _positional_index_dir(spark, sf_dir)
    td = spark.read.parquet(os.path.join(idx, "term_dict"))
    expanded = (
        td.join(F.broadcast(patterns), cond_fn(td, patterns))
        .groupBy("qid", "term")
        .agg(F.sum("qtf").alias("qtf"))
        .collect()
    )
    by_qid: dict[int, list[str]] = {}
    for r in expanded:
        by_qid.setdefault(r["qid"], []).extend([r["term"]] * int(r["qtf"]))
    if not by_qid:
        return spark.createDataFrame(
            [], "qid long, rank long, doc_id long, score_r double"
        )
    queries = spark.createDataFrame(
        [(qid, " ".join(ts)) for qid, ts in sorted(by_qid.items())],
        "qid long, question string",
    )
    hits = bm25_topk_segments(spark, idx, queries, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


def _prefix_cond(ts, qp):
    return (qp.is_prefix & ts.term.startswith(qp.pat)) | (
        ~qp.is_prefix & (ts.term == qp.pat)
    )


def fts_prefix_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for prefix/wildcard queries by corpus scan: each trailing-
    '*' pattern expands to every vocabulary term it prefixes (Lucene
    PrefixQuery semantics, scored). See `_expanded_bm25_scan`."""
    qp = spark.createDataFrame(
        PREFIX_PARSED, "qid long, pat string, is_prefix boolean, qtf long"
    )
    return _expanded_bm25_scan(spark, sf_dir, qp, _prefix_cond)


def fts_prefix_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_prefix_bm25` answered from the segment index (see
    `_expanded_bm25_index`). Shares `fts_prefix_bm25`'s oracle."""
    qp = spark.createDataFrame(
        PREFIX_PARSED, "qid long, pat string, is_prefix boolean, qtf long"
    )
    return _expanded_bm25_index(spark, sf_dir, qp, _prefix_cond)


# fuzzy query set: each token expands to every vocabulary term within
# Levenshtein distance 1 (Lucene FuzzyQuery semantics, scored)
FUZZY_QUERIES = [
    (0, "hsh joim"),  # hash / join misspelled
    (1, "custoner ordr"),
    (2, "strean"),
    (3, "zzzzqqqq"),  # nothing within distance 1 ⇒ no rows
]
FUZZY_MAX_EDITS = 1


def _fuzzy_parsed():
    from collections import Counter

    from colbert_spark.functions.tokenizer import py_tokenize

    rows = []
    for qid, q in FUZZY_QUERIES:
        c = Counter(t for t in py_tokenize(q))
        rows += [(qid, pat, n) for pat, n in sorted(c.items())]
    return rows


FUZZY_PARSED = _fuzzy_parsed()


def _fuzzy_cond(ts, qf):
    return F.levenshtein(ts.term, qf.pat) <= FUZZY_MAX_EDITS


def fts_fuzzy_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for FUZZY queries by corpus scan: each token expands to
    every vocabulary term within edit distance FUZZY_MAX_EDITS (JVM
    `levenshtein` in the broadcast theta-join — Lucene FuzzyQuery, scored;
    exact matches are included at distance 0). Exact-semantics oracle for
    `fts_fuzzy_index` via DuckDB's levenshtein."""
    qf = spark.createDataFrame(FUZZY_PARSED, "qid long, pat string, qtf long")
    return _expanded_bm25_scan(spark, sf_dir, qf, _fuzzy_cond)


def fts_fuzzy_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_fuzzy_bm25` answered from the segment index: the edit-distance
    expansion runs against the term dictionary, then the standard batch
    kernel scores the rewritten disjunction. Shares the corpus-scan
    oracle."""
    qf = spark.createDataFrame(FUZZY_PARSED, "qid long, pat string, qtf long")
    return _expanded_bm25_index(spark, sf_dir, qf, _fuzzy_cond)


# boolean must_not set: (qid, positive question, excluded terms) — any doc
# containing ANY excluded term is removed from that query's ranking
NOT_QUERIES = [
    (0, "hash join table", "slow"),
    (1, "customer order line", "window batch"),
    (2, "window", "zzznotfound"),  # OOV negation excludes nothing
    (3, "scan filter", "scan"),  # negating one of the positives
    (4, "data value", "part"),
]


def fts_not_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean must_not by corpus scan (Lucene `-term`): BM25 top-10 over
    the positive terms, minus every doc containing ANY of the query's
    excluded terms. The per-qid exclusion set is a tiny broadcast join of
    the negated-term table against postings, anti-joined after
    aggregation. Exact-semantics oracle for `fts_not_index`."""
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    queries = spark.createDataFrame(
        NOT_QUERIES, "qid long, question string, exclude string"
    )
    qt = query_terms_df(queries)
    nt = queries.select(
        "qid", F.explode(tokens_col("exclude")).alias("term")
    ).distinct()
    excl = (
        posts.select("term", "doc_id")
        .join(F.broadcast(nt), "term")
        .select("qid", "doc_id")
        .distinct()
    )
    scores = _bm25_scores(_contribs(posts, qt.join(tstats, "term"), n_docs, avgdl))
    return _rank_topk(scores.join(excl, ["qid", "doc_id"], "left_anti"))


def fts_not_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_not_bm25` answered from the segment index: the `exclude` column
    resolves through the same dictionary join, the negated terms' blocks
    ride the same pruned scan and bucket exchange (a doc's postings all
    live in one bucket), and the dense kernel zeroes excluded docs after
    accumulation (`wand.py:_score_batch_dense` neg_map). Shares the
    corpus-scan oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(
        NOT_QUERIES, "qid long, question string, exclude string"
    )
    hits = IndexSearcher(spark, idx).search(queries, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


FACET_FIELDS = ("lang", "source")  # metadata dimensions faceted per query


def fts_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search by corpus scan (the Lucene/Elasticsearch terms-
    aggregation analog): for each query, count the docs of its FULL boolean-
    OR match set (≥1 query term) per metadata value, for each facet field.
    Output (qid, facet, value, n_docs). Exact-semantics oracle for
    `fts_facets_index`."""
    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = queries.select(
        "qid", F.explode(tokens_col("question")).alias("term")
    ).distinct()
    matched = (
        docs.select("doc_id", F.explode("terms").alias("term"))
        .join(F.broadcast(qt), "term")
        .select("qid", "doc_id")
        .distinct()
    )
    meta = load_table(spark, sf_dir, "documents").select("doc_id", *FACET_FIELDS)
    joined = matched.join(meta, "doc_id")
    per_field = [
        joined.groupBy("qid", F.col(f).alias("value"))
        .agg(F.count("*").alias("n_docs"))
        .select("qid", F.lit(f).alias("facet"), "value", "n_docs")
        for f in FACET_FIELDS
    ]
    out = per_field[0]
    for df in per_field[1:]:
        out = out.unionByName(df)
    return out.orderBy("qid", "facet", "value")


def fts_facets_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_facets` answered WHOLLY from the segment index: the match set
    from `IndexSearcher.matching_docs` (per-bucket union of each query
    term's decoded postings — no scoring, no top-k cut), facet values from
    the docs sink's STORED FIELDS — zero source-table touches at query time.
    Shares the corpus-scan oracle, proving both the exact boolean match set
    and the stored-field round-trip."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).matching_docs(queries)
    sink = spark.read.parquet(_index_docs_path(idx)).select(
        F.col("doc_id").alias("idx_doc"),
        F.col("url").cast("long").alias("doc_id"),
        *FACET_FIELDS,
    )
    joined = hits.withColumnRenamed("doc_id", "idx_doc").join(sink, "idx_doc")
    per_field = [
        joined.groupBy("qid", F.col(f).alias("value"))
        .agg(F.count("*").alias("n_docs"))
        .select("qid", F.lit(f).alias("facet"), "value", "n_docs")
        for f in FACET_FIELDS
    ]
    out = per_field[0]
    for df in per_field[1:]:
        out = out.unionByName(df)
    return out.orderBy("qid", "facet", "value")


MLT_SEEDS = (0, 7, 23)  # seed doc_ids for more-like-this
MLT_TERMS = 5  # representative terms per seed (top tf·idf)


def _mlt_seed_terms(spark: SparkSession, sf_dir: str):
    """(qid=seed doc_id, term) — each seed's top-MLT_TERMS terms by tf·idf
    (rank on round(w, 9) DESC, term ASC, the engine tie-break contract).
    Term selection reads only the seed docs' term vectors plus the global
    df table — the Lucene MoreLikeThis interesting-terms stage."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    posts = _postings(docs)
    tstats = posts.groupBy("term").agg(F.count("*").alias("df"))
    seed_posts = posts.filter(F.col("doc_id").isin(list(MLT_SEEDS))).join(
        tstats, "term"
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round(F.col("tf") * idf_col(n_docs), 9)), F.asc("term")
    )
    return (
        seed_posts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MLT_TERMS)
        .select(F.col("doc_id").alias("qid"), "term")
    )


def fts_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this by corpus scan (Lucene MoreLikeThisQuery): each seed
    doc's top tf·idf terms form a disjunctive query (qtf 1 each); BM25
    top-10 over the rest of the corpus, the seed itself excluded. qid = the
    seed doc_id. Exact-semantics oracle for `fts_mlt_index`."""
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    qt = _mlt_seed_terms(spark, sf_dir).withColumn("qtf", F.lit(1).cast("long"))
    contribs = _contribs(posts, qt.join(tstats, "term"), n_docs, avgdl)
    return _rank_topk(_bm25_scores(contribs.filter(F.col("doc_id") != F.col("qid"))))


def fts_mlt_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_mlt` answered from the segment index: term selection touches
    only the seed docs (the term-vector stage); the rewritten disjunctions
    then score through the standard batch kernel, and the seed doc is
    dropped after the doc-id mapping (over-fetched to keep the cut exact).
    Shares the corpus-scan oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    seed_terms = _mlt_seed_terms(spark, sf_dir).collect()
    by_qid: dict[int, list[str]] = {}
    for r in seed_terms:
        by_qid.setdefault(r["qid"], []).append(r["term"])
    queries = spark.createDataFrame(
        [(qid, " ".join(sorted(ts))) for qid, ts in sorted(by_qid.items())],
        "qid long, question string",
    )
    hits = IndexSearcher(spark, idx).search(queries, k=TOPK + 6)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    ).filter(F.col("doc_id") != F.col("qid"))
    return _rank_topk(mapped)


# query-time synonym expansion (Lucene SynonymGraphFilter semantics): each
# query token matches itself OR any mapped variant, the variant scoring with
# its OWN df/idf; out-of-vocabulary variants simply never match
SYNONYMS = {
    "sort": ("order",),
    "order": ("sort",),
    "row": ("line",),
    "speedy": ("fast",),  # OOV source token rescued by its synonym
    "big": ("large",),  # OOV variant ⇒ behaves like the plain query
}
SYN_QUERIES = [
    (0, "sort merge"),
    (1, "row filter"),
    (2, "speedy scan"),
    (3, "big data"),
    (4, "sort order"),  # mutually-synonymous pair: both expand to both
]


def _syn_parsed():
    from collections import Counter

    from colbert_spark.functions.tokenizer import py_tokenize

    rows = []
    for qid, q in SYN_QUERIES:
        expanded: Counter = Counter()
        for tok, n in Counter(py_tokenize(q)).items():
            for v in (tok, *SYNONYMS.get(tok, ())):
                expanded[v] += n
        rows += [(qid, pat, n) for pat, n in sorted(expanded.items())]
    return rows


SYN_PARSED = _syn_parsed()


def _syn_cond(ts, qp):
    return ts.term == qp.pat


def fts_synonym_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for synonym-expanded queries by corpus scan: the
    SYNONYMS map closes each query token over its variants before the
    vocabulary join (see `_expanded_bm25_scan`). Exact-semantics oracle for
    `fts_synonym_index`."""
    qp = spark.createDataFrame(SYN_PARSED, "qid long, pat string, qtf long")
    return _expanded_bm25_scan(spark, sf_dir, qp, _syn_cond)


def fts_synonym_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_synonym_bm25` answered from the segment index: the expansion
    resolves against the term dictionary (OOV variants drop), then the
    standard batch kernel scores the rewritten disjunction. Shares the
    corpus-scan oracle."""
    qp = spark.createDataFrame(SYN_PARSED, "qid long, pat string, qtf long")
    return _expanded_bm25_index(spark, sf_dir, qp, _syn_cond)


PAGE_OFFSET = 10  # deep paging: the second result page (ranks 11..20)


def fts_page_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep paging by corpus scan: the SECOND page of the flagship BM25
    ranking (global ranks 11..20, renumbered 1..10 — Lucene searchAfter
    semantics). Exact-semantics oracle for `fts_page_index`."""
    return _fts_bm25_topk(spark, sf_dir, TOPK, page_offset=PAGE_OFFSET)


def fts_page_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_page_bm25` answered from the segment index:
    `IndexSearcher.search(offset=...)` keeps offset+k per bucket so the
    page is a strict slice of the full ranking (over-fetched here and
    re-cut by the shared tie-break so rounded-score ties at the page
    boundary agree with the oracle). Shares the corpus-scan oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).search(queries, k=PAGE_OFFSET + TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped, TOPK, offset=PAGE_OFFSET)


GROUP_K = 3  # field-collapse: best docs kept per (query, group value)


def _rank_topk_grouped(scored, group_col: str, k: int = GROUP_K):
    """Per-(qid, group) variant of the `_rank_topk` tie-break contract."""
    w = Window.partitionBy("qid", group_col).orderBy(
        F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "qid", group_col, "rank", "doc_id",
            F.round("score", 4).alias("score_r"),
        )
        .orderBy("qid", group_col, "rank")
    )


def fts_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapse / grouped top-k by corpus scan (the Lucene grouping
    analog): the best GROUP_K BM25 docs per (query, lang). Exact-semantics
    oracle for `fts_collapse_index`."""
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = query_terms_df(queries)
    scores = _bm25_scores(_contribs(posts, qt.join(tstats, "term"), n_docs, avgdl))
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return _rank_topk_grouped(scores.join(lang, "doc_id"), "lang")


def fts_collapse_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_collapse` answered from the segment index in ONE pass:
    `IndexSearcher.score_matches` emits the full scored match set (the cut
    is per (query, lang), which the kernel cannot see), the metadata join
    attaches the group key, and one window takes the per-group top-k.
    Shares the corpus-scan oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).score_matches(queries)
    mapped = _map_index_docs(spark, idx, hits, "qid", "score")
    joined = mapped.join(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )
    return _rank_topk_grouped(joined, "lang")


FB_DOCS = 3  # pseudo-relevance feedback depth
FB_TERMS = 3  # expansion terms per query


def _rm3_expansion(spark: SparkSession, sf_dir: str, fb: DataFrame) -> DataFrame:
    """(qid, term) — the top-FB_TERMS expansion terms per query from the
    feedback docs `fb` (qid, doc_id): weight = (Σ_fb-docs tf)·idf, original
    query terms excluded, rank on (round(w, 9) DESC, term ASC). This is the
    RM3 term-selection stage computed from the feedback docs' term vectors
    plus the global df table."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    posts = _postings(docs)
    tstats = posts.groupBy("term").agg(F.count("*").alias("df"))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = queries.select(
        "qid", F.explode(tokens_col("question")).alias("term")
    ).distinct()
    exp = (
        posts.join(fb.select("qid", "doc_id"), "doc_id")
        .groupBy("qid", "term")
        .agg(F.sum("tf").alias("stf"))
        .join(tstats, "term")
        .withColumn("w", F.col("stf").cast("double") * idf_col(n_docs))
        .join(qt, ["qid", "term"], "left_anti")
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round(F.col("w"), 9)), F.asc("term")
    )
    return (
        exp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= FB_TERMS)
        .select("qid", "term")
    )


def fts_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3-style pseudo-relevance feedback by corpus scan: BM25 retrieves
    FB_DOCS feedback docs per query, their top (Σtf)·idf terms (original
    terms excluded) join the query at weight 1, and the expanded weighted
    disjunction is rescored for the final top-10. Deterministic
    integer-weight variant of RM3 so the cross-engine hash is exact.
    Exact-semantics oracle for `fts_rm3_index`."""
    fb = fts_bm25_topk(spark, sf_dir).filter(F.col("rank") <= FB_DOCS)
    exp = _rm3_expansion(spark, sf_dir, fb).withColumn(
        "qtf", F.lit(1).cast("long")
    )
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = query_terms_df(queries).unionByName(exp)
    return _rank_topk(
        _bm25_scores(_contribs(posts, qt.join(tstats, "term"), n_docs, avgdl))
    )


def fts_rm3_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_rm3` answered from the segment index: the feedback docs come
    from the standard kernel search, the expansion terms append once each
    to the question string (weight 1 ⇒ one extra token), and the rewritten
    batch rescored through the unmodified kernel. Shares the corpus-scan
    oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    searcher = IndexSearcher(spark, idx)
    hits = searcher.search(queries, k=FB_DOCS + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    fb = _rank_topk(mapped, FB_DOCS)
    exp_rows = _rm3_expansion(spark, sf_dir, fb).collect()
    by_qid: dict[int, list[str]] = {}
    for r in exp_rows:
        by_qid.setdefault(r["qid"], []).append(r["term"])
    expanded = spark.createDataFrame(
        [
            (qid, q + "".join(f" {t}" for t in sorted(by_qid.get(qid, []))))
            for qid, q in DOC_QUERIES
        ],
        "qid long, question string",
    )
    final = searcher.search(expanded, k=TOPK + 5)
    out = _map_index_docs(
        spark, idx, final.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(out)


EXPLAIN_K = 3  # docs per query whose scores get a per-term breakdown


def fts_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score explain by corpus scan (the Lucene Explanation analog): for
    each query's top-EXPLAIN_K docs, one row per matching query term with
    the raw statistics (tf, doclen) and that term's BM25 contribution —
    Σ contrib per doc = the doc's search score. Exact-semantics oracle for
    `fts_explain_index`."""
    posts, tstats, n_docs, avgdl = _corpus_model(_docs(spark, sf_dir))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = query_terms_df(queries)
    detailed = _contribs(posts, qt.join(tstats, "term"), n_docs, avgdl)
    top = _rank_topk(_bm25_scores(detailed), EXPLAIN_K).select("qid", "doc_id")
    return (
        detailed.join(top, ["qid", "doc_id"], "leftsemi")
        .select(
            "qid",
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("doclen").cast("long").alias("doclen"),
            F.round("contrib", 4).alias("contrib_r"),
        )
        .orderBy("qid", "doc_id", "term")
    )


def fts_explain_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_explain` answered from the segment index: the top-EXPLAIN_K cut
    comes from the standard search, then `IndexSearcher.explain` decodes the
    query terms' blocks once per bucket and emits per-(doc, term) tf /
    doclen / contribution for the candidate set. Sharing the corpus-scan
    oracle proves the index's STORED statistics (tf and dl streams) equal a
    fresh corpus recount, per posting."""
    import os

    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    searcher = IndexSearcher(spark, idx)
    hits = searcher.search(queries, k=EXPLAIN_K + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    top = _rank_topk(mapped, EXPLAIN_K).select("qid", "doc_id")
    back = spark.read.parquet(_index_docs_path(idx)).select(
        F.col("doc_id").alias("idx_doc"), F.col("url").cast("long").alias("doc_id")
    )
    cand_idx = top.join(back, "doc_id").select("qid", F.col("idx_doc").alias("doc_id"))
    rows = searcher.explain(queries, cand_idx)
    td = spark.read.parquet(os.path.join(idx, "term_dict")).select("term_id", "term")
    return (
        rows.join(back, rows.doc_id == back.idx_doc)
        .join(td, "term_id")
        .select(
            "qid",
            back.doc_id.alias("doc_id"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("doclen").cast("long").alias("doclen"),
            F.round("contrib", 4).alias("contrib_r"),
        )
        .orderBy("qid", "doc_id", "term")
    )


SUGGEST_K = 3  # suggestions per misspelled token


def fts_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling suggestion ("did you mean") by corpus scan: for each fuzzy
    query token, the top-SUGGEST_K vocabulary terms within edit distance
    FUZZY_MAX_EDITS, ranked by (df DESC, term ASC) — the Lucene
    DirectSpellChecker policy (more-frequent terms are better
    corrections). Exact-match tokens still suggest themselves first (df
    order); OOV-beyond-distance tokens yield no rows. Exact-semantics
    oracle for `fts_suggest_index`."""
    posts = _postings(_docs(spark, sf_dir))
    tstats = posts.groupBy("term").agg(F.count("*").alias("df"))
    qf = spark.createDataFrame(FUZZY_PARSED, "qid long, pat string, qtf long")
    cand = tstats.join(
        F.broadcast(qf.select("qid", "pat").distinct()),
        F.levenshtein(tstats.term, qf.pat) <= FUZZY_MAX_EDITS,
    )
    w = Window.partitionBy("qid", "pat").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SUGGEST_K)
        .select("qid", "pat", "rank", "term", F.col("df").cast("long").alias("df"))
        .orderBy("qid", "pat", "rank")
    )


def fts_suggest_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_suggest` answered from the index's term DICTIONARY (term + df
    live there — no corpus scan, no postings decode: suggestion is a
    dictionary-only operation). Shares the corpus-scan oracle, proving the
    dictionary's df supports the spell-checker exactly."""
    import os

    idx = _positional_index_dir(spark, sf_dir)
    td = spark.read.parquet(os.path.join(idx, "term_dict"))
    qf = spark.createDataFrame(FUZZY_PARSED, "qid long, pat string, qtf long")
    cand = td.join(
        F.broadcast(qf.select("qid", "pat").distinct()),
        F.levenshtein(td.term, qf.pat) <= FUZZY_MAX_EDITS,
    )
    w = Window.partitionBy("qid", "pat").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SUGGEST_K)
        .select("qid", "pat", "rank", "term", F.col("df").cast("long").alias("df"))
        .orderBy("qid", "pat", "rank")
    )


EVAL_DEPTH = 100  # retrieval depth for the metric protocol
RECALL_CUTS = (10, 50, 100)  # reference: MRR@10 + recall@{50,100}
# (``proj_utils/dureader_utils.py:51-73``: eval_dureader(topk=10,
# recall_topk=[50, 100])); recall@10 kept as the shallow diagnostic


def fts_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality evaluation at the reference's full metric protocol
    (reference A8, ``dureader_utils.py:51-73``): MRR@10 plus recall at each
    depth in RECALL_CUTS over the BM25 top-EVAL_DEPTH. Golden set per query =
    docs containing ALL query terms (boolean-AND semantics)."""
    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qterms = queries.select(
        "qid", F.explode(F.array_distinct(tokens_col("question"))).alias("term")
    )
    nq = qterms.groupBy("qid").agg(F.count("*").alias("n_terms"))
    posts = docs.select("doc_id", F.explode("terms").alias("term")).distinct()
    golden = (
        posts.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("n_hit"))
        .join(F.broadcast(nq), "qid")
        .filter(F.col("n_hit") == F.col("n_terms"))
        .select("qid", "doc_id")
    )
    g_sizes = golden.groupBy("qid").agg(F.count("*").alias("n_golden"))
    topk = _fts_bm25_topk(spark, sf_dir, EVAL_DEPTH)
    hits = topk.join(golden, ["qid", "doc_id"]).select("qid", "rank")
    agg = hits.groupBy("qid").agg(
        *[
            F.count(F.when(F.col("rank") <= c, 1)).alias(f"hits_at_{c}")
            for c in RECALL_CUTS
        ],
        F.round(
            1.0 / F.min(F.when(F.col("rank") <= 10, F.col("rank"))), 6
        ).alias("mrr_at_10_r"),
    )
    recall_cols = []
    for c in RECALL_CUTS:
        recall_cols.append(
            F.coalesce(f"hits_at_{c}", F.lit(0)).cast("long").alias(f"hits_at_{c}")
        )
        recall_cols.append(
            F.round(
                F.coalesce(f"hits_at_{c}", F.lit(0)) / F.col("n_golden"), 6
            ).alias(f"recall_at_{c}_r")
        )
    return (
        g_sizes.join(agg, "qid", "left")
        .select(
            "qid",
            "n_golden",
            *recall_cols,
            F.coalesce("mrr_at_10_r", F.lit(0.0)).alias("mrr_at_10_r"),
        )
        .orderBy("qid")
    )


NDCG_CUT = 10  # nDCG depth (completes the metric protocol: MRR + recall + nDCG)


def fts_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded rank-quality evaluation: nDCG@10 over the BM25 top-10.

    Relevance grade rel(q, d) = number of DISTINCT query terms present in d
    (graded golden — the boolean-AND golden of `fts_eval_recall` is its
    top grade). DCG = Σ (2^rel − 1)/log2(rank+1); IDCG from the grade-sorted
    ideal ranking; a query with no graded docs scores 0. Same single-scan
    shape as the recall eval: one posting build, broadcast query side."""
    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qterms = queries.select(
        "qid", F.explode(F.array_distinct(tokens_col("question"))).alias("term")
    )
    posts = docs.select("doc_id", F.explode("terms").alias("term")).distinct()
    grades = (
        posts.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count("*").alias("rel"))
    )

    def gain(rel, pos):
        return (F.pow(F.lit(2.0), rel) - 1.0) / F.log2(pos + F.lit(1.0))

    topk = _fts_bm25_topk(spark, sf_dir, NDCG_CUT)
    dcg = (
        topk.join(grades, ["qid", "doc_id"], "left")
        .withColumn("rel", F.coalesce("rel", F.lit(0)))
        .groupBy("qid")
        .agg(F.sum(gain(F.col("rel"), F.col("rank"))).alias("dcg"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("doc_id"))
    ideal = (
        grades.withColumn("irank", F.row_number().over(w))
        .filter(F.col("irank") <= NDCG_CUT)
        .groupBy("qid")
        .agg(F.sum(gain(F.col("rel"), F.col("irank"))).alias("idcg"))
    )
    return (
        queries.select("qid")
        .join(dcg, "qid", "left")
        .join(ideal, "qid", "left")
        .select(
            "qid",
            F.round(F.coalesce("dcg", F.lit(0.0)), 6).alias("dcg_r"),
            F.round(F.coalesce("idcg", F.lit(0.0)), 6).alias("idcg_r"),
            F.round(
                F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")).otherwise(0.0),
                6,
            ).alias("ndcg_r"),
        )
        .orderBy("qid")
    )


def fts_doclen_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact doclen percentile buckets (reference A4,
    ``colbert_ranker.py:36-41`` stride bucketing): 25/50/75th percentiles as
    skew diagnostics for partition sizing."""
    docs = _docs(spark, sf_dir)
    return docs.agg(
        F.round(F.percentile("doclen", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("doclen", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("doclen", F.lit(0.75)), 6).alias("p75"),
        F.max("doclen").cast("long").alias("max_dl"),
    )


def _values_clause() -> str:
    return ", ".join(f"({qid}, '{q}')" for qid, q in DOC_QUERIES)


_TOK = duckdb_tokens_sql("text")
_QTOK = duckdb_tokens_sql("question")


def _bm25_ctes() -> str:
    """Shared DuckDB CTE chain ending in `ranked(qid, doc_id, score, rank)`."""
    return f"""
        WITH q(qid, question) AS (VALUES {_values_clause()}),
        tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
        stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
        qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
        scored AS (
          SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
                 sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * ({K1_DEFAULT} + 1.0)
                     / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
                 ) AS score
          FROM qtf
          JOIN df USING (term)
          JOIN tf USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY qtf.qid, tf.doc_id),
        ranked AS (
          SELECT qid, doc_id, score,
                 row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
          FROM scored)
    """


ORACLES = {
    "fts_doclen": f"""
        SELECT doc_id, len({_TOK})::BIGINT AS doclen FROM documents
    """,
    "fts_collection_stats": f"""
        WITH dl AS (SELECT doc_id, len({_TOK}) AS doclen FROM documents)
        SELECT count(*)::BIGINT AS n_docs, sum(doclen)::BIGINT AS total_tokens,
               round(avg(doclen), 6) AS avgdl_r
        FROM dl
    """,
    "fts_term_df": f"""
        WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id)
        SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
        FROM tf GROUP BY term ORDER BY df DESC, term ASC LIMIT 30
    """,
    "fts_bm25_topk": f"""
        WITH q(qid, question) AS (VALUES {_values_clause()}),
        tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
        dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
        stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
        qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
        scored AS (
          SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
                 sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * ({K1_DEFAULT} + 1.0)
                     / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
                 ) AS score
          FROM qtf
          JOIN df USING (term)
          JOIN tf USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY qtf.qid, tf.doc_id),
        ranked AS (
          SELECT qid, doc_id, score,
                 row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
          FROM scored)
        SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
        FROM ranked WHERE rank <= {TOPK}
    """,
}

ORACLES["fts_topk_docs"] = f"""
    {_bm25_ctes()}
    SELECT r.qid, r.rank::BIGINT AS rank, r.doc_id, d.lang, d.source, d.n_chars
    FROM ranked r JOIN documents d USING (doc_id)
    WHERE r.rank <= {TOPK}
    ORDER BY r.qid, r.rank
"""

ORACLES["fts_snippet"] = f"""
    {_bm25_ctes()},
    topd AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {TOPK}),
    qa AS (SELECT qid, list_distinct({_QTOK}) AS qterms FROM q),
    dt AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    hit AS (
      SELECT t.qid::BIGINT AS qid, t.rank::BIGINT AS rank, t.doc_id, dt.toks,
             list_min(list_filter(
               list_transform(qa.qterms, x -> list_position(dt.toks, x)),
               p -> p IS NOT NULL AND p > 0)) AS first_pos
      FROM topd t JOIN qa USING (qid) JOIN dt USING (doc_id))
    SELECT qid, rank, doc_id, first_pos::BIGINT AS first_pos,
           array_to_string(
             toks[greatest(first_pos - {SNIPPET_BEFORE}, 1)
                  : greatest(first_pos - {SNIPPET_BEFORE}, 1) + {SNIPPET_LEN - 1}],
             ' ') AS snippet
    FROM hit ORDER BY qid, rank
"""

_RECALL_AGG = ", ".join(
    f"count(*) FILTER (t.rank <= {c}) AS hits_at_{c}" for c in RECALL_CUTS
)
_RECALL_OUT = ", ".join(
    f"coalesce(h.hits_at_{c}, 0)::BIGINT AS hits_at_{c}, "
    f"round(coalesce(h.hits_at_{c}, 0) / g.n_golden::DOUBLE, 6) AS recall_at_{c}_r"
    for c in RECALL_CUTS
)

ORACLES["fts_eval_recall"] = f"""
    {_bm25_ctes()},
    qterms AS (SELECT DISTINCT qid, unnest({_QTOK}) AS term FROM q),
    nq AS (SELECT qid, count(*) AS n_terms FROM qterms GROUP BY qid),
    posts AS (SELECT DISTINCT doc_id, term FROM tok),
    golden AS (
      SELECT p.qid, p.doc_id FROM (
        SELECT qterms.qid, posts.doc_id, count(*) AS n_hit
        FROM posts JOIN qterms USING (term)
        GROUP BY qterms.qid, posts.doc_id) p
      JOIN nq ON p.qid = nq.qid AND p.n_hit = nq.n_terms),
    g_sizes AS (SELECT qid, count(*) AS n_golden FROM golden GROUP BY qid),
    topd AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {EVAL_DEPTH}),
    hits AS (
      SELECT t.qid, {_RECALL_AGG},
             round(1.0 / (min(t.rank) FILTER (t.rank <= 10)), 6) AS mrr_at_10_r
      FROM topd t JOIN golden g ON t.qid = g.qid AND t.doc_id = g.doc_id
      GROUP BY t.qid)
    SELECT g.qid::BIGINT AS qid, g.n_golden::BIGINT AS n_golden,
           {_RECALL_OUT},
           coalesce(h.mrr_at_10_r, 0.0) AS mrr_at_10_r
    FROM g_sizes g LEFT JOIN hits h USING (qid)
    ORDER BY qid
"""

ORACLES["fts_eval_ndcg"] = f"""
    {_bm25_ctes()},
    qterms AS (SELECT DISTINCT qid, unnest({_QTOK}) AS term FROM q),
    posts AS (SELECT DISTINCT doc_id, term FROM tok),
    grades AS (
      SELECT qterms.qid, posts.doc_id, count(*) AS rel
      FROM posts JOIN qterms USING (term)
      GROUP BY qterms.qid, posts.doc_id),
    topd AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= {NDCG_CUT}),
    dcg AS (
      SELECT t.qid,
             sum((pow(2.0, coalesce(g.rel, 0)) - 1.0) / log2(t.rank + 1.0)) AS dcg
      FROM topd t LEFT JOIN grades g ON t.qid = g.qid AND t.doc_id = g.doc_id
      GROUP BY t.qid),
    ideal AS (
      SELECT qid, sum((pow(2.0, rel) - 1.0) / log2(irank + 1.0)) AS idcg
      FROM (SELECT qid, rel, doc_id,
                   row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS irank
            FROM grades) r
      WHERE irank <= {NDCG_CUT} GROUP BY qid)
    SELECT q.qid::BIGINT AS qid,
           round(coalesce(d.dcg, 0.0), 6) AS dcg_r,
           round(coalesce(i.idcg, 0.0), 6) AS idcg_r,
           round(CASE WHEN i.idcg > 0 THEN d.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg_r
    FROM q LEFT JOIN dcg d USING (qid) LEFT JOIN ideal i USING (qid)
    ORDER BY qid
"""

ORACLES["fts_boolean_and"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    nreq AS (SELECT qid, count(*) AS n_req FROM qtf GROUP BY qid),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score,
             count(*) AS n_matched
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id),
    conj AS (
      SELECT s.qid, s.doc_id, s.score FROM scored s
      JOIN nreq ON s.qid = nreq.qid AND s.n_matched = nreq.n_req),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM conj)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

_PHRASE_VALUES = ", ".join(f"({pid}, '{p}')" for pid, p in DOC_PHRASES)

ORACLES["fts_phrase_match"] = f"""
    WITH p(phrase_id, phrase) AS (VALUES {_PHRASE_VALUES}),
    toks AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    big AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= 2 THEN
               list_transform(generate_series(1, len(tok) - 1), i -> tok[i] || ' ' || tok[i+1])
             ELSE [] END AS bigrams
      FROM toks)
    SELECT p.phrase_id::BIGINT AS phrase_id, b.doc_id,
           len(list_filter(b.bigrams, x -> x = p.phrase))::BIGINT AS n_occ
    FROM big b CROSS JOIN p
    WHERE len(list_filter(b.bigrams, x -> x = p.phrase)) > 0
    ORDER BY phrase_id, doc_id
"""

# the index path must reproduce the corpus-scan phrase results exactly —
# one oracle, two engines-under-test
ORACLES["fts_phrase_index"] = ORACLES["fts_phrase_match"]

ORACLES["fts_phrase_bm25"] = f"""
    WITH p(qid, phrase) AS (VALUES {_PHRASE_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    pterms AS (SELECT qid, unnest(string_split(phrase, ' ')) AS term FROM p),
    pn AS (SELECT qid, count(*) AS n_terms FROM pterms GROUP BY qid),
    pidf AS (
      SELECT pt.qid,
             sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))) AS idf_sum,
             count(*) AS n_found
      FROM pterms pt JOIN df USING (term) CROSS JOIN stats
      GROUP BY pt.qid),
    pok AS (
      SELECT pidf.qid, pidf.idf_sum
      FROM pidf JOIN pn ON pidf.qid = pn.qid AND pidf.n_found = pn.n_terms),
    toks AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    big AS (
      SELECT doc_id,
             CASE WHEN len(tok) >= 2 THEN
               list_transform(generate_series(1, len(tok) - 1), i -> tok[i] || ' ' || tok[i+1])
             ELSE [] END AS bigrams
      FROM toks),
    occ AS (
      SELECT p.qid, b.doc_id,
             len(list_filter(b.bigrams, x -> x = p.phrase)) AS n_occ
      FROM big b CROSS JOIN p
      WHERE len(list_filter(b.bigrams, x -> x = p.phrase)) > 0),
    scored AS (
      SELECT occ.qid::BIGINT AS qid, occ.doc_id,
             pok.idf_sum * occ.n_occ * ({K1_DEFAULT} + 1.0)
               / (occ.n_occ + {K1_DEFAULT}
                  * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl)) AS score
      FROM occ JOIN pok USING (qid)
      JOIN dl ON occ.doc_id = dl.doc_id
      CROSS JOIN stats),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# the positional-index path must reproduce the scan ranking exactly
ORACLES["fts_phrase_bm25_index"] = ORACLES["fts_phrase_bm25"]

_NEAR_VALUES = ", ".join(f"({pid}, '{a}', '{b}')" for pid, a, b in NEAR_PAIRS)

ORACLES["fts_near_match"] = f"""
    WITH q(pair_id, t1, t2) AS (VALUES {_NEAR_VALUES}),
    toks AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tok)),
                    i -> {{'p': i, 'term': tok[i]}}), recursive := true)
      FROM toks),
    anch AS (
      SELECT DISTINCT q.pair_id, a.doc_id, a.p
      FROM q
      JOIN pos a ON a.term = q.t1
      JOIN pos b ON b.doc_id = a.doc_id AND b.term = q.t2
                AND abs(a.p - b.p) <= {NEAR_WINDOW})
    SELECT pair_id::BIGINT AS pair_id, doc_id, count(*)::BIGINT AS n_anchor
    FROM anch GROUP BY pair_id, doc_id ORDER BY pair_id, doc_id
"""

# unordered k-term proximity: per group, min over one-occurrence-per-term
# combos of (max−min+1) — the k-way position join IS the brute-force
# minimal-window definition the engine's sweep must reproduce. Group 3's
# OOV term makes its join empty.
ORACLES["fts_within_match"] = f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tok)),
                    i -> {{'p': i, 'term': tok[i]}}), recursive := true)
      FROM toks),
    g0 AS (
      SELECT 0 AS group_id, a.doc_id,
             min(greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p) + 1) AS min_span
      FROM pos a JOIN pos b USING (doc_id) JOIN pos c USING (doc_id)
      WHERE a.term = 'hash' AND b.term = 'join' AND c.term = 'filter'
      GROUP BY a.doc_id),
    g1 AS (
      SELECT 1 AS group_id, a.doc_id,
             min(greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p) + 1) AS min_span
      FROM pos a JOIN pos b USING (doc_id) JOIN pos c USING (doc_id)
      WHERE a.term = 'customer' AND b.term = 'order' AND c.term = 'data'
      GROUP BY a.doc_id),
    g2 AS (
      SELECT 2 AS group_id, a.doc_id,
             min(greatest(a.p, b.p) - least(a.p, b.p) + 1) AS min_span
      FROM pos a JOIN pos b USING (doc_id)
      WHERE a.term = 'stream' AND b.term = 'window'
      GROUP BY a.doc_id),
    all_g AS (
      SELECT * FROM g0 UNION ALL SELECT * FROM g1 UNION ALL SELECT * FROM g2)
    SELECT group_id::BIGINT AS group_id, doc_id, min_span::BIGINT AS min_span
    FROM all_g WHERE min_span <= {WITHIN_WINDOW}
    ORDER BY group_id, doc_id
"""
ORACLES["fts_within_index"] = ORACLES["fts_within_match"]
ORACLES["fts_within_point_index"] = ORACLES["fts_within_match"]

# index path ≡ corpus scan, same oracle (see fts_phrase_index)
ORACLES["fts_near_index"] = ORACLES["fts_near_match"]
ORACLES["fts_phrase_point_index"] = ORACLES["fts_phrase_match"]
ORACLES["fts_near_point_index"] = ORACLES["fts_near_match"]

# the segment-index BM25 path must reproduce the DataFrame BM25 exactly
ORACLES["fts_bm25_index"] = ORACLES["fts_bm25_topk"]
ORACLES["fts_point_index"] = ORACLES["fts_bm25_topk"]

# build ARTIFACTS (docs sink, stats.json, dictionary) vs corpus recounts
ORACLES["fts_doclen_index"] = ORACLES["fts_doclen"]
ORACLES["fts_collection_stats_index"] = ORACLES["fts_collection_stats"]
ORACLES["fts_term_df_index"] = ORACLES["fts_term_df"]

ORACLES["fts_filtered_bm25"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    allowed AS (SELECT doc_id FROM documents WHERE lang = '{FILTER_LANG}'),
    qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN allowed a ON tf.doc_id = a.doc_id
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_filtered_index"] = ORACLES["fts_filtered_bm25"]

# a tombstoned index with encode-time statistics IS a filtered search over
# the complement (Lucene pre-merge semantics) — same oracle
ORACLES["fts_delete_index"] = ORACLES["fts_filtered_bm25"]

# the EXPUNGED index must equal a corpus scan over only the survivors —
# statistics included: the CTEs restrict the corpus itself
ORACLES["fts_expunge_index"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    live AS (SELECT * FROM documents WHERE lang = '{FILTER_LANG}'),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM live),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

ORACLES["fts_msm_bm25"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id
      HAVING count(*) >= {MIN_MATCH}),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_msm_index"] = ORACLES["fts_msm_bm25"]

# scored boolean-AND from the index ≡ the corpus-scan conjunction
ORACLES["fts_boolean_index"] = ORACLES["fts_boolean_and"]

ORACLES["fts_lmd_topk"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT sum(doclen)::DOUBLE AS c FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    cfs AS (SELECT term, sum(tf)::DOUBLE AS cf FROM tf GROUP BY term),
    qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    qv AS (SELECT qtf.qid, qtf.term, qtf.qtf, cfs.cf FROM qtf JOIN cfs USING (term)),
    agg AS (
      SELECT qv.qid::BIGINT AS qid, tf.doc_id,
             sum(qv.qtf * ln(1 + tf.tf / ({LMD_MU} * qv.cf / stats.c))) AS mlsum,
             first(dl.doclen) AS doclen
      FROM qv
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qv.qid, tf.doc_id),
    qn AS (SELECT qid, sum(qtf) AS nq FROM qv GROUP BY qid),
    scored AS (
      SELECT agg.qid, agg.doc_id,
             agg.mlsum + qn.nq * ln({LMD_MU} / (agg.doclen + {LMD_MU})) AS score
      FROM agg JOIN qn ON agg.qid = qn.qid),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_lmd_index"] = ORACLES["fts_lmd_topk"]

# index-backed snippets must reproduce the corpus-scan highlighting exactly
ORACLES["fts_snippet_index"] = ORACLES["fts_snippet"]

_PREFIX_VALUES = ", ".join(
    f"({qid}, '{pat}', {'TRUE' if pre else 'FALSE'}, {qtf})"
    for qid, pat, pre, qtf in PREFIX_PARSED
)

ORACLES["fts_prefix_bm25"] = f"""
    WITH qp(qid, pat, is_prefix, qtf) AS (VALUES {_PREFIX_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterm AS (
      SELECT qp.qid, df.term, sum(qp.qtf) AS qtf, first(df.df) AS df
      FROM qp JOIN df ON (qp.is_prefix AND df.term LIKE qp.pat || '%')
                     OR (NOT qp.is_prefix AND df.term = qp.pat)
      GROUP BY qp.qid, df.term),
    scored AS (
      SELECT qterm.qid::BIGINT AS qid, tf.doc_id,
             sum(qterm.qtf * ln(1 + (stats.n - qterm.df + 0.5) / (qterm.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qterm.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_prefix_index"] = ORACLES["fts_prefix_bm25"]

_FUZZY_VALUES = ", ".join(
    f"({qid}, '{pat}', {qtf})" for qid, pat, qtf in FUZZY_PARSED
)

ORACLES["fts_fuzzy_bm25"] = f"""
    WITH qf(qid, pat, qtf) AS (VALUES {_FUZZY_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterm AS (
      SELECT qf.qid, df.term, sum(qf.qtf) AS qtf, first(df.df) AS df
      FROM qf JOIN df ON levenshtein(qf.pat, df.term) <= {FUZZY_MAX_EDITS}
      GROUP BY qf.qid, df.term),
    scored AS (
      SELECT qterm.qid::BIGINT AS qid, tf.doc_id,
             sum(qterm.qtf * ln(1 + (stats.n - qterm.df + 0.5) / (qterm.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qterm.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_fuzzy_index"] = ORACLES["fts_fuzzy_bm25"]

_NOT_VALUES = ", ".join(f"({qid}, '{q}', '{x}')" for qid, q, x in NOT_QUERIES)
_XTOK = duckdb_tokens_sql("exclude")

ORACLES["fts_not_bm25"] = f"""
    WITH q(qid, question, exclude) AS (VALUES {_NOT_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    nt AS (SELECT DISTINCT qid, unnest({_XTOK}) AS term FROM q),
    excl AS (SELECT DISTINCT nt.qid, tf.doc_id FROM nt JOIN tf USING (term)),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id),
    kept AS (
      SELECT s.* FROM scored s
      WHERE NOT EXISTS (
        SELECT 1 FROM excl e WHERE e.qid = s.qid AND e.doc_id = s.doc_id)),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM kept)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_not_index"] = ORACLES["fts_not_bm25"]

ORACLES["fts_facets"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    qt AS (SELECT DISTINCT qid, unnest({_QTOK}) AS term FROM q),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    matched AS (SELECT DISTINCT qt.qid, tok.doc_id FROM qt JOIN tok USING (term)),
    joined AS (SELECT m.qid, d.lang, d.source
               FROM matched m JOIN documents d USING (doc_id))
    SELECT qid::BIGINT AS qid, facet, value, n_docs FROM (
      SELECT qid, 'lang' AS facet, lang AS value, count(*) AS n_docs
      FROM joined GROUP BY qid, lang
      UNION ALL
      SELECT qid, 'source' AS facet, source AS value, count(*) AS n_docs
      FROM joined GROUP BY qid, source)
    ORDER BY qid, facet, value
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_facets_index"] = ORACLES["fts_facets"]

_MLT_SEED_VALUES = ", ".join(f"({s})" for s in MLT_SEEDS)

ORACLES["fts_mlt"] = f"""
    WITH seeds(qid) AS (VALUES {_MLT_SEED_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    st AS (
      SELECT tf.doc_id AS qid, tf.term,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(tf.tf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)), 9) DESC,
                        tf.term ASC) AS rn
      FROM tf
      JOIN seeds ON tf.doc_id = seeds.qid
      JOIN df USING (term)
      CROSS JOIN stats),
    qterm AS (SELECT qid, term FROM st WHERE rn <= {MLT_TERMS}),
    scored AS (
      SELECT qterm.qid::BIGINT AS qid, tf.doc_id,
             sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      WHERE tf.doc_id != qterm.qid
      GROUP BY qterm.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_mlt_index"] = ORACLES["fts_mlt"]

ORACLES["fts_explain"] = f"""
    {_bm25_ctes()},
    detail AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id, tf.term,
             tf.tf::BIGINT AS tf, dl.doclen::BIGINT AS doclen,
             qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({K1_DEFAULT} + 1.0)
               / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
               AS contrib
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats)
    SELECT d.qid, d.doc_id, d.term, d.tf, d.doclen, round(d.contrib, 4) AS contrib_r
    FROM detail d
    JOIN ranked r ON r.qid = d.qid AND r.doc_id = d.doc_id AND r.rank <= {EXPLAIN_K}
    ORDER BY d.qid, d.doc_id, d.term
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_explain_index"] = ORACLES["fts_explain"]

_SYN_VALUES = ", ".join(f"({qid}, '{pat}', {qtf})" for qid, pat, qtf in SYN_PARSED)

ORACLES["fts_synonym_bm25"] = f"""
    WITH qs(qid, pat, qtf) AS (VALUES {_SYN_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterm AS (
      SELECT qs.qid, df.term, sum(qs.qtf) AS qtf, first(df.df) AS df
      FROM qs JOIN df ON qs.pat = df.term
      GROUP BY qs.qid, df.term),
    scored AS (
      SELECT qterm.qid::BIGINT AS qid, tf.doc_id,
             sum(qterm.qtf * ln(1 + (stats.n - qterm.df + 0.5) / (qterm.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qterm.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_synonym_index"] = ORACLES["fts_synonym_bm25"]

ORACLES["fts_rm3"] = f"""
    {_bm25_ctes()},
    fb AS (SELECT qid, doc_id FROM ranked WHERE rank <= {FB_DOCS}),
    exp0 AS (
      SELECT fb.qid, tf.term, sum(tf.tf) AS stf,
             first(df.df) AS dfv, first(stats.n) AS n
      FROM fb
      JOIN tf USING (doc_id)
      JOIN df USING (term)
      CROSS JOIN stats
      GROUP BY fb.qid, tf.term),
    exp1 AS (
      SELECT qid, term,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY round(stf * ln(1 + (n - dfv + 0.5) / (dfv + 0.5)), 9) DESC,
                        term ASC) AS rn
      FROM exp0
      WHERE NOT EXISTS (
        SELECT 1 FROM qtf q2 WHERE q2.qid = exp0.qid AND q2.term = exp0.term)),
    qterm2 AS (
      SELECT qid, term, qtf FROM qtf
      UNION ALL
      SELECT qid, term, 1 AS qtf FROM exp1 WHERE rn <= {FB_TERMS}),
    scored2 AS (
      SELECT qterm2.qid::BIGINT AS qid, tf.doc_id,
             sum(qterm2.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm2
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qterm2.qid, tf.doc_id),
    ranked2 AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored2)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked2 WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_rm3_index"] = ORACLES["fts_rm3"]

ORACLES["fts_collapse"] = f"""
    {_bm25_ctes()},
    grouped AS (
      SELECT s.qid, d.lang, s.doc_id, s.score,
             row_number() OVER (
               PARTITION BY s.qid, d.lang
               ORDER BY round(s.score, 9) DESC, s.doc_id) AS rank
      FROM scored s JOIN documents d USING (doc_id))
    SELECT qid, lang, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM grouped WHERE rank <= {GROUP_K}
    ORDER BY qid, lang, rank
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_collapse_index"] = ORACLES["fts_collapse"]

ORACLES["fts_page_bm25"] = f"""
    {_bm25_ctes()}
    SELECT qid, (rank - {PAGE_OFFSET})::BIGINT AS rank, doc_id,
           round(score, 4) AS score_r
    FROM ranked
    WHERE rank > {PAGE_OFFSET} AND rank <= {PAGE_OFFSET + TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_page_index"] = ORACLES["fts_page_bm25"]

ORACLES["fts_suggest"] = f"""
    WITH qf(qid, pat) AS (SELECT DISTINCT qid, pat FROM (VALUES {_FUZZY_VALUES}) v(qid, pat, qtf)),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT term, doc_id FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    cand AS (
      SELECT qf.qid, qf.pat, df.term, df.df,
             row_number() OVER (
               PARTITION BY qf.qid, qf.pat ORDER BY df.df DESC, df.term ASC) AS rank
      FROM qf JOIN df ON levenshtein(qf.pat, df.term) <= {FUZZY_MAX_EDITS})
    SELECT qid, pat, rank::BIGINT AS rank, term, df::BIGINT AS df
    FROM cand WHERE rank <= {SUGGEST_K}
    ORDER BY qid, pat, rank
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_suggest_index"] = ORACLES["fts_suggest"]

ORACLES["fts_doclen_percentiles"] = f"""
    WITH dl AS (SELECT len({_TOK}) AS doclen FROM documents)
    SELECT round(quantile_cont(doclen, 0.25), 6) AS p25,
           round(quantile_cont(doclen, 0.50), 6) AS p50,
           round(quantile_cont(doclen, 0.75), 6) AS p75,
           max(doclen)::BIGINT AS max_dl
    FROM dl
"""

QUERIES = {
    "fts_doclen": fts_doclen,
    "fts_collection_stats": fts_collection_stats,
    "fts_term_df": fts_term_df,
    "fts_bm25_topk": fts_bm25_topk,
    "fts_boolean_and": fts_boolean_and,
    "fts_phrase_match": fts_phrase_match,
    "fts_phrase_index": fts_phrase_index,
    "fts_phrase_bm25": fts_phrase_bm25,
    "fts_phrase_bm25_index": fts_phrase_bm25_index,
    "fts_near_match": fts_near_match,
    "fts_near_index": fts_near_index,
    "fts_within_match": fts_within_match,
    "fts_within_index": fts_within_index,
    "fts_within_point_index": fts_within_point_index,
    "fts_phrase_point_index": fts_phrase_point_index,
    "fts_near_point_index": fts_near_point_index,
    "fts_bm25_index": fts_bm25_index,
    "fts_point_index": fts_point_index,
    "fts_doclen_index": fts_doclen_index,
    "fts_collection_stats_index": fts_collection_stats_index,
    "fts_term_df_index": fts_term_df_index,
    "fts_prefix_bm25": fts_prefix_bm25,
    "fts_prefix_index": fts_prefix_index,
    "fts_fuzzy_bm25": fts_fuzzy_bm25,
    "fts_fuzzy_index": fts_fuzzy_index,
    "fts_not_bm25": fts_not_bm25,
    "fts_not_index": fts_not_index,
    "fts_facets": fts_facets,
    "fts_facets_index": fts_facets_index,
    "fts_mlt": fts_mlt,
    "fts_mlt_index": fts_mlt_index,
    "fts_explain": fts_explain,
    "fts_explain_index": fts_explain_index,
    "fts_synonym_bm25": fts_synonym_bm25,
    "fts_synonym_index": fts_synonym_index,
    "fts_rm3": fts_rm3,
    "fts_rm3_index": fts_rm3_index,
    "fts_collapse": fts_collapse,
    "fts_collapse_index": fts_collapse_index,
    "fts_page_bm25": fts_page_bm25,
    "fts_page_index": fts_page_index,
    "fts_suggest": fts_suggest,
    "fts_suggest_index": fts_suggest_index,
    "fts_filtered_bm25": fts_filtered_bm25,
    "fts_filtered_index": fts_filtered_index,
    "fts_delete_index": fts_delete_index,
    "fts_expunge_index": fts_expunge_index,
    "fts_msm_bm25": fts_msm_bm25,
    "fts_msm_index": fts_msm_index,
    "fts_boolean_index": fts_boolean_index,
    "fts_lmd_topk": fts_lmd_topk,
    "fts_lmd_index": fts_lmd_index,
    "fts_snippet_index": fts_snippet_index,
    "fts_topk_docs": fts_topk_docs,
    "fts_snippet": fts_snippet,
    "fts_eval_recall": fts_eval_recall,
    "fts_eval_ndcg": fts_eval_ndcg,
    "fts_doclen_percentiles": fts_doclen_percentiles,
}


# ---------------------------------------------------------------------------
# term-range queries — Lucene TermRangeQuery under the scoring rewrite: every
# vocabulary term lexically in [lo, hi) joins the disjunction with its own
# df/idf, weighted by the range's qtf. At scale the expansion is a broadcast
# theta-join of the (tiny) range table against the term dictionary — which is
# range-PARTITIONABLE on `term`, so a real deployment prunes dictionary
# partitions to the [lo, hi) slice before the join; the big postings join
# stays plain `term` equality either way.

RANGE_QUERIES = [
    (0, "a", "c", 1),  # a, agg, batch, big
    (1, "q", "t", 1),  # query … stream
    (2, "table", "value", 1),  # table, the
    (3, "x", "z", 1),  # empty slice of the vocabulary ⇒ no rows
    (4, "data", "datb", 2),  # singleton range, doubled weight
]


def _range_cond(ts, qr):
    return (ts.term >= qr.lo) & (ts.term < qr.hi)


def fts_range_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for TERM-RANGE queries by corpus scan (Lucene
    TermRangeQuery, scoring rewrite): each [lo, hi) range expands to every
    vocabulary term it covers via `_expanded_bm25_scan`'s broadcast
    theta-join. Exact-semantics oracle for `fts_range_index`."""
    qr = spark.createDataFrame(RANGE_QUERIES, "qid long, lo string, hi string, qtf long")
    return _expanded_bm25_scan(spark, sf_dir, qr, _range_cond)


def fts_range_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_range_bm25` answered from the segment index: the range expands
    against the committed term DICTIONARY (at scale a partition-pruned slice
    scan — the dictionary is sorted/partitionable on term), then the standard
    batch kernel scores the rewritten disjunction. Shares the scan oracle."""
    qr = spark.createDataFrame(RANGE_QUERIES, "qid long, lo string, hi string, qtf long")
    return _expanded_bm25_index(spark, sf_dir, qr, _range_cond)


# ---------------------------------------------------------------------------
# general wildcard queries — Lucene WildcardQuery under the scoring rewrite:
# '*' matches any run, '?' exactly one character. Patterns compile to SQL
# LIKE ('%' / '_'), legal in both engines over the [a-z0-9]+ token grammar
# (terms can never contain literal '%' or '_'). At scale the expansion
# extracts the literal prefix before the first wildcard and range-scans the
# sorted dictionary for it (the ReverseStringFilter trick covers leading-'*'
# patterns with a reversed sidecar); here the whole pattern table is a tiny
# broadcast against the dictionary, and the postings join stays equality.

WILDCARD_QUERIES = [
    (0, "da*a"),
    (1, "*er s??n"),  # two patterns in one query
    (2, "w?ndow"),
    (3, "*zz*"),  # matches nothing ⇒ no rows
]


def _parse_wildcard_queries():
    """(qid, glob) → rows (qid, LIKE-pattern, qtf), parsed once in Python and
    shared verbatim by the Spark plan and the SQL oracle (the tokenizer
    grammar would strip '*'/'?', so patterns bypass it; bases are already
    lowercase [a-z0-9*?] runs)."""
    from collections import Counter

    rows = []
    for qid, q in WILDCARD_QUERIES:
        c: Counter = Counter()
        for raw in q.split():
            c[raw.replace("*", "%").replace("?", "_")] += 1
        rows += [(qid, pat, n) for pat, n in sorted(c.items())]
    return rows


WILDCARD_PARSED = _parse_wildcard_queries()


def _wildcard_cond(ts, qw):
    return F.like(ts.term, qw.pat)


def fts_wildcard_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for WILDCARD queries by corpus scan (Lucene WildcardQuery,
    scoring rewrite): each pattern expands to every vocabulary term it
    matches (JVM `LIKE` in the broadcast theta-join). Exact-semantics oracle
    for `fts_wildcard_index`."""
    qw = spark.createDataFrame(WILDCARD_PARSED, "qid long, pat string, qtf long")
    return _expanded_bm25_scan(spark, sf_dir, qw, _wildcard_cond)


def fts_wildcard_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_wildcard_bm25` answered from the segment index: the pattern
    expansion runs against the term dictionary, then the standard batch
    kernel scores the rewritten disjunction. Shares the scan oracle."""
    qw = spark.createDataFrame(WILDCARD_PARSED, "qid long, pat string, qtf long")
    return _expanded_bm25_index(spark, sf_dir, qw, _wildcard_cond)


_RANGE_VALUES = ", ".join(
    f"({qid}, '{lo}', '{hi}', {qtf})" for qid, lo, hi, qtf in RANGE_QUERIES
)

ORACLES["fts_range_bm25"] = f"""
    WITH qr(qid, lo, hi, qtf) AS (VALUES {_RANGE_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterm AS (
      SELECT qr.qid, df.term, sum(qr.qtf) AS qtf, first(df.df) AS df
      FROM qr JOIN df ON df.term >= qr.lo AND df.term < qr.hi
      GROUP BY qr.qid, df.term),
    scored AS (
      SELECT qterm.qid::BIGINT AS qid, tf.doc_id,
             sum(qterm.qtf * ln(1 + (stats.n - qterm.df + 0.5) / (qterm.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qterm.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_range_index"] = ORACLES["fts_range_bm25"]

_WILDCARD_VALUES = ", ".join(
    f"({qid}, '{pat}', {qtf})" for qid, pat, qtf in WILDCARD_PARSED
)

ORACLES["fts_wildcard_bm25"] = f"""
    WITH qw(qid, pat, qtf) AS (VALUES {_WILDCARD_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterm AS (
      SELECT qw.qid, df.term, sum(qw.qtf) AS qtf, first(df.df) AS df
      FROM qw JOIN df ON df.term LIKE qw.pat
      GROUP BY qw.qid, df.term),
    scored AS (
      SELECT qterm.qid::BIGINT AS qid, tf.doc_id,
             sum(qterm.qtf * ln(1 + (stats.n - qterm.df + 0.5) / (qterm.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qterm.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# index path ≡ corpus scan, same oracle
ORACLES["fts_wildcard_index"] = ORACLES["fts_wildcard_bm25"]

QUERIES["fts_range_bm25"] = fts_range_bm25
QUERIES["fts_range_index"] = fts_range_index
QUERIES["fts_wildcard_bm25"] = fts_wildcard_bm25
QUERIES["fts_wildcard_index"] = fts_wildcard_index


# ---------------------------------------------------------------------------
# LEADING-wildcard queries (`*ing` → LIKE '%ing') — the pattern class a
# term-sorted dictionary cannot prune (no literal prefix; Lucene's
# documented full-scan warning). The engine's index answer routes through
# the REVERSED-TERM SIDECAR (`build_index(reverse_dict=True)`, Lucene
# ReverseStringFilter): LIKE(t, p) ⇔ LIKE(reverse(t), reverse(p)), and the
# reversed pattern's literal prefix range-prunes the rterm-sorted sidecar's
# parquet row groups — a leading wildcard costs the same as a trailing one.

LEADING_WILDCARD_QUERIES = [
    (0, "%am", 1),   # stream, …
    (1, "%ta", 1),   # data, …
    (2, "%ow", 1),   # window, row, …
    (3, "%zzq", 1),  # matches nothing ⇒ no rows
    (4, "%sh", 2),   # hash, …, doubled weight
]


def fts_wildcard_leading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for LEADING-wildcard queries by corpus scan (the
    exact-semantics oracle for `fts_wildcard_leading_index`)."""
    qw = spark.createDataFrame(
        LEADING_WILDCARD_QUERIES, "qid long, pat string, qtf long"
    )
    return _expanded_bm25_scan(spark, sf_dir, qw, _wildcard_cond)


def fts_wildcard_leading_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_wildcard_leading` answered from the segment index THROUGH the
    reversed-term sidecar: `IndexSearcher.expand_like('%am')` scans the
    rterm-sorted sidecar with the pushed `ma%` range (plan-asserted in
    tests/test_reverse_dict.py), then the expansions score as a weighted
    disjunction through the standard compiled kernel plan."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    s = IndexSearcher(spark, idx)
    compiled = []
    for qid, pat, qtf in LEADING_WILDCARD_QUERIES:
        scored = [(t, float(qtf)) for t in s.expand_like(pat)]
        if scored:
            compiled.append((qid, scored, [], []))
    if not compiled:
        return spark.createDataFrame([], "qid long, rank long, doc_id long, score_r double")
    hits = s.search_compiled(compiled, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


_LEADING_VALUES = ", ".join(
    f"({qid}, '{pat}', {qtf})" for qid, pat, qtf in LEADING_WILDCARD_QUERIES
)

ORACLES["fts_wildcard_leading"] = ORACLES["fts_wildcard_bm25"].replace(
    _WILDCARD_VALUES, _LEADING_VALUES
)
ORACLES["fts_wildcard_leading_index"] = ORACLES["fts_wildcard_leading"]
QUERIES["fts_wildcard_leading"] = fts_wildcard_leading
QUERIES["fts_wildcard_leading_index"] = fts_wildcard_leading_index


# ---------------------------------------------------------------------------
# total-hit counting — Lucene TotalHitCountCollector: the SIZE of each
# query's boolean-OR match set, no scoring, no top-k cut. The aggregation is
# a partial-agg count over the match set, so at scale each executor emits one
# count per (qid, bucket) and the exchange carries |Q|·buckets rows.


def fts_hitcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query total hit count by corpus scan: distinct docs containing ≥1
    query term. Exact-semantics oracle for `fts_hitcount_index`."""
    docs = _docs(spark, sf_dir)
    posts = docs.select("doc_id", F.explode(F.array_distinct("terms")).alias("term"))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = queries.select(
        "qid", F.explode(F.array_distinct(tokens_col("question"))).alias("term")
    )
    return (
        posts.join(F.broadcast(qt), "term")
        .groupBy("qid")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_hits"))
        .orderBy("qid")
    )


def fts_hitcount_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_hitcount` answered from the segment index via
    `IndexSearcher.matching_docs` (per-bucket union of decoded postings).
    Shares the corpus-scan oracle — the count compare proves the index's
    match-set CARDINALITY, the complement of the facet entries' match-set
    identity proof."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).matching_docs(queries)
    return (
        hits.groupBy("qid")
        .agg(F.count("*").cast("long").alias("n_hits"))
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# sort-by-field retrieval — Lucene Sort(SortField) over doc values: the
# match set ordered by a document ATTRIBUTE instead of relevance (newest-
# first, largest-first …). The attribute join is against the metadata table
# (the engine's doc-values store); ranking is the standard per-qid window.

SORT_TOPK = 10


def fts_sort_by_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 matching docs per query ordered by (n_chars DESC, doc_id ASC)
    — field-sorted retrieval by corpus scan. Exact-semantics oracle for
    `fts_sort_index`."""
    docs = _docs(spark, sf_dir)
    posts = docs.select("doc_id", F.explode(F.array_distinct("terms")).alias("term"))
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = queries.select(
        "qid", F.explode(F.array_distinct(tokens_col("question"))).alias("term")
    )
    matched = posts.join(F.broadcast(qt), "term").select("qid", "doc_id").distinct()
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("qid").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        matched.join(meta, "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SORT_TOPK)
        .select("qid", "rank", "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("qid", "rank")
    )


def fts_sort_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_sort_by_attr` answered from the segment index: the match set from
    `IndexSearcher.matching_docs`, doc attributes from the metadata table
    (doc-values analog), the same window rank. Shares the scan oracle."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).matching_docs(queries)
    back = spark.read.parquet(_index_docs_path(idx)).select(
        F.col("doc_id").alias("idx_doc"), F.col("url").cast("long").alias("doc_id")
    )
    mapped = (
        hits.withColumnRenamed("doc_id", "idx_doc")
        .join(back, "idx_doc")
        .select("qid", "doc_id")
    )
    meta = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("qid").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        mapped.join(meta, "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SORT_TOPK)
        .select("qid", "rank", "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("qid", "rank")
    )


ORACLES["fts_hitcount"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    qt AS (SELECT DISTINCT qid, unnest({_QTOK}) AS term FROM q)
    SELECT qt.qid::BIGINT AS qid, count(DISTINCT tok.doc_id)::BIGINT AS n_hits
    FROM qt JOIN tok USING (term)
    GROUP BY qt.qid
"""

ORACLES["fts_hitcount_index"] = ORACLES["fts_hitcount"]

ORACLES["fts_sort_by_attr"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    qt AS (SELECT DISTINCT qid, unnest({_QTOK}) AS term FROM q),
    matched AS (SELECT DISTINCT qt.qid, tok.doc_id FROM qt JOIN tok USING (term)),
    ranked AS (
      SELECT m.qid::BIGINT AS qid, m.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY m.qid ORDER BY d.n_chars DESC, m.doc_id) AS rank
      FROM matched m JOIN documents d USING (doc_id))
    SELECT qid, rank::BIGINT AS rank, doc_id, n_chars::BIGINT AS n_chars
    FROM ranked WHERE rank <= {SORT_TOPK}
"""

ORACLES["fts_sort_index"] = ORACLES["fts_sort_by_attr"]

QUERIES["fts_hitcount"] = fts_hitcount
QUERIES["fts_hitcount_index"] = fts_hitcount_index
QUERIES["fts_sort_by_attr"] = fts_sort_by_attr
QUERIES["fts_sort_index"] = fts_sort_index


# ---------------------------------------------------------------------------
# analyzer chain — the index-level token-filter contract (Lucene's
# analyzer-per-index): the build records its analysis chain in stats.json and
# every query path re-applies it, so "tables" retrieves docs that said
# "table". One chain ships: the Harman S-stemmer (functions/analyzer.py),
# defined once with three engine spellings that agree by construction.

STEM_QUERIES = [
    (0, "tables joins"),
    (1, "customers orders lines"),
    (2, "queries windows"),
    (3, "values streams"),
    (4, "hashes"),  # S-stems to 'hashe' (the stemmer's documented miss) ⇒ no rows
]


def _stem_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from colbert_spark.functions.analyzer import analyze_terms_col

    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("raw"))
        .select("doc_id", analyze_terms_col("raw", "s_stem").alias("terms"))
        .withColumn("doclen", F.size("terms"))
    )


def fts_stem_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 under the S-STEM analysis chain by corpus scan: document
    AND query tokens pass the same stemmer, so plural queries match singular
    documents. Exact-semantics oracle for `fts_stem_index`."""
    queries = spark.createDataFrame(STEM_QUERIES, "qid long, question string")
    return _fts_bm25_topk(
        spark, sf_dir, TOPK,
        docs=_stem_docs(spark, sf_dir), queries_df=queries, analyzer="s_stem",
    )


_STEM_IDX_BUILT: set[str] = set()


def _stem_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) a segment index over the documents
    table with `analyzer='s_stem'` recorded in stats.json."""
    import json
    import os
    import shutil
    import tempfile

    from colbert_spark.index.build import build_index

    idx = os.path.join(
        tempfile.gettempdir(), "colbert_spark_stem_idx_" + _corpus_key(sf_dir)
    )
    if idx not in _STEM_IDX_BUILT:
        done = os.path.join(idx, "stats.json")
        ok = False
        if os.path.exists(done):
            with open(done) as f:
                s = json.load(f)
            ok = s.get("analyzer") == "s_stem" and int(s.get("N", 0)) > 0
        if not ok:
            shutil.rmtree(idx, ignore_errors=True)
            pages = load_table(spark, sf_dir, "documents").select(
                F.format_string("%012d", F.col("doc_id")).alias("url"), "text"
            )
            build_index(spark, pages, idx, bucket_size=1000, analyzer="s_stem")
        _STEM_IDX_BUILT.add(idx)
    return idx


def fts_stem_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_stem_bm25` answered from a segment index BUILT with the s_stem
    analyzer: stats.json records the chain and `IndexSearcher` re-applies it
    to query tokens, so the raw plural questions go in unchanged. Shares the
    scan oracle — the value-hash compare proves the analysis chain is applied
    identically at build time (postings) and query time (resolution)."""
    from colbert_spark.query.wand import bm25_topk_segments

    idx = _stem_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(STEM_QUERIES, "qid long, question string")
    hits = bm25_topk_segments(spark, idx, queries, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


from colbert_spark.functions.analyzer import duckdb_stem_sql as _stem_sql

_STEM_VALUES = ", ".join(f"({qid}, '{q}')" for qid, q in STEM_QUERIES)
_STEM_TOK = _stem_sql(_TOK)
_STEM_QTOK = _stem_sql(_QTOK)

ORACLES["fts_stem_bm25"] = f"""
    WITH q(qid, question) AS (VALUES {_STEM_VALUES}),
    tok AS (SELECT doc_id, unnest({_STEM_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qt AS (SELECT qid, unnest({_STEM_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

ORACLES["fts_stem_index"] = ORACLES["fts_stem_bm25"]

QUERIES["fts_stem_bm25"] = fts_stem_bm25
QUERIES["fts_stem_index"] = fts_stem_index


# ---------------------------------------------------------------------------
# sharded build + merge — Lucene addIndexes (index/merge.py): the corpus is
# split into two halves indexed INDEPENDENTLY, fused with merge_indexes, and
# the flagship query set is answered from the fused index. Sharing
# `fts_bm25_topk`'s oracle proves the merge is statistically exact (summed
# df/cf, re-based doc ids, re-encoded blocks) end-to-end.

_SHARD_IDX_BUILT: set[str] = set()
_MERGED_IDX_BUILT: set[str] = set()


def _shard_index_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Two INDEPENDENT half-corpus indexes (doc_id ≤/> median), urls =
    zero-padded table doc_ids — the shard substrate for both the merge entry
    and the sharded-search entry."""
    import json
    import os
    import shutil
    import tempfile

    from colbert_spark.index.build import build_index

    base = os.path.join(
        tempfile.gettempdir(), "colbert_spark_shard_idx_" + _corpus_key(sf_dir)
    )
    a, b_ = os.path.join(base, "a"), os.path.join(base, "b")
    if base not in _SHARD_IDX_BUILT:
        ok = True
        for d in (a, b_):
            done = os.path.join(d, "stats.json")
            if not os.path.exists(done):
                ok = False
                break
            with open(done) as f:
                if int(json.load(f).get("N", 0)) <= 0:
                    ok = False
                    break
        if not ok:
            shutil.rmtree(base, ignore_errors=True)
            pages = load_table(spark, sf_dir, "documents").select(
                F.format_string("%012d", F.col("doc_id")).alias("url"),
                "text",
                "doc_id",
            )
            mid = pages.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
            build_index(
                spark, pages.filter(F.col("doc_id") <= mid).drop("doc_id"),
                a, bucket_size=1000,
            )
            build_index(
                spark, pages.filter(F.col("doc_id") > mid).drop("doc_id"),
                b_, bucket_size=1000,
            )
        _SHARD_IDX_BUILT.add(base)
    return a, b_


def _merged_index_dir(spark: SparkSession, sf_dir: str) -> str:
    import json
    import os
    import shutil
    import tempfile

    from colbert_spark.index.build import commit_json
    from colbert_spark.index.merge import merge_indexes

    idx = os.path.join(
        tempfile.gettempdir(), "colbert_spark_merged_idx_" + _corpus_key(sf_dir)
    )
    if idx not in _MERGED_IDX_BUILT:
        done = os.path.join(idx, "stats.json")
        ok = False
        if os.path.exists(done):
            with open(done) as f:
                s = json.load(f)
            ok = int(s.get("N", 0)) > 0 and s.get("merged_from") == 2
        if not ok:
            shutil.rmtree(idx, ignore_errors=True)
            a, b_ = _shard_index_dirs(spark, sf_dir)
            stats = merge_indexes(spark, [a, b_], idx, bucket_size=1000)
            stats["merged_from"] = 2
            commit_json(done, stats)
        _MERGED_IDX_BUILT.add(idx)
    return idx


def fts_merged_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship BM25 answered from a MERGED index (two independently-built
    half-corpus shards fused by `merge_indexes`) — shares `fts_bm25_topk`'s
    oracle, so the value-hash compare proves sharded-build-then-merge
    reproduces the single-build scores rank-identically."""
    from colbert_spark.query.wand import bm25_topk_segments

    idx = _merged_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = bm25_topk_segments(spark, idx, queries, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


ORACLES["fts_merged_index"] = ORACLES["fts_bm25_topk"]
QUERIES["fts_merged_index"] = fts_merged_index


# ---------------------------------------------------------------------------
# BM25F — multi-field ranking (Robertson & Zaragoza's simple BM25F): each
# field's tf is length-normalized with its OWN per-field b and average
# length, weighted, and summed into one per-term pseudo-frequency that
# saturates once:
#
#   tf~(t,d) = Σ_f  w_f · tf_f(t,d) / (1 − b_f + b_f · len_f(d)/avglen_f)
#   score    = Σ_t  qtf · idf(t) · tf~ · (k1+1) / (tf~ + k1)
#
# idf is computed over the catch-all document (a term's df = docs containing
# it in ANY field) — the standard copy-to/catch-all-field practice. The
# documents table has one text column, so fields are carved
# deterministically: title = first TITLE_LEN tokens, body = the rest (a
# web-page's title/body split stand-in that both engines replicate exactly).

TITLE_LEN = 8
BM25F_FIELDS = {"title": 2.0, "body": 1.0}  # field weights w_f
BM25F_B = {"title": B_DEFAULT, "body": B_DEFAULT}


def fts_bm25f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25F top-10 by corpus scan over the (title, body) field split.
    Exact-semantics oracle for `fts_bm25f_index`."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens_col("text").alias("toks"))
        .select(
            "doc_id",
            F.slice("toks", 1, TITLE_LEN).alias("title"),
            # length = size(toks): an INT_MAX literal overflows start+length
            # inside slice on some plans and silently yields []
            F.expr(f"slice(toks, {TITLE_LEN + 1}, size(toks))").alias("body"),
        )
        .withColumn("len_title", F.size("title"))
        .withColumn("len_body", F.size("body"))
        .cache()
    )
    avgs = docs.agg(
        F.count("*").alias("n"),
        F.avg("len_title").alias("avg_title"),
        F.avg("len_body").alias("avg_body"),
    ).collect()[0]
    n_docs = avgs["n"]
    avg_len = {"title": float(avgs["avg_title"]), "body": float(avgs["avg_body"])}

    # catch-all df: docs containing the term in ANY field
    df_t = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.concat("title", "body"))).alias("term"),
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    qt = (
        queries.select("qid", F.explode(tokens_col("question")).alias("term"))
        .groupBy("qid", "term")
        .agg(F.count("*").alias("qtf"))
    )
    # per-field normalized weighted tf, then per-(qid, doc) pseudo-frequency
    parts = []
    for fld, w in BM25F_FIELDS.items():
        b_f = BM25F_B[fld]
        tf_f = (
            docs.select("doc_id", f"len_{fld}", F.explode(fld).alias("term"))
            .groupBy("term", "doc_id", f"len_{fld}")
            .agg(F.count("*").alias("tf"))
        )
        norm = 1.0 - b_f + b_f * F.col(f"len_{fld}") / F.lit(avg_len[fld])
        parts.append(
            tf_f.select(
                "term",
                "doc_id",
                (F.lit(w) * F.col("tf") / norm).alias("wtf"),
            )
        )
    wtf = parts[0].unionByName(parts[1])
    pseudo = wtf.groupBy("term", "doc_id").agg(F.sum("wtf").alias("tfp"))
    joined = pseudo.join(F.broadcast(qt.join(df_t, "term")), "term")
    idf = idf_col(n_docs)
    k1 = K1_DEFAULT
    contrib = (
        F.col("qtf") * idf * F.col("tfp") * (k1 + 1.0) / (F.col("tfp") + k1)
    )
    agg = (
        joined.withColumn("contrib", contrib)
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return _rank_topk(agg)


_TITLE_SQL = f"({_TOK})[1:{TITLE_LEN}]"
_BODY_SQL = f"({_TOK})[{TITLE_LEN + 1}:]"

ORACLES["fts_bm25f"] = f"""
    WITH q(qid, question) AS (VALUES {_values_clause()}),
    fields AS (SELECT doc_id, {_TITLE_SQL} AS title, {_BODY_SQL} AS body FROM documents),
    lens AS (SELECT doc_id, len(title) AS len_title, len(body) AS len_body FROM fields),
    stats AS (SELECT count(*) AS n, avg(len_title) AS avg_title, avg(len_body) AS avg_body FROM lens),
    tok_all AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, unnest(title) AS term FROM fields
        UNION ALL SELECT doc_id, unnest(body) FROM fields)),
    df AS (SELECT term, count(*) AS df FROM tok_all GROUP BY term),
    tf_title AS (SELECT doc_id, term, count(*) AS tf FROM
      (SELECT doc_id, unnest(title) AS term FROM fields) GROUP BY doc_id, term),
    tf_body AS (SELECT doc_id, term, count(*) AS tf FROM
      (SELECT doc_id, unnest(body) AS term FROM fields) GROUP BY doc_id, term),
    wtf AS (
      SELECT t.doc_id, t.term,
             {BM25F_FIELDS["title"]} * t.tf
               / (1.0 - {BM25F_B["title"]} + {BM25F_B["title"]} * l.len_title / s.avg_title) AS wtf
      FROM tf_title t JOIN lens l USING (doc_id) CROSS JOIN stats s
      UNION ALL
      SELECT t.doc_id, t.term,
             {BM25F_FIELDS["body"]} * t.tf
               / (1.0 - {BM25F_B["body"]} + {BM25F_B["body"]} * l.len_body / s.avg_body) AS wtf
      FROM tf_body t JOIN lens l USING (doc_id) CROSS JOIN stats s),
    pseudo AS (SELECT doc_id, term, sum(wtf) AS tfp FROM wtf GROUP BY doc_id, term),
    qt AS (SELECT qid, unnest({_QTOK}) AS term FROM q),
    qtf AS (SELECT qid, term, count(*) AS qtf FROM qt GROUP BY qid, term),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, p.doc_id,
             sum(qtf.qtf * ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                 * p.tfp * ({K1_DEFAULT} + 1.0) / (p.tfp + {K1_DEFAULT})) AS score
      FROM qtf JOIN df USING (term) JOIN pseudo p USING (term)
      CROSS JOIN stats s
      GROUP BY qtf.qid, p.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

QUERIES["fts_bm25f"] = fts_bm25f


_FIELDED_IDX_BUILT: set[str] = set()


def _fielded_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) ONE fielded segment index —
    Lucene's field-qualified posting lists in a single directory
    (`build_index(fields=...)`): terms keyed f"{field}\\x1f{term}", the dl
    stream storing the FIELD length, per-field avgdl in stats.json.
    title = first TITLE_LEN tokens; body = the remaining tokens re-joined
    (space-joining preserves the token sequence under the grammar).

    Built as BASE + APPEND (first ~2/3 of the corpus, then the rest through
    `append_index`), so the oracle gate proves the fielded incremental-epoch
    path — per-field token re-derivation and rolled-forward field
    statistics — reproduces a fresh two-field corpus recount exactly."""
    import json
    import os
    import shutil
    import tempfile

    from colbert_spark.index.build import append_index, build_index

    base = os.path.join(
        tempfile.gettempdir(), "colbert_spark_fielded_idx_" + _corpus_key(sf_dir)
    )
    if base not in _FIELDED_IDX_BUILT:
        ok = False
        done = os.path.join(base, "stats.json")
        if os.path.exists(done):
            with open(done) as f:
                st = json.load(f)
            ok = (
                int(st.get("N", 0)) > 0
                and bool(st.get("fields"))
                and int(st.get("epochs", 1)) >= 2  # base + appended epoch
            )
        if not ok:
            shutil.rmtree(base, ignore_errors=True)
            toks = tokens_col("text")
            pages = load_table(spark, sf_dir, "documents").select(
                F.col("doc_id").alias("_did"),
                F.format_string("%012d", F.col("doc_id")).alias("url"),
                F.array_join(F.slice(toks, 1, TITLE_LEN), " ").alias("title"),
                F.array_join(
                    # length = size(toks): an INT_MAX literal overflows
                    # start+length inside slice and silently yields []
                    F.slice(toks, TITLE_LEN + 1, F.size(toks)), " "
                ).alias("body"),
            )
            cut = int(
                pages.agg(
                    F.expr("percentile(_did, 0.66)").alias("c")
                ).collect()[0]["c"]
            )
            build_index(
                spark,
                pages.filter(F.col("_did") <= cut).drop("_did"),
                base,
                bucket_size=1000,
                fields=[("title", "title"), ("body", "body")],
            )
            append_index(spark, pages.filter(F.col("_did") > cut).drop("_did"), base)
        _FIELDED_IDX_BUILT.add(base)
    return base


def _field_postings(spark: SparkSession, s, terms: list[str]) -> DataFrame:
    """(term, doc_id, tf, doclen) rows for the query terms, decoded
    DISTRIBUTED from a field index's pruned segment scan. Never a
    driver-side candidate collect: a query term's match set is corpus-scale
    (`explain`'s candidates contract is top-k-small, so it cannot carry
    this), while the pruned scan ships only the query terms' blocks and the
    decode emits posting rows executor-side."""
    import numpy as np
    import pandas as pd

    from colbert_spark.index.codec import decode_block

    out_schema = "term string, doc_id long, tf long, doclen long"
    resolved = s._lookup_terms(sorted(set(terms)))
    tid2term = {hit[0]: t for t, hit in resolved.items() if hit is not None}
    if not tid2term:
        return spark.createDataFrame([], out_schema)
    prefixed = s.stats.get("segver", 2) >= 3
    scan = s.pruned_scan(sorted(tid2term)).select(
        "term_id", "doc_bytes", "tf_bytes", "dl_bytes"
    )
    bc = spark.sparkContext.broadcast(tid2term)

    def fn(batches):
        m = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            t_l, d_l, f_l, l_l = [], [], [], []
            for r in pdf.itertuples(index=False):
                docs = np.cumsum(decode_block(r.doc_bytes, prefixed))
                t_l.append(np.full(len(docs), r.term_id, dtype=np.int64))
                d_l.append(docs)
                f_l.append(decode_block(r.tf_bytes, prefixed))
                l_l.append(decode_block(r.dl_bytes, prefixed))
            if t_l:
                tid = np.concatenate(t_l)
                yield pd.DataFrame(
                    {
                        "term": [m[int(x)] for x in tid],
                        "doc_id": np.concatenate(d_l),
                        "tf": np.concatenate(f_l).astype("int64"),
                        "doclen": np.concatenate(l_l).astype("int64"),
                    }
                )

    return scan.mapInPandas(fn, out_schema)


def fts_bm25f_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_bm25f` answered from ONE fielded index directory
    (`build_index(fields=...)`): every field's (tf, fieldlen) statistics
    decode DISTRIBUTED from the SAME pruned segment scan — the query terms
    are field-qualified (f"{field}\\x1f{term}") so one `_field_postings`
    pass ships both fields' blocks; per-field avgdl reads from the single
    stats.json; catch-all idf (docs containing the term in ANY field — the
    copy-to field practice) is an exact distinct-count over the already
    pruned posting rows, never a second index. The BM25F combination is a
    declarative join/agg. Shares `fts_bm25f`'s oracle, proving one fielded
    physical index reproduces a fresh two-field corpus recount."""
    from collections import Counter

    from colbert_spark.functions.tokenizer import py_tokenize
    from colbert_spark.index.build import FIELD_SEP
    from colbert_spark.query.wand import IndexSearcher

    idx = _fielded_index_dir(spark, sf_dir)
    s = IndexSearcher(spark, idx)
    base_terms = sorted({t for _, q in DOC_QUERIES for t in py_tokenize(q)})
    qualified = [f + FIELD_SEP + t for f in sorted(BM25F_FIELDS) for t in base_terms]
    posts = _field_postings(spark, s, qualified).select(
        F.substring_index("term", FIELD_SEP, 1).alias("field"),
        F.substring_index("term", FIELD_SEP, -1).alias("term"),
        F.col("doc_id").alias("idx_doc"),
        "tf",
        "doclen",  # the dl stream of a fielded index IS the field length
    )
    posts = posts.persist()

    fstats = s.stats["fields"]
    avg_map = F.create_map(
        *[x for f in BM25F_FIELDS for x in (F.lit(f), F.lit(float(fstats[f]["avgdl"])))]
    )
    w_map = F.create_map(
        *[x for f, w in BM25F_FIELDS.items() for x in (F.lit(f), F.lit(float(w)))]
    )
    b_map = F.create_map(
        *[x for f, bf in BM25F_B.items() for x in (F.lit(f), F.lit(float(bf)))]
    )
    fld = F.col("field")
    norm = F.lit(1.0) - b_map[fld] + b_map[fld] * F.col("doclen") / avg_map[fld]
    pseudo = (
        posts.select(
            "term", "idx_doc", (w_map[fld] * F.col("tf") / norm).alias("wtf")
        )
        .groupBy("term", "idx_doc")
        .agg(F.sum("wtf").alias("tfp"))
    )

    # catch-all df from the pruned posting rows themselves: a doc counts
    # once however many fields the term hits (exact two-phase distinct)
    dfr = (
        posts.select("term", "idx_doc")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = int(s.stats["N"])
    qt_rows = []
    for qid, q in DOC_QUERIES:
        for t, n in sorted(Counter(py_tokenize(q)).items()):
            qt_rows.append((qid, t, n))
    qt = spark.createDataFrame(qt_rows, "qid long, term string, qtf long")

    idf = idf_col(n_docs)
    k1 = K1_DEFAULT
    contrib = F.col("qtf") * idf * F.col("tfp") * (k1 + 1.0) / (F.col("tfp") + k1)
    back = spark.read.parquet(_index_docs_path(idx)).select(
        F.col("doc_id").alias("idx_doc"),
        F.col("url").cast("long").alias("doc_id"),
    )
    agg = (
        pseudo.join(F.broadcast(qt), "term")  # fan one tfp table out per qid
        .join(F.broadcast(dfr), "term")
        .withColumn("contrib", contrib)
        .groupBy("qid", "idx_doc")
        .agg(F.sum("contrib").alias("score"))
        .join(F.broadcast(back), "idx_doc")  # index ids → table ids for ranking
        .select("qid", "doc_id", "score")
    )
    return _rank_topk(agg)


ORACLES["fts_bm25f_index"] = ORACLES["fts_bm25f"]
QUERIES["fts_bm25f_index"] = fts_bm25f_index


# ---------------------------------------------------------------------------
# regexp term queries — Lucene RegexpQuery under the scoring rewrite: each
# pattern FULL-matches vocabulary terms (Lucene anchors implicitly). The
# pattern grammar is kept to the dialect subset Java regex and RE2 share
# (character classes, '.', '*', '+', '|', grouping), so one spelling drives
# both engines; expansion is the same broadcast dictionary theta-join as
# prefix/fuzzy/wildcard, and the postings join stays term equality.

REGEXP_QUERIES = [
    (0, "d.ta"),  # data
    (1, "qu.*|w.ndow"),  # query + window
    (2, "[hj]ash|[hj]oin"),  # hash, join
    (3, "zz+"),  # matches nothing ⇒ no rows
]


def _regexp_cond(ts, qr):
    # full-match anchoring (Lucene RegexpQuery semantics)
    return F.regexp_like(ts.term, F.concat(F.lit("^("), qr.pat, F.lit(")$")))


def fts_regexp_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for REGEXP queries by corpus scan (Lucene RegexpQuery,
    scoring rewrite). Exact-semantics oracle for `fts_regexp_index`."""
    qr = spark.createDataFrame(
        [(qid, pat, 1) for qid, pat in REGEXP_QUERIES],
        "qid long, pat string, qtf long",
    )
    return _expanded_bm25_scan(spark, sf_dir, qr, _regexp_cond)


def fts_regexp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_regexp_bm25` answered from the segment index (dictionary
    expansion → batch kernel). Shares the scan oracle."""
    qr = spark.createDataFrame(
        [(qid, pat, 1) for qid, pat in REGEXP_QUERIES],
        "qid long, pat string, qtf long",
    )
    return _expanded_bm25_index(spark, sf_dir, qr, _regexp_cond)


_REGEXP_VALUES = ", ".join(f"({qid}, '{p}', 1)" for qid, p in REGEXP_QUERIES)

ORACLES["fts_regexp_bm25"] = f"""
    WITH qr(qid, pat, qtf) AS (VALUES {_REGEXP_VALUES}),
    tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qterm AS (
      SELECT qr.qid, df.term, sum(qr.qtf) AS qtf, first(df.df) AS df
      FROM qr JOIN df ON regexp_full_match(df.term, qr.pat)
      GROUP BY qr.qid, df.term),
    scored AS (
      SELECT qterm.qid::BIGINT AS qid, tf.doc_id,
             sum(qterm.qtf * ln(1 + (stats.n - qterm.df + 0.5) / (qterm.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qterm
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qterm.qid, tf.doc_id),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM scored)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

ORACLES["fts_regexp_index"] = ORACLES["fts_regexp_bm25"]
QUERIES["fts_regexp_bm25"] = fts_regexp_bm25
QUERIES["fts_regexp_index"] = fts_regexp_index


def fts_sharded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship BM25 by SCATTER-GATHER over the two independent half-corpus
    shard indexes (`query/wand.py:sharded_bm25_topk`): each shard prices its
    local top-k with GLOBAL statistics (summed df, global N and avgdl — the
    distributed-IDF protocol), then the per-shard rankings merge. Shares
    `fts_bm25_topk`'s oracle, so the value-hash compare proves federation is
    exact, not approximate — the serving dual of `fts_merged_index`."""
    from colbert_spark.query.wand import sharded_bm25_topk

    a, b_ = _shard_index_dirs(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = sharded_bm25_topk(spark, [a, b_], queries, k=TOPK + 5)
    mapped = hits.select(
        "qid", F.col("url").cast("long").alias("doc_id"), "score"
    )
    return _rank_topk(mapped)


ORACLES["fts_sharded_search"] = ORACLES["fts_bm25_topk"]
QUERIES["fts_sharded_search"] = fts_sharded_search


def fts_sharded_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship BM25 by the POINT-SERVING federation
    (`query/wand.py:ShardedSearcher.search_point`): one resident service
    over the two half-corpus shards, each question fanned out CONCURRENTLY
    to the shards' driver-side point paths and merged by (score, url).
    Shares `fts_bm25_topk`'s oracle, so the value-hash compare proves the
    production serving shape (concurrent scatter + resident caches) is
    exactly the batch federation's ranking — the reference's resident
    server (``dense_server_client.py:21-66``) generalized to N shards."""
    from colbert_spark.query.wand import ShardedSearcher

    a, b_ = _shard_index_dirs(spark, sf_dir)
    svc = ShardedSearcher(spark, [a, b_])
    try:
        rows = []
        for qid, q in DOC_QUERIES:
            pt = svc.search_point(q, k=TOPK + 5)
            rows.extend(
                (int(qid), int(r.url), float(r.score)) for r in pt.itertuples()
            )
    finally:
        svc._pool.shutdown(wait=True)
    if not rows:
        hits = spark.createDataFrame([], "qid long, doc_id long, score double")
    else:
        hits = spark.createDataFrame(rows, "qid long, doc_id long, score double")
    return _rank_topk(hits)


ORACLES["fts_sharded_point"] = ORACLES["fts_bm25_topk"]
QUERIES["fts_sharded_point"] = fts_sharded_point


def fts_stored_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_sort_by_attr` served WHOLLY from the index: the match set from
    `matching_docs` and the sort attribute from the docs sink's STORED
    FIELDS (`build_index(stored_cols=...)` — Lucene stored fields / doc
    values), zero touches of the source table at query time. Shares
    `fts_sort_by_attr`'s oracle, proving the stored column round-trips the
    build (and every append/expunge/merge) verbatim."""
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    queries = spark.createDataFrame(DOC_QUERIES, "qid long, question string")
    hits = IndexSearcher(spark, idx).matching_docs(queries)
    sink = spark.read.parquet(_index_docs_path(idx)).select(
        F.col("doc_id").alias("idx_doc"),
        F.col("url").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        hits.withColumnRenamed("doc_id", "idx_doc")
        .join(sink, "idx_doc")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SORT_TOPK)
        .select("qid", "rank", "doc_id", "n_chars")
        .orderBy("qid", "rank")
    )


ORACLES["fts_stored_sort"] = ORACLES["fts_sort_by_attr"]
QUERIES["fts_stored_sort"] = fts_stored_sort


# ---------------------------------------------------------------------------
# prefix autocomplete — search-as-you-type (Lucene suggest/completion): each
# typed prefix completes to the top-COMPLETE_K vocabulary terms ranked by
# (df DESC, term ASC). The index path is DICTIONARY-ONLY (no postings touch);
# at scale the sorted dictionary range-scans the prefix slice.

COMPLETE_PREFIXES = [(0, "s"), (1, "qu"), (2, "c"), (3, "zz")]  # zz → no rows
COMPLETE_K = 3


def fts_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix completion by corpus scan: exact-semantics oracle for
    `fts_complete_index`."""
    docs = _docs(spark, sf_dir)
    posts = (
        docs.select("doc_id", F.explode(F.array_distinct("terms")).alias("term"))
    )
    tstats = posts.groupBy("term").agg(F.count("*").alias("df"))
    qp = spark.createDataFrame(COMPLETE_PREFIXES, "qid long, prefix string")
    cand = tstats.join(F.broadcast(qp), tstats.term.startswith(qp.prefix))
    w = Window.partitionBy("qid").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= COMPLETE_K)
        .select("qid", "prefix", "rank", "term", F.col("df").cast("long").alias("df"))
        .orderBy("qid", "rank")
    )


def fts_complete_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_complete` answered from the index's term DICTIONARY alone —
    zero postings decode, the completion-suggester serving shape. Shares
    the scan oracle (the df compare re-proves the committed dictionary).

    Scale shape: `startswith(p)` is rewritten as the SORTABLE range
    `term >= p AND term < p || '\\uffff'` ('\\uffff' sorts above every
    grammar character), applied twice — once as a pushable literal
    DISJUNCTION over the batch's prefixes (reaches the parquet scan, and
    because `write_term_dict` lays the dictionary out range-sorted by term,
    prunes whole files/row-groups via min/max stats), then as the
    equivalent range theta-join condition to tag each row's qid. A 10^9-term
    vocabulary scans only the matching lexicographic slices."""
    import os

    idx = _positional_index_dir(spark, sf_dir)
    td = spark.read.parquet(os.path.join(idx, "term_dict")).select("term", "df")
    cond = None
    for _, p in COMPLETE_PREFIXES:
        c = (F.col("term") >= p) & (F.col("term") < p + "￿")
        cond = c if cond is None else (cond | c)
    qp = spark.createDataFrame(COMPLETE_PREFIXES, "qid long, prefix string")
    pruned = td.filter(cond)
    cand = pruned.join(
        F.broadcast(qp),
        (pruned.term >= qp.prefix)
        & (pruned.term < F.concat(qp.prefix, F.lit("￿"))),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= COMPLETE_K)
        .select("qid", "prefix", "rank", "term", F.col("df").cast("long").alias("df"))
        .orderBy("qid", "rank")
    )


_COMPLETE_VALUES = ", ".join(f"({q}, '{p}')" for q, p in COMPLETE_PREFIXES)

ORACLES["fts_complete"] = f"""
    WITH qp(qid, prefix) AS (VALUES {_COMPLETE_VALUES}),
    tok AS (SELECT DISTINCT doc_id, unnest({_TOK}) AS term FROM documents),
    df AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
    cand AS (
      SELECT qp.qid, qp.prefix, df.term, df.df,
             row_number() OVER (PARTITION BY qp.qid ORDER BY df.df DESC, df.term) AS rank
      FROM qp JOIN df ON df.term LIKE qp.prefix || '%')
    SELECT qid, prefix, rank::BIGINT AS rank, term, df::BIGINT AS df
    FROM cand WHERE rank <= {COMPLETE_K}
"""

ORACLES["fts_complete_index"] = ORACLES["fts_complete"]
QUERIES["fts_complete"] = fts_complete
QUERIES["fts_complete_index"] = fts_complete_index


# ---------------------------------------------------------------------------
# Query-string search (the Lucene classic subset, query/parser.py +
# query/qstring.py): one STRING per query, exercising the whole language —
# plain SHOULD, +MUST/-MUST_NOT, AND promotion, ^boost-as-qtf, scored
# wildcard expansion, required-wildcard OR-groups, [lo TO hi] ranges,
# excluded wildcards, and a required wildcard with no expansion (matches
# nothing). The reference exposes retrieval programmatically
# (awutils/search_utils.py); a query language is the engine-surface analog
# every production FTS ships (ES `query_string`). The DuckDB oracle encodes
# the DOCUMENTED compilation of each string (parsing is deterministic and
# covered by pure pytest), so the value-hash compare proves expansion +
# boolean algebra + weighted BM25 end-to-end across engines.
QS_QUERIES = [
    (0, "hash join"),          # plain disjunctive BM25
    (1, "hash +join -slow"),   # MUST + MUST_NOT
    (2, "merge AND sort"),     # AND promotes both operands to MUST
    (3, "data^3 stream"),      # integer boost = query-side tf
    (4, "b*"),                 # scored wildcard (batch, big)
    (5, "stream +c*"),         # required wildcard = one OR-group
    (6, "[merge TO query]"),   # inclusive dictionary range
    (7, "window -s*"),         # excluded wildcard (every s… term)
    (8, "vector +zz*"),        # required wildcard, zero expansions → dead
]


def fts_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/wildcard query strings answered from the SEGMENT INDEX via
    the compiled structured channels (`IndexSearcher.search_compiled`):
    driver-side parse + LRU'd range-pruned dictionary expansion, then ONE
    pruned-scan kernel plan for the whole batch. Over-fetch k+5 and re-rank
    the oracle's way (round-9 score), same as `fts_bm25_index`."""
    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    s = IndexSearcher(spark, idx)
    hits = search_query_strings(s, QS_QUERIES, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


# phrase-clause query strings: a PURE phrase scores as Lucene PhraseQuery
# (tf = occurrence count, idf = Σ idf(tokenᵢ)); in MIXED queries a phrase
# (or two-token ~slop NEAR) is a FILTER — scoring comes from the scored
# clauses, the match set stays distributed through the cogrouped filtered
# kernel.
QSP_QUERIES = [
    (0, '"hash join"'),             # pure phrase → PhraseQuery scoring
    (1, 'window "hash join"'),      # phrase as filter, scored term ranks
    (2, 'filter "data stream"~4'),  # sloppy pair: 2 distinct tokens within
    #  2+4 consecutive positions (uniform k+slop rule ⇒ NEAR |Δpos| ≤ 5)
]


def fts_query_string_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-clause query strings from the POSITIONAL SEGMENT INDEX: one
    positional scan resolves every phrase/NEAR filter in the batch into
    per-qid allowed sets (never collected), one cogrouped filtered kernel
    ranks the scored clauses, and the pure-phrase query batches through
    `phrase_bm25`."""
    from colbert_spark.query.phrase import PositionalSearcher
    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    s = IndexSearcher(spark, idx)
    pos = PositionalSearcher(spark, idx)
    hits = search_query_strings(s, QSP_QUERIES, k=TOPK + 5, positional=pos)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


# The oracle encodes each string's documented compilation: sq = static
# scored terms (weight = boost), swc/sr = scored wildcard/range patterns
# expanded against the corpus vocabulary IN SQL, rt/rp = require groups
# (≥1 term of EVERY group, no score contribution beyond the scored list),
# xt/xp = must_not. A require group with zero expansions (qid 8) matches no
# document — its qid never satisfies count(groups) and drops out.
ORACLES["fts_query_string"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    vocab AS (SELECT term FROM df),
    sq(qid, term, w) AS (VALUES
      (0,'hash',1),(0,'join',1),(1,'hash',1),(1,'join',1),
      (2,'merge',1),(2,'sort',1),(3,'data',3),(3,'stream',1),
      (5,'stream',1),(7,'window',1),(8,'vector',1)),
    swc(qid, pat, w) AS (VALUES (4,'b%',1),(5,'c%',1)),
    sr(qid, lo, hi, w) AS (VALUES (6,'merge','query',1)),
    qtf AS (
      SELECT qid, term, sum(w) AS qtf FROM (
        SELECT qid, term, w FROM sq
        UNION ALL
        SELECT s.qid, v.term, s.w FROM swc s JOIN vocab v ON v.term LIKE s.pat
        UNION ALL
        SELECT s.qid, v.term, s.w FROM sr s
        JOIN vocab v ON v.term BETWEEN s.lo AND s.hi
      ) GROUP BY qid, term),
    rt(qid, gidx, term) AS (VALUES (1,0,'join'),(2,0,'merge'),(2,1,'sort')),
    rp(qid, gidx, pat) AS (VALUES (5,0,'c%'),(8,0,'zz%')),
    rg_terms AS (
      SELECT qid, gidx, term FROM rt
      UNION ALL
      SELECT r.qid, r.gidx, v.term FROM rp r JOIN vocab v ON v.term LIKE r.pat),
    ngroups AS (
      SELECT qid, count(DISTINCT gidx) AS n
      FROM (SELECT qid, gidx FROM rt UNION ALL SELECT qid, gidx FROM rp)
      GROUP BY qid),
    doc_groups AS (
      SELECT DISTINCT g.qid, g.gidx, p.doc_id
      FROM rg_terms g JOIN tf p USING (term)),
    req_ok AS (
      SELECT d.qid, d.doc_id FROM doc_groups d JOIN ngroups n USING (qid)
      GROUP BY d.qid, d.doc_id, n.n
      HAVING count(DISTINCT d.gidx) = n.n),
    xt(qid, term) AS (VALUES (1,'slow')),
    xp(qid, pat) AS (VALUES (7,'s%')),
    x_terms AS (
      SELECT qid, term FROM xt
      UNION ALL
      SELECT x.qid, v.term FROM xp x JOIN vocab v ON v.term LIKE x.pat),
    banned AS (
      SELECT DISTINCT x.qid, p.doc_id FROM x_terms x JOIN tf p USING (term)),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id),
    filtered AS (
      SELECT s.qid, s.doc_id, s.score FROM scored s
      LEFT JOIN ngroups g ON s.qid = g.qid
      LEFT JOIN req_ok r ON s.qid = r.qid AND s.doc_id = r.doc_id
      LEFT JOIN banned b ON s.qid = b.qid AND s.doc_id = b.doc_id
      WHERE b.doc_id IS NULL AND (g.qid IS NULL OR r.doc_id IS NOT NULL)),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM filtered)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

# per-qid branches: q0 = PhraseQuery scoring over exact-bigram occurrences,
# q1 = BM25('window') restricted to phrase docs, q2 = BM25('filter')
# restricted to the ~4 sloppy-pair docs (uniform k+slop convention:
# span ≤ 2+4 ⇔ |Δpos| ≤ 5 on positions)
ORACLES["fts_query_string_phrase"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    toks AS (SELECT doc_id, {_TOK} AS tok FROM documents),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(tok)),
                    i -> {{'p': i, 'term': tok[i]}}), recursive := true)
      FROM toks),
    phr AS (
      SELECT a.doc_id, count(*) AS n_occ
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      WHERE a.term = 'hash' AND b.term = 'join'
      GROUP BY a.doc_id),
    idf0 AS (
      SELECT sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))) AS idf_sum
      FROM df CROSS JOIN stats WHERE df.term IN ('hash', 'join')),
    s0 AS (
      SELECT 0::BIGINT AS qid, phr.doc_id,
             idf0.idf_sum * phr.n_occ * ({K1_DEFAULT} + 1.0)
               / (phr.n_occ + {K1_DEFAULT}
                  * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl)) AS score
      FROM phr JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idf0),
    s1 AS (
      SELECT 1::BIGINT AS qid, tf.doc_id,
             ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({K1_DEFAULT} + 1.0)
               / (tf.tf + {K1_DEFAULT}
                  * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl)) AS score
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      WHERE tf.term = 'window' AND tf.doc_id IN (SELECT doc_id FROM phr)),
    near2 AS (
      SELECT DISTINCT a.doc_id
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND abs(a.p - b.p) <= 5
      WHERE a.term = 'data' AND b.term = 'stream'),
    s2 AS (
      SELECT 2::BIGINT AS qid, tf.doc_id,
             ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * ({K1_DEFAULT} + 1.0)
               / (tf.tf + {K1_DEFAULT}
                  * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl)) AS score
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      WHERE tf.term = 'filter' AND tf.doc_id IN (SELECT doc_id FROM near2)),
    all_s AS (
      SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM all_s)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

QUERIES["fts_query_string"] = fts_query_string
QUERIES["fts_query_string_phrase"] = fts_query_string_phrase


# fuzzy query strings (Lucene FuzzyQuery, `term~N` in the classic syntax —
# parser.py `_FUZZ`, wand.py `expand_fuzzy`): each fuzzy clause expands
# against the dictionary by threshold-bounded Levenshtein (length-band +
# `levenshtein(term, q, n)` pushed into ONE dictionary scan), then flows
# through the same scored/require/exclude compilation as wildcards. The
# set exercises: misspelling rescue (hsah~ → hash), multi-term expansion
# scored individually (hash~2 → {fast, hash}), a REQUIRED fuzzy as one
# OR-group (+merg~1), an excluded fuzzy (-sorrt~1), ^boost-as-qtf on the
# expansions, and a required fuzzy with no expansion (dead query).
QSF_QUERIES = [
    (0, "hsah~"),            # misspelling, default distance 2 → {hash}
    (1, "hash~2 stream"),    # fuzzy multi-expansion {fast, hash} + term
    (2, "+merg~1 data"),     # required fuzzy group {merge}; data scored
    (3, "window -sorrt~1"),  # excluded fuzzy {sort}
    (4, "strem~2^3"),        # boosted fuzzy: {stream} at weight 3
    (5, "+cache~2 row"),     # required fuzzy, zero expansions → dead
]


def fts_query_string_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy query strings answered from the SEGMENT INDEX: driver-side
    parse, one LRU'd length-banded Levenshtein dictionary scan per novel
    (term, n), one `search_compiled` plan for the batch (same re-rank
    protocol as `fts_query_string`)."""
    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher

    idx = _positional_index_dir(spark, sf_dir)
    s = IndexSearcher(spark, idx)
    hits = search_query_strings(s, QSF_QUERIES, k=TOPK + 5)
    mapped = _map_index_docs(
        spark, idx, hits.select("qid", "doc_id", "score"), "qid", "score"
    )
    return _rank_topk(mapped)


# the oracle expands each fuzzy clause with DuckDB's levenshtein over the
# corpus vocabulary — the engine's documented compilation, independently
# computed: fz = scored fuzzy clauses, rf = require groups (all expansions
# of a MUST fuzzy), xf = excluded. qid 5's require group expands to zero
# terms, so no document satisfies it and the qid drops out.
ORACLES["fts_query_string_fuzzy"] = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    dl AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    vocab AS (SELECT term FROM df),
    sq(qid, term, w) AS (VALUES
      (1,'stream',1),(2,'data',1),(3,'window',1),(5,'row',1)),
    fz(qid, q, n, w) AS (VALUES
      (0,'hsah',2,1),(1,'hash',2,1),(2,'merg',1,1),(4,'strem',2,3)),
    qtf AS (
      SELECT qid, term, sum(w) AS qtf FROM (
        SELECT qid, term, w FROM sq
        UNION ALL
        SELECT f.qid, v.term, f.w FROM fz f
        JOIN vocab v ON levenshtein(v.term, f.q) <= f.n
      ) GROUP BY qid, term),
    rf(qid, gidx, q, n) AS (VALUES (2,0,'merg',1),(5,0,'cache',2)),
    rg_terms AS (
      SELECT r.qid, r.gidx, v.term FROM rf r
      JOIN vocab v ON levenshtein(v.term, r.q) <= r.n),
    ngroups AS (SELECT qid, count(DISTINCT gidx) AS n FROM rf GROUP BY qid),
    doc_groups AS (
      SELECT DISTINCT g.qid, g.gidx, p.doc_id
      FROM rg_terms g JOIN tf p USING (term)),
    req_ok AS (
      SELECT d.qid, d.doc_id FROM doc_groups d JOIN ngroups n USING (qid)
      GROUP BY d.qid, d.doc_id, n.n
      HAVING count(DISTINCT d.gidx) = n.n),
    xf(qid, q, n) AS (VALUES (3,'sorrt',1)),
    x_terms AS (
      SELECT x.qid, v.term FROM xf x
      JOIN vocab v ON levenshtein(v.term, x.q) <= x.n),
    banned AS (
      SELECT DISTINCT x.qid, p.doc_id FROM x_terms x JOIN tf p USING (term)),
    scored AS (
      SELECT qtf.qid::BIGINT AS qid, tf.doc_id,
             sum(qtf.qtf * ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                 * tf.tf * ({K1_DEFAULT} + 1.0)
                 / (tf.tf + {K1_DEFAULT} * (1.0 - {B_DEFAULT} + {B_DEFAULT} * dl.doclen / stats.avgdl))
             ) AS score
      FROM qtf
      JOIN df USING (term)
      JOIN tf USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY qtf.qid, tf.doc_id),
    filtered AS (
      SELECT s.qid, s.doc_id, s.score FROM scored s
      LEFT JOIN ngroups g ON s.qid = g.qid
      LEFT JOIN req_ok r ON s.qid = r.qid AND s.doc_id = r.doc_id
      LEFT JOIN banned b ON s.qid = b.qid AND s.doc_id = b.doc_id
      WHERE b.doc_id IS NULL AND (g.qid IS NULL OR r.doc_id IS NOT NULL)),
    ranked AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY round(score, 9) DESC, doc_id) AS rank
      FROM filtered)
    SELECT qid, rank::BIGINT AS rank, doc_id, round(score, 4) AS score_r
    FROM ranked WHERE rank <= {TOPK}
"""

QUERIES["fts_query_string_fuzzy"] = fts_query_string_fuzzy


def fts_sharded_qstring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean/wildcard/range query-string set (QS_QUERIES) answered by
    the 2-shard FEDERATION (`ShardedSearcher.search_strings`): clauses
    expand against the union of the shard dictionaries, scoring prices with
    global statistics, require/exclude algebra runs per shard. Shares
    `fts_query_string`'s oracle — the value-hash compare proves the full
    query language federates exactly."""
    from colbert_spark.query.wand import ShardedSearcher

    a, b_ = _shard_index_dirs(spark, sf_dir)
    svc = ShardedSearcher(spark, [a, b_])
    hits = svc.search_strings(QS_QUERIES, k=TOPK + 5)
    mapped = hits.select(
        "qid", F.col("url").cast("long").alias("doc_id"), "score"
    )
    return _rank_topk(mapped)


ORACLES["fts_sharded_qstring"] = ORACLES["fts_query_string"]
QUERIES["fts_sharded_qstring"] = fts_sharded_qstring
