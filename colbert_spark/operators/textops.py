"""Text-analysis operators over `documents`: quality scoring, language-ID
heuristic, token counting, document fingerprinting. All JVM-side expressions
(higher-order array functions), each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colbert_spark.functions.tokenizer import duckdb_tokens_sql, tokens_col
from colbert_spark.query.bm25 import idf_col
from colbert_spark.sources.tables import load_table

STOPWORDS = ("the", "a", "of", "and", "to", "in")
LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "los", "y", "que"),
    "fr": ("le", "la", "les", "et", "est"),
}
_TOK = duckdb_tokens_sql("text")


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token count, mean token length, stopword
    ratio, alnum char ratio — the webtext quality-filter feature set."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n_tok = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.when(n_tok > 0, F.round(tok_chars / n_tok, 6)).otherwise(0.0).alias("mean_tok_len"),
        F.when(n_tok > 0, F.round(n_stop / n_tok, 6)).otherwise(0.0).alias("stopword_ratio"),
        F.round(tok_chars / F.greatest(F.length("text"), F.lit(1)), 6).alias("alnum_ratio"),
    ).orderBy("doc_id")


def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker counts with
    deterministic tie-break (marker count desc, language asc), 'und' if no
    marker hits. Synthetic corpora mostly hit 'en' — determinism is the
    contract, not linguistic accuracy."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    def marker_count(markers):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = [
        marker_count(markers).alias(f"s_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select("doc_id", "lang", *scores)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:  # first (alphabetical) language achieving the max wins
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id", F.col("lang").alias("tagged_lang"), pred.alias("pred_lang")
    ).orderBy("doc_id")


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation document fingerprint: min md5 over 4-token windows —
    a content-defined signature stable under doc reordering in the table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 3, F.lit(0)))
    windows = F.when(
        F.size(toks) >= 4,
        F.transform(
            idx,
            lambda i: F.md5(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(4)]
                ).cast("binary")
            ),
        ),
    ).otherwise(F.array(F.md5(F.col("text").cast("binary"))))
    return docs.select(
        "doc_id", F.array_min(windows).alias("fingerprint")
    ).orderBy("doc_id")


BPE_CHUNK = 4  # BPE-ish budget: a word costs ceil(len/4) subword tokens


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting for training-data budgeting: whitespace tokens,
    grammar tokens (the engine tokenizer), and a BPE-ish subword estimate
    (Σ ceil(len(term)/4) — the ~4-chars-per-token heuristic). All JVM
    expressions; at 100 TB this is a single scan with no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    ws = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    bpe = F.aggregate(
        F.transform(toks, lambda t: F.ceil(F.length(t) / BPE_CHUNK)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        F.when(F.length(F.trim(F.col("text"))) > 0, ws).otherwise(0).cast("long").alias("ws_tokens"),
        F.size(toks).cast("long").alias("grammar_tokens"),
        bpe.alias("bpe_tokens"),
    ).orderBy("doc_id")


def quality_buckets_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus curation: assign each document a head/middle/tail
    bucket by quality score tercile WITHIN its language partition (per-lang
    thresholds keep low-resource languages from being crowded out by a
    global cutoff — the reason CCNet buckets per language). Score is the
    stopword ratio (a fluency proxy on this synthetic corpus); ranking is
    deterministic via the (score desc, doc_id) NTILE order. At scale this is
    one shuffle on `lang` and per-partition ranking — no global sort."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    score = F.when(n_tok > 0, F.round(n_stop / n_tok, 6)).otherwise(0.0)
    w = Window.partitionBy("lang").orderBy(F.desc("q_score"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", score.alias("q_score"))
        .withColumn("tercile", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "q_score",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("tercile"),
            ).alias("bucket"),
        )
        .orderBy("doc_id")
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter features: the fraction of bigram mass
    held by the single most frequent bigram, and the fraction of trigram
    mass in trigrams that repeat within the document — the two signals the
    Gopher quality rules threshold to drop boilerplate/spam pages. Exact,
    one shuffle keyed (doc_id, gram): n-gram extraction is a JVM
    `transform(sequence(...))` (no Python), counts are partial-aggregated
    map-side, and the per-doc reduction is a second small agg on doc_id."""

    def grams(n: int) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        parts = ", ' ', ".join(f"element_at(toks, i + {j})" for j in range(n))
        return (
            docs.select("doc_id", tokens_col("text").alias("toks"))
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, greatest(size(toks) - {n - 1}, 0)),"
                        f" i -> concat({parts}))"
                    )
                ).alias("gram"),
            )
            .groupBy("doc_id", "gram")
            .count()
        )

    top_bigram = grams(2).groupBy("doc_id").agg(
        F.round(F.max("count") / F.sum("count"), 6).alias("frac_top_bigram")
    )
    dup_trigram = grams(3).groupBy("doc_id").agg(
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("count") >= 2, F.col("count"))), F.lit(0)
            )
            / F.sum("count"),
            6,
        ).alias("frac_dup_trigram")
    )
    base = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        base.join(top_bigram, "doc_id", "left")
        .join(dup_trigram, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("frac_top_bigram", F.lit(0.0)).alias("frac_top_bigram"),
            F.coalesce("frac_dup_trigram", F.lit(0.0)).alias("frac_dup_trigram"),
        )
        .orderBy("doc_id")
    )


def _marker_sql(lang: str) -> str:
    quoted = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter({_TOK}, t -> t IN ({quoted})))"


_LANGS = sorted(LANG_MARKERS)
_PRED_CASE = (
    "CASE WHEN best = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in _LANGS)
    + " END"
)

ORACLES = {
    "text_quality": f"""
        WITH feat AS (
          SELECT doc_id, text, {_TOK} AS toks FROM documents),
        agg AS (
          SELECT doc_id, text, len(toks) AS n_tokens,
                 list_sum(list_transform(toks, t -> len(t))) AS tok_chars,
                 len(list_filter(toks, t -> t IN {STOPWORDS!r})) AS n_stop
          FROM feat)
        SELECT doc_id, n_tokens::BIGINT AS n_tokens,
               CASE WHEN n_tokens > 0 THEN round(tok_chars / n_tokens::DOUBLE, 6) ELSE 0.0 END AS mean_tok_len,
               CASE WHEN n_tokens > 0 THEN round(n_stop / n_tokens::DOUBLE, 6) ELSE 0.0 END AS stopword_ratio,
               round(coalesce(tok_chars, 0) / greatest(len(text), 1)::DOUBLE, 6) AS alnum_ratio
        FROM agg ORDER BY doc_id
    """,
    "langid_heuristic": f"""
        WITH scored AS (
          SELECT doc_id, lang,
                 {", ".join(f"{_marker_sql(lang)} AS s_{lang}" for lang in _LANGS)}
          FROM documents),
        best AS (
          SELECT *, greatest({", ".join(f"s_{lang}" for lang in _LANGS)}) AS best
          FROM scored)
        SELECT doc_id, lang AS tagged_lang, {_PRED_CASE} AS pred_lang
        FROM best ORDER BY doc_id
    """,
    "doc_fingerprint": f"""
        WITH t AS (SELECT doc_id, text, {_TOK} AS toks FROM documents),
        fp AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 4 THEN
                   list_min(list_transform(
                     generate_series(1, greatest(len(toks) - 3, 0)),
                     i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
                 ELSE md5(text) END AS fingerprint
          FROM t)
        SELECT doc_id, fingerprint FROM fp ORDER BY doc_id
    """,
}

ORACLES["token_count"] = f"""
    WITH t AS (SELECT doc_id, text, {_TOK} AS toks FROM documents)
    SELECT doc_id,
           (CASE WHEN len(trim(text)) > 0
                 THEN len(regexp_split_to_array(trim(text), '\\s+'))
                 ELSE 0 END)::BIGINT AS ws_tokens,
           len(toks)::BIGINT AS grammar_tokens,
           coalesce(list_sum(list_transform(toks, x -> ceil(len(x) / {BPE_CHUNK}.0)::BIGINT)), 0)::BIGINT AS bpe_tokens
    FROM t ORDER BY doc_id
"""

ORACLES["quality_buckets_per_lang"] = f"""
    WITH t AS (SELECT doc_id, lang, {_TOK} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) > 0
                  THEN round(len(list_filter(toks, t -> t IN {STOPWORDS!r}))
                             / len(toks)::DOUBLE, 6)
                  ELSE 0.0 END AS q_score
      FROM t),
    ranked AS (
      SELECT doc_id, lang, q_score,
             NTILE(3) OVER (PARTITION BY lang ORDER BY q_score DESC, doc_id) AS tercile
      FROM scored)
    SELECT doc_id, lang, q_score,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM ranked ORDER BY doc_id
"""

ORACLES["repetition_stats"] = f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t),
    bgc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
    bga AS (SELECT doc_id, round(max(c) / sum(c)::DOUBLE, 6) AS frac_top_bigram
            FROM bgc GROUP BY 1),
    tg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      FROM t),
    tgc AS (SELECT doc_id, gram, count(*) AS c FROM tg GROUP BY 1, 2),
    tga AS (SELECT doc_id,
                   round(coalesce(sum(c) FILTER (c >= 2), 0) / sum(c)::DOUBLE, 6)
                     AS frac_dup_trigram
            FROM tgc GROUP BY 1)
    SELECT d.doc_id,
           coalesce(bga.frac_top_bigram, 0.0) AS frac_top_bigram,
           coalesce(tga.frac_dup_trigram, 0.0) AS frac_dup_trigram
    FROM documents d
    LEFT JOIN bga ON d.doc_id = bga.doc_id
    LEFT JOIN tga ON d.doc_id = tga.doc_id
    ORDER BY d.doc_id
"""

def quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-filtering signal: each document's perplexity
    under the corpus' OWN unigram LM (p(t) = cf_t / total tokens) —
    H(doc) = (1/n)·Σ_terms tf·(ln total − ln cf), ppl = e^H. Low-ppl docs
    are head-term boilerplate, high-ppl docs are noise — the standard
    pretraining-data quality dial (CCNet buckets on exactly this score).

    Determinism contract: the per-doc float sum folds over the doc's
    DISTINCT terms in ascending-term order (array_sort + aggregate), the
    same order the DuckDB oracle's `list(c ORDER BY term)` accumulates, so
    round-6 values hash-match. Scale shape: one explode feeding two
    partial-agg exchanges (per-doc tf, corpus cf) + a vocabulary join (AQE:
    broadcast while small, skew-split at web scale); the per-doc
    collect_list is bounded by the doc's distinct-term count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("total"))
    j = tf.join(cf, "term").crossJoin(F.broadcast(total))
    contrib = F.col("tf") * (
        F.log(F.col("total")) - F.log(F.col("cf").cast("double"))
    )
    per = j.select(
        "doc_id", "tf", F.struct(F.col("term"), contrib.alias("c")).alias("s")
    )
    agg = per.groupBy("doc_id").agg(
        F.aggregate(
            F.transform(F.array_sort(F.collect_list("s")), lambda s: s["c"]),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("h_sum"),
        F.sum("tf").alias("n_tokens"),
    )
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.exp(F.col("h_sum") / F.col("n_tokens")), 6).alias("ppl_r"),
    ).orderBy("doc_id")


ORACLES_PERPLEXITY_SQL = f"""
    WITH tk AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
    cf AS (SELECT term, count(*) AS cf FROM tk GROUP BY term),
    tot AS (SELECT count(*)::DOUBLE AS total FROM tk),
    j AS (
      SELECT doc_id, term, tf,
             tf * (ln(total) - ln(cf::DOUBLE)) AS c
      FROM tf JOIN cf USING (term) CROSS JOIN tot),
    agg AS (
      SELECT doc_id, list_sum(list(c ORDER BY term)) AS h_sum,
             sum(tf) AS n
      FROM j GROUP BY doc_id)
    SELECT doc_id, n::BIGINT AS n_tokens, round(exp(h_sum / n), 6) AS ppl_r
    FROM agg ORDER BY doc_id
"""
ORACLES["quality_perplexity"] = ORACLES_PERPLEXITY_SQL


def fts_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf·idf (the
    MoreLikeThis interesting-terms stage applied corpus-wide — the standard
    tag/topic signal for webtext curation). idf is the BM25 idf over exact
    df; ranking on round-9 score with ascending-term tie-break keeps the
    cut deterministic in both engines. Shape: one explode → (doc, term) tf
    partial-agg → vocabulary-grain df agg → AQE-planned join → per-doc
    window (key = doc_id, never skewed)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    scored = tf.join(df_tbl, "term").withColumn(
        "score", F.col("tf").cast("double") * idf_col(n_docs)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round(F.col("score"), 9)), F.asc("term")
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= 3)
        .select(
            "doc_id", "kw_rank", "term", F.round("score", 6).alias("score_r")
        )
        .orderBy("doc_id", "kw_rank")
    )


ORACLES_KEYWORDS_SQL = f"""
    WITH tk AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term,
             tf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY round(score, 9) DESC, term ASC
             ) AS kw_rank
      FROM scored)
    SELECT doc_id, kw_rank::BIGINT AS kw_rank, term,
           round(score, 6) AS score_r
    FROM ranked WHERE kw_rank <= 3 ORDER BY doc_id, kw_rank
"""
ORACLES["fts_keywords"] = ORACLES_KEYWORDS_SQL


def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture profile: per `source` (the corpus' domain axis) doc
    count, token mass and its corpus share, mean doc length, and exact-dup
    rate — the table a pretraining pipeline reweights against when
    rebalancing domain mixes (and the denominator for the deterministic
    sampling rates in `operators/curation.py`). One explode-free pass: token counts from the
    tokenizer column size, dup rate from an md5 distinct count, all
    partial-agg on the (low-cardinality, but see below) source key; a
    web-scale source axis (registered domains) stays a groupBy key of ~10^8
    — comfortably shuffle-sized, and AQE skew-splits a megadomain."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source",
            F.size(tokens_col("text")).alias("n_tok"),
            F.md5(F.col("text").cast("binary")).alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.countDistinct("h").alias("n_distinct"),
        )
    )
    total = per_source.agg(F.sum("tokens").alias("t")).collect()[0]["t"] or 1
    return per_source.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tokens").cast("long").alias("tokens"),
        F.round(F.col("tokens") / F.lit(float(total)), 6).alias("token_share_r"),
        F.round(F.col("tokens") / F.col("n_docs"), 6).alias("mean_doclen_r"),
        F.round(
            (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs"), 6
        ).alias("dup_rate_r"),
    ).orderBy("source")


ORACLES_SOURCE_MIX_SQL = f"""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             sum(len({_TOK})) AS tokens,
             count(DISTINCT md5(text)) AS n_distinct
      FROM documents GROUP BY source),
    tot AS (SELECT sum(tokens)::DOUBLE AS t FROM per)
    SELECT source, n_docs::BIGINT AS n_docs, tokens::BIGINT AS tokens,
           round(tokens / t, 6) AS token_share_r,
           round(tokens / n_docs::DOUBLE, 6) AS mean_doclen_r,
           round((n_docs - n_distinct) / n_docs::DOUBLE, 6) AS dup_rate_r
    FROM per CROSS JOIN tot ORDER BY source
"""
ORACLES["source_mix"] = ORACLES_SOURCE_MIX_SQL


QUERIES = {
    "source_mix": source_mix,
    "fts_keywords": fts_keywords,
    "quality_perplexity": quality_perplexity,
    "text_quality": text_quality,
    "langid_heuristic": langid_heuristic,
    "doc_fingerprint": doc_fingerprint,
    "token_count": token_count,
    "quality_buckets_per_lang": quality_buckets_per_lang,
    "repetition_stats": repetition_stats,
}
