"""spark-submit entry point (north_rule: "runs via spark-submit --py-files on
multi-executor clusters").

Usage (cluster — via the repo-root `main.py` application file; spark-submit
has no `-m` module flag):
  zip -r colbert_spark.zip colbert_spark
  spark-submit --py-files colbert_spark.zip main.py index \
      --input /path/web_pages --output /path/index
  spark-submit --py-files colbert_spark.zip main.py query --index /path/index --questions q.txt --k 10
  spark-submit --py-files colbert_spark.zip main.py synth --output /path/web_pages --docs 100000

Locally the same commands run with `python -m colbert_spark ...` (the session
factory falls back to local[$SPARK_GRAFT_CPUS]). When launched by
spark-submit against a real master, the pre-existing session (yarn/k8s/
standalone) is reused untouched — `SparkSession.builder.getOrCreate` semantics.
"""

from __future__ import annotations

import argparse
import json
import sys


def _cmd_synth(args) -> int:
    from colbert_spark.session import get_spark
    from colbert_spark.sources.synth import write_web_pages

    spark = get_spark("colbert-synth")
    kw = {"partitions": args.partitions} if args.partitions else {}
    write_web_pages(spark, args.output, args.docs, **kw)
    print(json.dumps({"written": args.docs, "path": args.output}))
    return 0


def _cmd_index(args) -> int:
    from colbert_spark.index.build import build_index
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-index")
    web_pages = spark.read.parquet(args.input)
    stats = build_index(
        spark,
        web_pages,
        args.output,
        bucket_size=args.bucket_size,
        use_html=args.use_html,
        resume=not args.no_resume,
        positions=args.positions,
        max_doclen=args.max_doclen,
        analyzer=args.analyzer,
        reverse_dict=args.reverse_dict,
    )
    print(json.dumps(stats))
    return 0


def _cmd_merge(args) -> int:
    from colbert_spark.index.merge import merge_indexes
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-merge")
    stats = merge_indexes(
        spark, args.inputs, args.output, bucket_size=args.bucket_size
    )
    print(json.dumps(stats))
    return 0


def _cmd_append(args) -> int:
    from colbert_spark.index.build import append_index
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-append")
    new_pages = spark.read.parquet(args.input)
    stats = append_index(
        spark, new_pages, args.index, use_html=args.use_html
    )
    print(json.dumps(stats))
    return 0


def _cmd_compact(args) -> int:
    from colbert_spark.index.compact import compact_index
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-compact")
    stats = compact_index(
        spark, args.index, preserve_epochs=not args.merge_epochs,
        expunge_deletes=args.expunge_deletes,
    )
    print(json.dumps(stats))
    return 0


def _cmd_upsert(args) -> int:
    from colbert_spark.index.delete import upsert_index
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-upsert")
    pages = spark.read.parquet(args.input)
    stats = upsert_index(spark, pages, args.index, use_html=args.use_html)
    print(json.dumps(stats))
    return 0


def _cmd_delete(args) -> int:
    from colbert_spark.index.delete import delete_docs
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-delete")
    if args.doc_ids == "-":
        ids = [int(x) for x in sys.stdin.read().split()]
    else:
        with open(args.doc_ids) as f:
            ids = [int(x) for x in f.read().split()]
    stats = delete_docs(
        spark, args.index, spark.createDataFrame([(i,) for i in ids], "doc_id long")
    )
    print(json.dumps(stats))
    return 0


def _cmd_query(args) -> int:
    from colbert_spark.query.wand import IndexSearcher
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-query")
    if args.questions == "-":
        questions = [q.strip() for q in sys.stdin if q.strip()]
    else:
        with open(args.questions) as f:
            questions = [q.strip() for q in f if q.strip()]
    # Lucene-style negation: whitespace tokens prefixed '-' are must_not
    # terms ("hash join -slow"); bm25 scorer only
    def _split_neg(q: str) -> tuple[str, str | None]:
        words = q.split()
        pos = [w for w in words if not (w.startswith("-") and len(w) > 1)]
        neg = [w[1:] for w in words if w.startswith("-") and len(w) > 1]
        return " ".join(pos), (" ".join(neg) or None)

    parsed = [_split_neg(q) for q in questions]
    if any(x for _, x in parsed) and args.scorer == "bm25":
        queries = spark.createDataFrame(
            [(i, p, x) for i, (p, x) in enumerate(parsed)],
            "qid long, question string, exclude string",
        )
    else:
        queries = spark.createDataFrame(
            [(i, q) for i, q in enumerate(questions)], "qid long, question string"
        )
    if args.scorer == "lmd":
        from colbert_spark.query.lm import lm_topk_segments

        res = lm_topk_segments(
            spark, args.index, queries, k=args.k, mu=args.mu,
            as_of_epoch=args.as_of_epoch,
        )
    else:
        res = IndexSearcher(spark, args.index, as_of_epoch=args.as_of_epoch).search(
            queries, k=args.k, min_match=args.min_match, offset=args.offset
        )
    for r in res.collect():
        print(json.dumps({"qid": r["qid"], "rank": r["rank"], "doc_id": r["doc_id"], "score": r["score"]}))
    return 0


def _cmd_qsearch(args) -> int:
    """Query-string search (the Lucene classic subset, query/parser.py):
    one string per input line. One --index serves the full language
    (phrases need a positional build); several --index flags serve the
    boolean/expansion fragment scatter-gather with global statistics."""
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-qsearch")
    if args.queries == "-":
        qstrings = [q.strip() for q in sys.stdin if q.strip()]
    else:
        with open(args.queries) as f:
            qstrings = [q.strip() for q in f if q.strip()]
    rows = list(enumerate(qstrings))
    if len(args.index) > 1:
        if args.as_of_epoch is not None:
            # enforce the help text: epoch pinning is single-index only —
            # shards append independently, so one epoch number is
            # meaningless across a federation. Fail loudly rather than
            # silently serving current-epoch results.
            print(
                "error: --as-of-epoch is single-index only (shard epochs "
                "are independent); pass one --index",
                file=sys.stderr,
            )
            return 2
        from colbert_spark.query.wand import ShardedSearcher

        svc = ShardedSearcher(spark, args.index)
        for r in svc.search_strings(rows, k=args.k).collect():
            print(json.dumps(
                {"qid": r["qid"], "rank": r["rank"], "url": r["url"],
                 "score": r["score"]}
            ))
        svc.close()
        return 0
    from colbert_spark.query.qstring import search_query_strings
    from colbert_spark.query.wand import IndexSearcher

    s = IndexSearcher(spark, args.index[0], as_of_epoch=args.as_of_epoch)
    positional = None
    if s.stats.get("positions"):
        from colbert_spark.query.phrase import PositionalSearcher

        positional = PositionalSearcher(
            spark, args.index[0], as_of_epoch=args.as_of_epoch
        )
    res = search_query_strings(s, rows, k=args.k, positional=positional)
    for r in res.collect():
        print(json.dumps(
            {"qid": r["qid"], "rank": r["rank"], "doc_id": r["doc_id"],
             "score": r["score"]}
        ))
    return 0


def _cmd_stats(args) -> int:
    from colbert_spark.index.inspect import index_stats
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-stats")
    print(json.dumps(index_stats(spark, args.index, as_of_epoch=args.as_of_epoch)))
    return 0


def _cmd_fsck(args) -> int:
    from colbert_spark.index.inspect import index_fsck
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-fsck")
    res = index_fsck(spark, args.index, deep=args.deep, as_of_epoch=args.as_of_epoch)
    print(json.dumps(res))
    return 0 if res["ok"] else 1


def _cmd_phrase(args) -> int:
    from colbert_spark.query.phrase import phrase_match_segments
    from colbert_spark.session import get_spark

    spark = get_spark("colbert-phrase")
    if args.phrases == "-":
        phrases = [q.strip() for q in sys.stdin if q.strip()]
    else:
        with open(args.phrases) as f:
            phrases = [q.strip() for q in f if q.strip()]
    pdf = spark.createDataFrame(
        [(i, q) for i, q in enumerate(phrases)], "phrase_id long, phrase string"
    )
    res = phrase_match_segments(
        spark, args.index, pdf, as_of_epoch=args.as_of_epoch
    ).orderBy("phrase_id", "doc_id")
    for r in res.collect():
        print(json.dumps(
            {"phrase_id": r["phrase_id"], "doc_id": r["doc_id"], "n_occ": r["n_occ"]}
        ))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="colbert_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("synth", help="write a deterministic synthetic web_pages corpus")
    sp.add_argument("--output", required=True)
    sp.add_argument("--docs", type=int, default=10_000)
    sp.add_argument("--partitions", type=int, default=None)
    sp.set_defaults(fn=_cmd_synth)

    ip = sub.add_parser("index", help="build the inverted index over a web_pages table")
    ip.add_argument("--input", required=True, help="parquet/Iceberg web_pages path")
    ip.add_argument("--output", required=True, help="index directory")
    ip.add_argument("--bucket-size", type=int, default=100_000)
    ip.add_argument("--use-html", action="store_true", help="extract text from the html column")
    ip.add_argument("--no-resume", action="store_true", help="ignore the manifest and rebuild")
    ip.add_argument(
        "--positions",
        action="store_true",
        help="store occurrence positions in the blocks (enables phrase queries)",
    )
    ip.add_argument(
        "--max-doclen",
        type=int,
        default=None,
        help="truncate each document to its first N tokens at ingest (the "
        "reference's doc_maxlen; appends inherit the contract)",
    )
    ip.add_argument(
        "--analyzer",
        default=None,
        choices=["s_stem"],
        help="analysis chain applied after tokenization, recorded in "
        "stats.json and re-applied by every query path (S-stemmer)",
    )
    ip.add_argument(
        "--reverse-dict",
        action="store_true",
        dest="reverse_dict",
        help="write the reversed-term dictionary sidecar "
        "(ReverseStringFilter) so leading-wildcard queries range-prune",
    )
    ip.set_defaults(fn=_cmd_index)

    mg = sub.add_parser(
        "merge",
        help="fuse independently-built indexes into one (addIndexes; "
        "re-bases doc ids, sums dictionaries, re-encodes blocks — no "
        "re-tokenization)",
    )
    mg.add_argument(
        "--inputs", required=True, nargs="+", help="≥2 source index directories"
    )
    mg.add_argument("--output", required=True, help="merged index directory")
    mg.add_argument("--bucket-size", type=int, default=None)
    mg.set_defaults(fn=_cmd_merge)

    ap = sub.add_parser("append", help="incrementally add new documents to an index")
    ap.add_argument("--input", required=True, help="parquet web_pages path of NEW docs")
    ap.add_argument("--index", required=True, help="existing index directory")
    ap.add_argument("--use-html", action="store_true")
    ap.set_defaults(fn=_cmd_append)

    cp = sub.add_parser(
        "compact", help="defragment an index's segment tree (post-append maintenance)"
    )
    cp.add_argument("--index", required=True, help="existing index directory")
    cp.add_argument(
        "--merge-epochs",
        action="store_true",
        help="maximal merge across epochs (collapses time-travel history to "
        "the merged baseline e0; upgrades payloads to the tagged v3 codec)",
    )
    cp.add_argument(
        "--expunge-deletes",
        action="store_true",
        dest="expunge_deletes",
        help="physically drop tombstoned docs' postings and recompute "
        "collection statistics (forceMergeDeletes; implies --merge-epochs)",
    )
    cp.set_defaults(fn=_cmd_compact)

    up = sub.add_parser(
        "upsert", help="update-or-insert docs by url: tombstone the live "
        "version, append the new one"
    )
    up.add_argument("--input", required=True, help="parquet web_pages path")
    up.add_argument("--index", required=True)
    up.add_argument("--use-html", action="store_true")
    up.set_defaults(fn=_cmd_upsert)

    dp = sub.add_parser(
        "delete", help="tombstone doc_ids (masked from queries; physical "
        "removal at `compact --expunge-deletes`)"
    )
    dp.add_argument("--index", required=True)
    dp.add_argument(
        "--doc-ids", required=True, dest="doc_ids",
        help="whitespace-separated doc_ids file, or - for stdin",
    )
    dp.set_defaults(fn=_cmd_delete)

    qp = sub.add_parser("query", help="BM25 top-k over a built index")
    qp.add_argument("--index", required=True)
    qp.add_argument("--questions", required=True, help="text file of questions, or - for stdin")
    qp.add_argument("--k", type=int, default=10)
    qp.add_argument(
        "--offset", type=int, default=0,
        help="deep paging: skip this many ranks (bm25 scorer)",
    )
    qp.add_argument(
        "--as-of-epoch",
        type=int,
        default=None,
        dest="as_of_epoch",
        help="query the index's time-travel snapshot of this epoch (0 = base build)",
    )
    qp.add_argument(
        "--scorer", choices=["bm25", "lmd"], default="bm25",
        help="ranking model: BM25 (default) or query-likelihood Dirichlet",
    )
    qp.add_argument("--mu", type=float, default=2000.0, help="Dirichlet mu (lmd)")
    qp.add_argument(
        "--min-match", type=int, default=1, dest="min_match",
        help="rank only docs matching at least this many distinct query terms (bm25)",
    )
    qp.set_defaults(fn=_cmd_query)

    pp = sub.add_parser(
        "phrase", help="exact-phrase matches over a positional index"
    )
    pp.add_argument("--index", required=True, help="index built with --positions")
    pp.add_argument("--phrases", required=True, help="text file of phrases, or - for stdin")
    pp.add_argument(
        "--as-of-epoch", type=int, default=None, dest="as_of_epoch",
        help="query the index's time-travel snapshot of this epoch (0 = base build)",
    )
    pp.set_defaults(fn=_cmd_phrase)

    qs = sub.add_parser(
        "qsearch",
        help="Lucene query-string search (+/-/AND/NOT, ^boost, wildcards, "
        "term~N fuzzy, [lo TO hi], phrases with ~slop)",
    )
    qs.add_argument(
        "--index", action="append", required=True,
        help="index directory; repeat for scatter-gather federation "
        "(boolean/expansion fragment only)",
    )
    qs.add_argument(
        "--queries", required=True,
        help="text file of query strings, or - for stdin",
    )
    qs.add_argument("--k", type=int, default=10)
    qs.add_argument(
        "--as-of-epoch", type=int, default=None, dest="as_of_epoch",
        help="single-index only: query this epoch's snapshot",
    )
    qs.set_defaults(fn=_cmd_qsearch)

    st = sub.add_parser("stats", help="index tree statistics (blocks, fill, bytes)")
    st.add_argument("--index", required=True)
    st.add_argument("--as-of-epoch", type=int, default=None, dest="as_of_epoch")
    st.set_defaults(fn=_cmd_stats)

    fs = sub.add_parser("fsck", help="verify index invariants; --deep decodes payloads")
    fs.add_argument("--index", required=True)
    fs.add_argument("--deep", action="store_true")
    fs.add_argument("--as-of-epoch", type=int, default=None, dest="as_of_epoch")
    fs.set_defaults(fn=_cmd_fsck)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
