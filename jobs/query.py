#!/usr/bin/env python
"""spark-submit entry point: BM25 top-k queries against a built index.

    spark-submit --py-files engine.zip jobs/query.py \
        --index s3a://bucket/index/ --query "hash join" --k 10

A comma-separated --index federates: every root is searched as ONE
corpus under exact global statistics (operators/federation.py;
plain --query / --queries-file modes):

    jobs/query.py --index s3a://b/gen1,s3a://b/gen2 --query "..."

Modes (mutually composable where sensible):
- --query            one query, one job
- --queries-file     one query per line, the whole set in a single job
- --expand           pseudo-relevance-feedback expansion of --query
                     (--fb-docs/--fb-terms tune the feedback pass)
- --synonyms FILE    query-time synonym expansion of --query: FILE is
                     a JSON object {token: [synonym, ...]}; each token
                     occurrence also contributes one occurrence of each
                     mapped synonym (ES synonym-filter, expand=true)
- --query-string QS  Lucene classic syntax: '+required -forbidden
                     "exact phrase" optional'; quoted phrases also
                     need --corpus (parquet with doc_id + text — the
                     verbatim window verify reads raw text)
- --msm M            minimum_should_match for --query: only docs
                     matching at least M distinct query terms are
                     candidates (scores unchanged — pure filter)
- --more-like DOC_ID similar documents to a seed doc (MoreLikeThis)
- --prefix P         docs by occurrences of terms starting with P
- --regex RX         docs by occurrences of terms fully matching RX
- --wildcard W       like --regex with * / ? wildcard syntax
- --stream-dir DIR   serve a STREAM of queries: parquet files of
                     (query_id, query_text) appearing under DIR are
                     answered micro-batch by micro-batch into
                     --stream-sink (epoch-partitioned parquet;
                     --continuous keeps serving until killed, default
                     drains what's there and exits)
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> list[dict]:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", default=None)
    ap.add_argument("--queries-file", default=None)
    ap.add_argument("--more-like", type=int, default=None, metavar="DOC_ID")
    ap.add_argument("--prefix", default=None)
    ap.add_argument("--regex", default=None)
    ap.add_argument("--wildcard", default=None)
    ap.add_argument("--stream-dir", default=None)
    ap.add_argument("--stream-sink", default=None)
    ap.add_argument("--stream-checkpoint", default=None)
    ap.add_argument("--continuous", action="store_true",
                    help="with --stream-dir: keep serving (default: "
                         "drain available input and exit)")
    ap.add_argument("--expand", action="store_true",
                    help="pseudo-relevance-feedback expansion of --query")
    ap.add_argument("--synonyms", default=None, metavar="JSON_FILE",
                    help="query-time synonym expansion of --query: JSON "
                         "object {token: [synonym, ...]}")
    ap.add_argument("--query-string", default=None, metavar="QS",
                    help="Lucene classic syntax: '+req -forbid "
                         '"phrase" opt\'')
    ap.add_argument("--positions", default=None, metavar="ROOT",
                    help="positions sidecar root: --query-string phrase "
                         "gates answer from it instead of --corpus")
    ap.add_argument("--corpus", default=None, metavar="PARQUET",
                    help="corpus parquet for --query-string phrases")
    ap.add_argument("--msm", type=int, default=None, metavar="M",
                    help="minimum_should_match: docs must match at "
                         "least M distinct query terms")
    ap.add_argument("--similarity", default=None,
                    choices=["tfidf", "lmjm"],
                    help="score --query with a pluggable similarity "
                         "instead of BM25")
    ap.add_argument("--lam", type=float, default=0.1,
                    help="Jelinek-Mercer lambda for --similarity lmjm")
    ap.add_argument("--rescore-phrase", default=None, metavar="PHRASE",
                    help="rescore the top --rescore-window BM25 hits of "
                         "--query by exact PHRASE occurrences "
                         "(needs --corpus)")
    ap.add_argument("--rescore-window", type=int, default=50)
    ap.add_argument("--rescore-weight", type=float, default=2.0)
    ap.add_argument("--highlight", action="store_true",
                    help="attach a snippet per hit (needs --corpus)")
    ap.add_argument("--complete", default=None, metavar="PREFIX",
                    help="completion suggester: top dictionary terms "
                         "for PREFIX by document frequency")
    ap.add_argument("--suggest-phrase", default=None, metavar="TEXT",
                    help="phrase suggester: bigram-LM re-ranked "
                         "multi-token corrections (needs --positions)")
    ap.add_argument("--routing", default=None, metavar="V[,V...]",
                    help="routed index roots only: execute just these "
                         "routing values' members (stats stay global)")
    ap.add_argument("--fb-docs", type=int, default=10)
    ap.add_argument("--fb-terms", type=int, default=10)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    modes = [bool(args.query), bool(args.queries_file),
             args.more_like is not None, bool(args.stream_dir),
             bool(args.prefix), bool(args.regex), bool(args.wildcard),
             bool(args.query_string), bool(args.complete),
             bool(args.suggest_phrase)]
    if sum(modes) != 1:
        ap.error("need exactly one of --query / --queries-file / "
                 "--more-like / --stream-dir / --prefix / --regex / "
                 "--wildcard / --query-string / --complete / "
                 "--suggest-phrase")
    if args.suggest_phrase and not args.positions:
        ap.error("--suggest-phrase needs --positions (bigram LM source)")
    if (args.rescore_phrase or args.highlight) and not args.corpus:
        ap.error("--rescore-phrase / --highlight need --corpus")
    if args.stream_dir and not args.stream_sink:
        ap.error("--stream-dir needs --stream-sink")

    from pyspark.sql import SparkSession

    from data_text_search_spark.operators.index_query import IndexSearcher

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from data_text_search_spark.session import get_spark
        spark = get_spark(app_name="query", cores=args.cores)

    from data_text_search_spark.operators.routing import (
        RoutedSearcher,
        load_routing_manifest,
    )
    if "," not in args.index and load_routing_manifest(args.index,
                                                       spark):
        # routed index root: plain --query / --queries-file with an
        # optional --routing restriction (the side modes are
        # single-index APIs, same scope rule as federation)
        if not (args.query or args.queries_file) or any(
                (args.similarity, args.rescore_phrase, args.highlight,
                 args.expand, args.synonyms, args.msm is not None)):
            ap.error("a routed --index supports plain --query and "
                     "--queries-file only")
        rs = RoutedSearcher(spark, args.index)
        rs.warm()
        routing = args.routing.split(",") if args.routing else None
        if args.query:
            out = [{"rank": r["rank"], "doc_id": r["doc_id"],
                    "score": r["score"], "score_abs": r["score_abs"]}
                   for r in rs.search(args.query, args.k,
                                      routing=routing).collect()]
        else:
            with open(args.queries_file) as f:
                queries = [ln.rstrip("\n") for ln in f if ln.strip()]
            rows = rs.search_batch(queries, args.k,
                                   routing=routing).collect()
            out = [{"query_id": r["query_id"], "rank": r["rank"],
                    "doc_id": r["doc_id"], "score": r["score"]}
                   for r in sorted(rows, key=lambda r: (r["query_id"],
                                                        r["rank"]))]
        for rec in out:
            print(json.dumps(rec))
        return out
    if args.routing:
        ap.error("--routing needs a routed index root (routing.json)")

    if "," in args.index:
        # federation: --index root1,root2,... searches every member as
        # ONE corpus under exact global statistics
        # (operators/federation.py). Plain --query /
        # --queries-file only — the side modes are single-index APIs.
        from data_text_search_spark.operators.federation import (
            FederatedSearcher,
        )
        if not (args.query or args.queries_file) or any(
                (args.similarity, args.rescore_phrase, args.highlight,
                 args.expand, args.synonyms, args.msm is not None)):
            ap.error("a comma-separated --index (federated search) "
                     "supports plain --query and --queries-file only")
        fed = FederatedSearcher(spark, args.index.split(","))
        fed.warm()
        if args.query:
            out = [{"rank": r["rank"], "doc_id": r["doc_id"],
                    "score": r["score"], "score_abs": r["score_abs"]}
                   for r in fed.search(args.query, args.k).collect()]
        else:
            with open(args.queries_file) as f:
                queries = [ln.rstrip("\n") for ln in f if ln.strip()]
            rows = fed.search_batch(queries, args.k).collect()
            out = [{"query_id": r["query_id"], "rank": r["rank"],
                    "doc_id": r["doc_id"], "score": r["score"]}
                   for r in sorted(rows, key=lambda r: (r["query_id"],
                                                        r["rank"]))]
        for rec in out:
            print(json.dumps(rec))
        return out

    searcher = IndexSearcher(spark, args.index)
    if args.complete:
        out = [{"term": r["term"], "df": r["df"]}
               for r in searcher.complete(args.complete, args.k).collect()]
    elif args.suggest_phrase:
        out = [{"suggestion": r["suggestion"], "score": r["score"]}
               for r in searcher.phrase_suggest(
                   args.suggest_phrase, args.positions,
                   n=args.k).collect()]
    elif args.query:
        if args.similarity:
            res = searcher.search_similarity(args.query, args.similarity,
                                             args.k, lam=args.lam)
            out = [{"rank": r["rank"], "doc_id": r["doc_id"],
                    "score": r["score"], "score_abs": r["score_abs"]}
                   for r in res.collect()]
            for rec in out:
                print(json.dumps(rec))
            return out
        if args.rescore_phrase:
            docs = spark.read.parquet(args.corpus)
            res = searcher.rescore(docs, args.query, args.rescore_phrase,
                                   window=args.rescore_window,
                                   weight=args.rescore_weight, n=args.k)
            out = [{"rank": r["rank"], "doc_id": r["doc_id"],
                    "score": r["score"], "phrase_count": r["phrase_count"],
                    "rescore": r["rescore"]} for r in res.collect()]
            for rec in out:
                print(json.dumps(rec))
            return out
        if args.highlight:
            docs = spark.read.parquet(args.corpus)
            res = searcher.highlight(docs, args.query, args.k)
            out = [{"doc_id": r["doc_id"], "score": r["score"],
                    "pos": r["pos"], "snippet": r["snippet"]}
                   for r in res.collect()]
            for rec in out:
                print(json.dumps(rec))
            return out
        if args.expand:
            res = searcher.search_expanded(args.query, args.k,
                                           fb_docs=args.fb_docs,
                                           fb_terms=args.fb_terms)
        elif args.synonyms:
            with open(args.synonyms) as f:
                smap = json.load(f)
            res = searcher.search_synonyms(args.query, smap, args.k)
        elif args.msm is not None:
            res = searcher.search_msm(args.query, args.msm, args.k)
        else:
            res = searcher.search(args.query, args.k)
        out = [{"rank": r["rank"], "doc_id": r["doc_id"],
                "score": r["score"], "score_abs": r["score_abs"]}
               for r in res.collect()]
    elif args.query_string:
        docs = (spark.read.parquet(args.corpus) if args.corpus else None)
        res = searcher.query_string(args.query_string, args.k, df=docs,
                                    positions_root=args.positions)
        out = [{"rank": r["rank"], "doc_id": r["doc_id"],
                "score": r["score"], "score_abs": r["score_abs"]}
               for r in res.collect()]
    elif args.prefix or args.regex or args.wildcard:
        if args.prefix:
            res = searcher.prefix_search(args.prefix)
        elif args.regex:
            res = searcher.regex_search(args.regex)
        else:
            res = searcher.wildcard_search(args.wildcard)
        out = [{"doc_id": r["doc_id"], "match_count": r["match_count"]}
               for r in res.limit(args.k).collect()]
    elif args.more_like is not None:
        out = [{"rank": r["rank"], "doc_id": r["doc_id"],
                "score": r["score"], "score_abs": r["score_abs"]}
               for r in searcher.more_like_this(args.more_like,
                                                args.k).collect()]
    elif args.stream_dir:
        from data_text_search_spark.streaming.query_stream import (
            start_query_stream,
        )
        ckpt = args.stream_checkpoint or (args.stream_sink.rstrip("/")
                                          + "_checkpoint")
        stream = (spark.readStream
                  .schema("query_id long, query_text string")
                  .parquet(args.stream_dir))
        q = start_query_stream(searcher, stream, args.stream_sink, ckpt,
                               n=args.k,
                               trigger_available_now=not args.continuous)
        q.awaitTermination()
        out = [{"stream": "done", "sink": args.stream_sink}]
    else:
        with open(args.queries_file) as f:
            queries = [line.rstrip("\n") for line in f if line.strip()]
        rows = searcher.search_batch(queries, args.k).collect()
        out = [{"query_id": r["query_id"], "rank": r["rank"],
                "doc_id": r["doc_id"], "score": r["score"]}
               for r in sorted(rows, key=lambda r: (r["query_id"],
                                                    r["rank"]))]


    for rec in out:
        print(json.dumps(rec))
    return out


if __name__ == "__main__":
    main()
