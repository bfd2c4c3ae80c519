#!/usr/bin/env python
"""spark-submit entry point: build (or resume) a BM25 physical index.

Cluster usage (north rule: spark-submit --py-files on multi-executor):

    zip -r engine.zip data_text_search_spark
    spark-submit --py-files engine.zip jobs/build_index.py \
        --input s3a://bucket/corpus/ --output s3a://bucket/index/ \
        --text-col content --shards 4096 --groups 64 --alpha -5

Local smoke:

    python jobs/build_index.py --input /tmp/corpus --output /tmp/idx
"""

from __future__ import annotations

import argparse
import json
import math


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet corpus path/glob")
    ap.add_argument("--output", required=True, help="index root directory")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--id-col", default=None,
                    help="existing stable id column; default derives one "
                         "from (repo, path, commit)")
    ap.add_argument("--clean", action="store_true",
                    help="apply the reference clean pipeline (default off, "
                         "matching the app)")
    ap.add_argument("--k1", type=float, default=1.5)
    ap.add_argument("--b", type=float, default=0.75)
    ap.add_argument("--alpha", type=float, default=-math.inf)
    ap.add_argument("--shards", type=int, default=None,
                    help="doc shards; size so one shard's postings fit an "
                         "executor (~1-4 GB); at 10^12 docs use 10^5-10^6")
    ap.add_argument("--groups", type=int, default=4,
                    help="resume granularity: posting encode runs as this "
                         "many independent jobs")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--cores", type=int, default=None,
                    help="local mode cores (ignored under spark-submit "
                         "with a master)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.operators.index_build import build_index

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from data_text_search_spark.session import get_spark
        spark = get_spark(app_name="build_index", cores=args.cores)

    cfg = BM25Config(k1=args.k1, b=args.b, alpha=args.alpha, clean=args.clean)
    corpus = spark.read.parquet(args.input)
    manifest = build_index(
        spark, corpus, args.output, cfg, text_col=args.text_col,
        id_col=args.id_col, shards=args.shards, groups=args.groups,
        resume=not args.no_resume)
    print(json.dumps({"n_docs": manifest["n_docs"], "avgdl": manifest["avgdl"],
                      "complete": manifest.get("complete", False),
                      "metrics": manifest.get("metrics", {})}))


if __name__ == "__main__":
    main()
