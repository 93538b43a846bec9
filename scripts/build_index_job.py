#!/usr/bin/env python
"""spark-submit entry point for a full index build.

Cluster usage (the north-rule deployment shape):

    zip -r lucene_spark.zip lucene_spark
    spark-submit --py-files lucene_spark.zip scripts/build_index_job.py \
        --input /path/to/docs_table --out /path/to/index \
        [--resumable --segments 16]

Sandbox usage (local[N], used by scripts/scaling_bench.py):

    python scripts/build_index_job.py --cpus 8 --gen-docs 20000 \
        --out .build/scale_8

Prints one JSON line with the build manifest (docs/sec, wall seconds).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir/file with (repo,path,commit,lang,content)")
    ap.add_argument("--gen-docs", type=int, default=0,
                    help="generate N synthetic corpus docs instead of --input")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores (omit under spark-submit on a cluster)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--resumable", action="store_true")
    ap.add_argument("--segments", type=int, default=4)
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument("--flush-docs", type=int, default=None,
                    help="invert flush-window docs (default: builder's)")
    ap.add_argument("--queries", default="",
                    help="comma-separated post-build probe queries (timed)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.cpus is not None:
        from lucene_spark.session import get_spark

        # builds want more, smaller reducer tasks than the query-path
        # default: the postings merge + term-range write are wave-packed
        # (measured: 96 parts beats 32 by ~17% at 8 cores), and on a real
        # cluster shuffle.partitions scales with executors the same way
        spark = get_spark(
            args.cpus,
            app_name="lucene_spark_build",
            shuffle_partitions=max(32, 12 * args.cpus),
        )
    else:
        # under spark-submit the master/conf come from the submit command
        spark = SparkSession.builder.appName("lucene_spark_build").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import build_index
    from lucene_spark.index.resumable import build_index_resumable

    ks = None
    if args.gen_docs:
        from lucene_spark.corpus import key_sample

        parts = args.partitions or spark.sparkContext.defaultParallelism
        docs = corpus_spark_df(spark, args.gen_docs, partitions=parts)
        ks = key_sample(args.gen_docs)
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --gen-docs")

    if args.resumable:
        manifest = build_index_resumable(
            spark, docs, args.out,
            num_segments=args.segments,
            partitions=args.partitions,
            store_positions=not args.no_positions,
        )
    else:
        kw = {}
        if args.flush_docs:
            kw["flush_docs"] = args.flush_docs
        manifest = build_index(
            spark, docs, args.out,
            partitions=args.partitions,
            store_positions=not args.no_positions,
            key_sample=ks,
            **kw,
        )

    out = dict(manifest)

    if args.queries:
        from lucene_spark.search.engine import IndexSearcher

        searcher = IndexSearcher(spark, args.out)
        q_times = {}
        for q in args.queries.split(","):
            t0 = time.time()
            searcher.search(q, k=10, mode="or", prune=True).collect()
            q_times[q] = round(time.time() - t0, 4)
        out["query_sec"] = q_times

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
