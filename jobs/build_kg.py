#!/usr/bin/env python3
"""spark-submit entrypoint: build the knowledge graph from a repos corpus.

    spark-submit --driver-memory 8g \
        --py-files dist/cbor_ld_spark.zip jobs/build_kg.py \
        --input <iceberg-table-or-parquet-path> \
        --out /data/kg --run-id 2026-08-16a --buckets 4096

Resumable: re-running with the same --run-id skips completed buckets via
the lineage table.  On a cluster, size --buckets so one bucket's
documents fit one executor comfortably (~1-4 GB of content each); at
10^12 files that is O(10^5) buckets.

Memory: in local mode the driver JVM hosts every task; spark-submit's
default 1g heap leaves the partitioned writes' sorters with no
execution memory at 32 concurrent tasks (UNABLE_TO_ACQUIRE_MEMORY).
Use --driver-memory 8g locally; on a real cluster the executor default
sizing applies and this does not arise.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="repos table: iceberg name or parquet path")
    ap.add_argument("--out", required=True, help="output directory/namespace")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--registry-id", type=int, default=1)
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate an n-row synthetic corpus instead of --input")
    ap.add_argument("--analytics", action="store_true",
                    help="also write pagerank/coreness/communities "
                         "tables under <out>/analytics/")
    args = ap.parse_args(argv)
    if not args.input and not args.synthesize:
        ap.error("provide --input or --synthesize N")

    from pyspark.sql import SparkSession

    from cbor_ld_spark.plans import build_kg
    from cbor_ld_spark.sources import load_repos, synthesize_corpus

    spark = (
        SparkSession.builder.appName(f"build_kg-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    # Size shuffles to the actual core count instead of the 200 default:
    # the graph stages' shuffles and the bucketed writes run at this
    # width — measured 3-4x on the kernel+write stage at local[32] (200
    # undersized tasks thrash the Arrow workers and write 200-way small
    # files).  The kernel stage's one exchange (content_sha, carrying
    # the provenance through the kernel) takes defaultParallelism from
    # spread_input.  Runtime-settable, so a cluster deployment can
    # still override via --conf.
    if not spark.sparkContext._conf.contains("spark.sql.shuffle.partitions"):
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    repos = (synthesize_corpus(spark, args.synthesize) if args.synthesize
             else load_repos(spark, args.input))
    summary = build_kg(spark, repos, args.out, run_id=args.run_id,
                       n_buckets=args.buckets, registry_id=args.registry_id,
                       analytics=args.analytics)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
