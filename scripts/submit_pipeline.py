#!/usr/bin/env python
"""spark-submit entry point for the flagship pipeline.

Usage (the north_rule shipping shape)::

    python scripts/package.py                       # -> dist/beats_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/beats_spark.zip \\
        scripts/submit_pipeline.py \\
        --pages <pages parquet/catalog dir> \\
        --out <output dir> [--incremental]

With ``--incremental`` the pages dir is treated as a
``beats_spark.catalog`` table and only unprocessed snapshots run
(watermarked resume), as one snapshot set: one routed write, with each
snapshot's counters under ``snapshots`` in the printed JSON; otherwise
the whole directory is one batch with whole-input snapshot resume.

Lookup tables: ``--host-meta`` / ``--lang-meta`` parquet paths; when
omitted, deterministic demo lookups are derived from the input (so the
job is runnable end-to-end out of the box).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--host-meta")
    ap.add_argument("--lang-meta")
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=200)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.appName("beats_spark_pipeline")
             .config("spark.sql.shuffle.partitions",
                     str(args.shuffle_partitions))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())

    from beats_spark import fixtures
    from beats_spark.pipeline import run_pipeline, run_pipeline_incremental
    from beats_spark.catalog import Table
    import os

    if args.host_meta:
        host_meta = spark.read.parquet(args.host_meta)
    else:
        sample = (Table(os.path.dirname(args.pages),
                        os.path.basename(args.pages)).read(spark)
                  if args.incremental else spark.read.parquet(args.pages))
        host_meta = (sample
                     .select(F.parse_url(F.col("url"), F.lit("HOST"))
                             .alias("host")).distinct()
                     .select("host",
                             F.upper(F.substring("host", 1, 2))
                             .alias("geo_country"),
                             F.concat(F.lit("city-"), F.col("host"))
                             .alias("geo_city"),
                             F.abs(F.xxhash64("host") % 64000).alias("asn"),
                             F.lit("203.0.113.7").alias("resolved_ip"),
                             F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1)
                             .alias("registered_domain")))
    if args.lang_meta:
        lang_meta = spark.read.parquet(args.lang_meta)
    else:
        lang_meta = fixtures.lang_meta(spark)

    if args.incremental:
        table = Table(os.path.dirname(args.pages),
                      os.path.basename(args.pages))
        result = run_pipeline_incremental(
            spark, table, host_meta, lang_meta, args.out)
    else:
        pages = spark.read.parquet(args.pages)
        result = run_pipeline(spark, pages, host_meta, lang_meta, args.out)

    print(json.dumps({
        "run_id": result.run_id, "skipped": result.skipped,
        "snapshot_id": result.snapshot_id, "metrics": result.metrics,
        "snapshots": {r.snapshot_id: r.metrics
                      for r in result.sub_runs or []},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
