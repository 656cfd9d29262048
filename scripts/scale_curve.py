#!/usr/bin/env python
"""Time-vs-scale curves for the most expensive catalog queries
(VERDICT r4 item 1): run each at sf0.1 (shipped), sf0.3 and sf1
(deterministic isomorphic-replica scale-ups from
scripts/make_scale_data.py) in ONE quiet session, min-of-N repeats
per (query, sf), and report the growth ratio sf0.1→sf1 against the
10× data growth. A ratio ≤ 13× (≤ ~1.3× super-linear) passes the
round-4 brief's bar; anything above needs a named cause.

Emits one JSON line; the caller appends the table to BENCH.md.
"""

import json
import os
import sys
import time

QUERIES_UNDER_TEST = [
    "dedup_components", "dedup_jaccard_prefix", "dedup_canonical",
    "dedup_minhash_lsh", "decontaminate", "dsir_select",
    "sparse_cosine", "bpe_merges", "link_trustrank", "semdedup",
]

SFS = [
    (0.1, "/root/testdata/sf0.1"),
    (0.3, "/tmp/beats_spark_testdata_sf0.3"),
    (1.0, "/tmp/beats_spark_testdata_sf1"),
]

REPEATS = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))


def main():
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[32]")
             .appName("beats_spark_scale_curve")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled",
                     "true")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from beats_analytics.queries import QUERIES

    for _, d in SFS:
        if not os.path.isdir(d):
            sys.exit(f"missing scale dir {d} — run "
                     "scripts/make_scale_data.py first")

    results = {}
    for name in QUERIES_UNDER_TEST:
        fn = QUERIES[name]
        row = {}
        # warmup once at the smallest sf (JIT/codegen/Python workers)
        fn(spark, SFS[0][1]).write.format("noop") \
            .mode("overwrite").save()
        for sf, d in SFS:
            best = None
            for _ in range(REPEATS):
                t0 = time.time()
                fn(spark, d).write.format("noop") \
                    .mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            row[str(sf)] = round(best, 3)
        row["growth_10x"] = round(row["1.0"] / row["0.1"], 2)
        results[name] = row
        print(f"{name}: " + " ".join(
            f"sf{sf}={row[str(sf)]}s" for sf, _ in SFS)
            + f"  growth(10x)={row['growth_10x']}x", flush=True)

    print(json.dumps({"metric": "scale_curve", "repeats": REPEATS,
                      "cpus": 32, "queries": results}))


if __name__ == "__main__":
    main()
