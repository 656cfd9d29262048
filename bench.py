#!/usr/bin/env python
"""Benchmark harness.

Default mode: run the headline workload at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default
32) and print ONE JSON line::

    {"metric": "flagship_pages_per_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": 0.1, ...}

The headline metric is the north_star's end-to-end parse→enrich→route
throughput in pages/sec over the deterministic synthetic pages table
(``beats_spark.fixtures.pages`` — same generator at any scale; the
sf dir sizes the page count). Catalog queries from
``beats_analytics.queries`` (the shipper's catalog plus the analytics
entries) are timed individually at the sf dir.

``--scaling`` mode: run the SAME flagship job at two parallelism
levels (local[8] and local[32] by default) in separate JVMs on
identical input and report throughput at both plus scaling efficiency
``(thr_hi / thr_lo) / (hi / lo)`` — the in-sandbox proxy for the
north_rule's N→4N executor criterion (see BASELINE.md). Results are
appended to BENCH.md.

The NORMATIVE measurement protocol (flagship-first, warmup and
repeat counts, scaling controls, scale-curve procedure) is
``BENCH.md §"Measurement protocol"`` — numbers recorded any other
way must say so.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# pages for the throughput leg: proportional to sf (sf0.1 → 200k pages)
_SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", int(10_000_000 * _SF)))
# scaling mode needs a job long enough that fixed costs (~5s of plan
# build + Python-worker spawn + scheduling) are noise, or the ratio
# measures overhead instead of throughput
N_PAGES_SCALING = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES",
                                     16_000_000))

# catalog queries timed per round (a representative spread: scan-agg,
# broadcast join, window, Arrow-UDF parse, dedup-join, ANN, text stats)
BENCH_QUERIES = [
    "tpch_q1", "enrich_join", "router_fanout", "timestamp_hist",
    "rate_limit", "rate_limit_bucket", "dissect_extract",
    "grok_extract", "syslog_parse",
    "container_ndjson", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_embedding", "semdedup",
    "ann_cosine_topk",
    "text_quality", "token_count", "lang_id", "lang_id_fused", "salted_agg",
    "windowed_counts", "curation_pipeline",
    "container_partial", "psl_domains", "psl_domains_9k",
    "dedup_components",
    "pack_greedy", "domain_rollup", "yaml_inputs", "decontaminate",
    "script_js", "pii_scrub", "dedup_lines",
    "url_canonicalize", "url_dedup", "dup_ngram_spans", "tfidf_terms",
    "deterministic_sample", "dedup_span_removal", "c4_clean",
    "blocklist_gate", "gazetteer_entities", "weak_labels",
    "lf_analysis", "filter_sweep",
    "mixture_sample", "dedup_incremental", "html_extract",
    "kmeans_assign", "lm_quality_score", "unicode_clean",
    "ccnet_buckets", "dsir_select", "token_budget", "corpus_shuffle",
    "sessionize_events", "latency_percentiles", "asof_enrich",
    "attribution_join",
    "inverted_index", "link_pagerank", "link_trustrank", "funnel_steps",
    "retention_cohorts", "log_templates", "count_anomalies",
    "scd2_enrich", "stratified_sample", "zorder_layout",
    "salted_join_rollup", "counter_rollup", "range_enrich",
    "socket_frames", "ttl_batch_split", "media_phash_pairs",
    "kmv_distinct", "countmin_freq", "bloom_membership",
    "priority_sample", "journald_export", "udp_datagrams",
    "gopher_quality", "warc_extract", "robots_filter", "html_links", "sitemap_urls", "crawl_frontier", "merge_upsert", "warc_ingest",
    "hll_distinct", "bloom_join_prune", "dedup_jaccard_prefix",
    "anchor_texts", "useragent_parse", "corpus_overlap",
    "dedup_containment", "json_schema_profile", "lang_spans",
    "graph_triangles", "graph_kcore", "phrase_search", "collocations",
    "sparse_cosine", "rank_fusion", "ndcg_eval", "random_projection", "hll_windowed", "latency_histogram",
    "event_transitions", "data_quality", "column_profile",
    "pivot_daily", "hll_set_ops", "unpivot_roundtrip", "ann_multiprobe", "typosquat_detect",
    "accent_fold", "readability_score", "ewma_anomaly", "global_rank",
    "chunk_stride", "winnow_fingerprints", "winnow_pairs",
    "mad_outliers", "merge_intervals", "percolate_match", "bm25_rank",
    "boilerplate_strip", "snapshot_diff", "bitext_mine", "record_linkage", "k_anonymity", "covisitation", "rtbf_purge", "dp_counts", "ab_test", "km_survival", "cusum_drift", "coec_bias", "multi_touch", "calibration_ece", "ips_eval", "traffic_gini", "skyline_docs",
    "percolate_compiled", "link_hits", "kwic_snippets", "term_drift",
    "consistent_route", "trigram_grep", "decayed_trending",
    "seasonal_anomaly", "slo_burn", "rolling_p95",
    "link_communities", "zonemap_prune", "ivm_refresh",
    "ann_pq_topk", "char_entropy", "nb_quality", "dns_tunnel", "shard_balance", "hard_negatives", "corpus_kl_drift", "winsorize_values", "oov_rate", "vocab_coverage", "zipf_fit", "bpe_merges", "bpe_encode",
    "lang_url_pairs", "crawl_traps", "decode_cef", "kv_extract",
    "sentence_split",
    "clock_skew",
    "cdc_chunks", "cdc_dup_stats", "redirect_resolve", "html_tables", "rake_keywords",
    "dedup_canonical", "passage_chunks", "change_rate", "bot_cadence", "meta_tags", "feed_items",
    "hreflang_links", "dom_templates", "domain_wilson",
    "domain_weights", "mirror_detect", "corpus_report",
    "heavy_hitters", "auc_eval", "counter_rates", "trend_slope",
    "apdex_score", "l_diversity", "annotator_kappa",
    "equidepth_hist", "url_path_rollup", "geohash_cells",
    "fano_burstiness", "holt_forecast", "flow_records", "cidr_enrich", "weighted_percentiles",
    "sequence_gaps", "gapfill_series", "rolling_actives", "metric_correlation",
    "community_id_md5", "kafka_events", "vpcflow_parse",
    "winlog_export", "redis_slowlog", "es_bulk", "bmp_stats",
    "wav_stats", "lumberjack_frames", "surt_keys", "cdx_latest",
    "flagship_routed_counts", "flagship_messages",
]

# per-query repeats; reported time is the MIN so one noisy run can't
# fake a regression (bench noise control, VERDICT r2 item 10)
BENCH_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))


def _session(cpus: int):
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("beats_spark_bench")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    return s


def _pages_parquet(spark, n_pages: int, cpus: int) -> str:
    """Materialize the deterministic pages table once per page count —
    the timed job then reads a real table (the north_star input shape)
    instead of paying generation cost inside the measurement."""
    from beats_spark.fixtures import pages
    path = f"/tmp/beats_spark_bench_pages_{n_pages}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pages(spark, n_pages, partitions=max(cpus * 2, 16)) \
            .write.mode("overwrite").parquet(path)
    return path


def flagship_throughput(spark, n_pages: int, cpus: int) -> dict:
    """End-to-end parse→enrich→route over the n_pages pages table;
    returns pages/sec (the BASELINE.json metric)."""
    from pyspark.sql import functions as F
    from beats_spark.fixtures import pages, host_meta, lang_meta
    from beats_spark.pipeline import build_routed

    pg = spark.read.parquet(_pages_parquet(spark, n_pages, cpus))
    hm, lm = host_meta(spark), lang_meta(spark)
    # warmup: spawn the Python workers, JIT the codegen, broadcast the
    # lookups — measure the pipeline, not process cold-start
    build_routed(pages(spark, 2_000, partitions=cpus), hm, lm) \
        .groupBy("sink").count().collect()
    # warm the input scan too: a freshly-written pages parquet reads
    # cold from disk on the first timed run only, which made the
    # min-of-N swing ~2x between rounds depending on whether the /tmp
    # cache survived. The metric is pipeline throughput; read-path
    # variance belongs to the scaling harness, not here.
    pg.write.format("noop").mode("overwrite").save()
    # min-of-N like the per-query timings: the headline metric must
    # not swing with transient host contention either. Measured
    # 2026-08-17/18 the same code+input swung 147k -> 343k pages/s
    # with host weather, and the round-3 driver run landed exactly on
    # the floor of that band. Protocol hardening (VERDICT r3 item 1):
    # one FULL-SIZE discarded warmup repeat (the small-page warmup
    # above does not JIT the full shuffle write path) and at least 5
    # measured repeats, flagship measured before the catalog sweep so
    # heap pressure from 68 prior queries can't depress it.
    def one_run():
        t0 = time.time()
        routed = build_routed(pg, hm, lm)
        c = {r["sink"]: r["n"] for r in
             routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))
                   .collect()}
        return time.time() - t0, c

    one_run()  # discarded full-size warmup
    best, counts = None, None
    n_rep = max(BENCH_REPEATS, 5)
    for _ in range(n_rep):
        dt, counts = one_run()
        best = dt if best is None else min(best, dt)
    return {"pages": n_pages, "seconds": round(best, 3),
            "pages_per_sec": round(n_pages / best, 1),
            "repeats": n_rep, "warmup_runs": 1,
            "events": sum(counts.values()), "sink_counts": counts}


def run_default() -> dict:
    spark = _session(CPUS)
    from beats_analytics.queries import QUERIES

    fl = flagship_throughput(spark, N_PAGES, CPUS)

    qtimes = {}
    for name in BENCH_QUERIES:
        best = None
        for _ in range(BENCH_REPEATS):
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        qtimes[name] = round(best, 3)
        print(f"  {name}: {qtimes[name]}s (min of {BENCH_REPEATS})",
              file=sys.stderr, flush=True)

    return {
        "metric": "flagship_pages_per_sec",
        "value": fl["pages_per_sec"],
        "unit": "sec",
        "queries": qtimes,
        "query_repeats": BENCH_REPEATS,
        "sf": _SF,
        "cpus": CPUS,
        "flagship": fl,
    }


def _exec_worker(files):
    """One emulated executor: a local[4] JVM (own heap/GC/scheduler,
    pinned by the parent to a dedicated 8-CPU set) running the full
    parse->enrich->route pipeline over its file split."""
    from pyspark.sql import functions as F
    from beats_spark.fixtures import pages, host_meta, lang_meta
    from beats_spark.pipeline import build_routed
    spark = _session(4)
    hm, lm = host_meta(spark), lang_meta(spark)
    build_routed(pages(spark, 2_000, partitions=4), hm, lm) \
        .groupBy("sink").count().collect()
    pg = spark.read.parquet(*files)
    t0 = time.time()
    n = build_routed(pg, hm, lm).count()
    print(json.dumps({"rows": n, "seconds": round(time.time() - t0, 3)}))


def _pure_worker(files):
    """Hardware-ceiling control: the same parse kernel (pyarrow scan →
    multiline segmentation → vectorized regex extract) as a plain OS
    process with NO Spark — measures what the host itself can scale
    to at the same core occupancy."""
    import re
    import pyarrow.parquet as pq
    import pandas as pd
    rx = (r'(?s)^ts=(.*?) level=(.*?) host=(.*?) bytes=(.*?) '
          r'msg="(.*)')
    cont = re.compile(r"^\s")
    t0 = time.time()
    n = 0
    for f in files:
        texts = pq.read_table(f, columns=["text"]).column(
            "text").to_pylist()
        msgs = []
        for x in texts:
            lines = x.split("\n")
            buf = [lines[0]]
            for ln in lines[1:]:
                if cont.match(ln):
                    buf.append(ln)
                else:
                    msgs.append("\n".join(buf))
                    buf = [ln]
            msgs.append("\n".join(buf))
        pd.Series(msgs, dtype="object").str.extract(rx)
        n += len(texts)
    print(json.dumps({"rows": n, "seconds": round(time.time() - t0, 3)}))


def _materialize_pages(n_pages: int) -> str:
    path = os.environ.get("SPARK_GRAFT_SCALING_DIR",
                          f"/tmp/beats_spark_scaling_{n_pages}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from beats_spark.fixtures import pages
        spark = _session(CPUS)
        pages(spark, n_pages, partitions=64).write.mode(
            "overwrite").parquet(path)
        spark.stop()
    return path


def run_scaling(n_execs_hi: int = 4) -> dict:
    """The north_rule two-cluster-size criterion, emulated faithfully:
    an executor is a separate JVM with dedicated cores (like a real
    cluster node), NOT extra threads in one shared JVM — thread
    scaling inside one JVM conflates executor scaling with shared-heap
    and shared-scheduler contention (measured curve in BENCH.md).
    lo = 1 executor (local[4] pinned to a dedicated CPU set, whole
    input); hi = 4 executors (disjoint CPU sets, disjoint file splits
    of the SAME input). Efficiency = (thr_hi / thr_lo) / 4.

    SPARK_GRAFT_SCALING_CPUS_PER_EXEC (default 8) sizes each
    executor's pinned set. 8 → the hi leg occupies all 32 CPUs and
    saturates the single host's shared memory subsystem (which a real
    4-node cluster would NOT share — hence the bare-kernel ceiling
    normalization); 4 → the hi leg occupies 16 of 32 CPUs, keeping
    aggregate occupancy inside the host's bandwidth so the figure
    isolates ENGINE scaling from host saturation.
    """
    import glob
    cpe = int(os.environ.get("SPARK_GRAFT_SCALING_CPUS_PER_EXEC", "8"))
    if cpe < 1 or cpe * n_execs_hi > (os.cpu_count() or 32):
        raise ValueError(f"cpus_per_exec {cpe} x {n_execs_hi} "
                         "executors exceeds the host")
    pq = _materialize_pages(N_PAGES_SCALING)
    files = sorted(glob.glob(os.path.join(pq, "part-*")))
    me = os.path.abspath(__file__)
    env = dict(os.environ, PYTHONPATH=os.path.dirname(me))

    def run_one(cpu_set, file_split):
        p = subprocess.Popen(
            ["taskset", "-c", cpu_set, sys.executable, me,
             "--exec-worker"] + file_split,
            env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        return p

    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "2"))

    def _worker_seconds(p):
        out, _ = p.communicate(timeout=3600)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError("scaling worker produced no result "
                               "(crashed or was killed)")
        return json.loads(lines[-1])["seconds"]

    def one_round():
        # lo: one executor, all files
        lo_s = _worker_seconds(run_one(f"0-{cpe - 1}", files))
        # hi: n executors, disjoint cpus + file splits, wall = slowest
        procs = [run_one(f"{i * cpe}-{i * cpe + cpe - 1}",
                         files[i::n_execs_hi])
                 for i in range(n_execs_hi)]
        return lo_s, [_worker_seconds(p) for p in procs]

    rounds = []
    for r in range(repeats):
        # a crashed/killed worker (transient host pressure) voids the
        # round, not the whole run — keep what measured cleanly
        try:
            rounds.append(one_round())
        except Exception as e:  # noqa: BLE001
            print(f"scaling round {r} dropped: {e}", file=sys.stderr)
    if not rounds:
        raise RuntimeError("all scaling rounds failed")
    lo_best = min(r[0] for r in rounds)
    secs = min((r[1] for r in rounds), key=max)
    thr_lo = N_PAGES_SCALING / lo_best
    thr_hi = N_PAGES_SCALING / max(secs)
    eff = (thr_hi / thr_lo) / n_execs_hi

    # hardware-ceiling control: the bare kernel as plain pinned OS
    # processes at the SAME core occupancy (no Spark at all) — the
    # host's own saturation behavior, against which the engine's
    # efficiency is normalized (single host shares one memory
    # subsystem; a real cluster's bandwidth scales with nodes)
    def pure_round(n_procs, cpu_set_fn):
        procs = [subprocess.Popen(
            ["taskset", "-c", cpu_set_fn(i), sys.executable, me,
             "--pure-worker"] + files[i::n_procs],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True) for i in range(n_procs)]
        out_secs = []
        for p in procs:
            out, _ = p.communicate(timeout=3600)
            out_secs.append(json.loads(
                [l for l in out.splitlines()
                 if l.startswith("{")][-1])["seconds"])
        return max(out_secs)

    ctrl_lo = pure_round(4, lambda i: f"0-{cpe - 1}")
    ctrl_hi = pure_round(4 * n_execs_hi,
                         lambda i: f"0-{cpe * n_execs_hi - 1}")
    ctrl_eff = ((N_PAGES_SCALING / ctrl_hi)
                / (N_PAGES_SCALING / ctrl_lo) / n_execs_hi)

    return {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "lo_executors": 1, "hi_executors": n_execs_hi,
        "cores_per_executor": cpe,
        "lo_pages_per_sec": round(thr_lo, 1),
        "hi_pages_per_sec": round(thr_hi, 1),
        "hi_per_exec_seconds": secs,
        "hardware_ceiling_efficiency": round(ctrl_eff, 3),
        "normalized_efficiency": round(eff / ctrl_eff, 3),
        "pages": N_PAGES_SCALING, "sf": _SF,
    }


def main():
    if "--exec-worker" in sys.argv:
        i = sys.argv.index("--exec-worker")
        _exec_worker(sys.argv[i + 1:])
        return
    if "--pure-worker" in sys.argv:
        i = sys.argv.index("--pure-worker")
        _pure_worker(sys.argv[i + 1:])
        return
    if "--flagship-only" in sys.argv:
        spark = _session(CPUS)
        print(json.dumps(flagship_throughput(spark, N_PAGES, CPUS)))
        return
    if "--scaling" in sys.argv:
        res = run_scaling()
        print(json.dumps(res))
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH.md"), "a") as f:
            f.write(
                f"\n## scaling run ({time.strftime('%Y-%m-%d %H:%M')}, "
                f"{res['pages']} pages, sf={res['sf']})\n\n"
                f"| cluster size | pages/sec |\n|---|---|\n"
                f"| 1 executor × 4 tasks "
                f"({res['cores_per_executor']} CPUs) | "
                f"{res['lo_pages_per_sec']} |\n"
                f"| {res['hi_executors']} executors × 4 tasks "
                f"({res['cores_per_executor'] * res['hi_executors']}"
                f" CPUs) | {res['hi_pages_per_sec']} |\n\n"
                f"scaling efficiency (N→4N executors): **{res['value']}**"
                f" raw; hardware ceiling at same occupancy "
                f"(bare kernel, no Spark): "
                f"{res['hardware_ceiling_efficiency']}; "
                f"**normalized: {res['normalized_efficiency']}** "
                f"(target ≥0.8 per BASELINE.json north_rule); "
                f"per-executor seconds at 4N: "
                f"{res['hi_per_exec_seconds']}\n")
        return
    print(json.dumps(run_default()))


if __name__ == "__main__":
    main()
