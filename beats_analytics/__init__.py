"""Training-data and analytics operators over web-scale document,
embedding and event tables: deduplication, similarity search, text
analysis, multimodal column plumbing, event analytics and graphs.

This package sits outside the shipper. Beats ships events; it does not
dedup, embed or score them, and ``beats_spark`` (inputs → processors →
routed outputs) neither imports nor ships anything from here. The
layer builds on the shipper instead: :mod:`beats_analytics.queries`
extends the shipper's query catalog with an entry per operator, and
:mod:`beats_analytics.streaming` holds the streaming forms of the
event operators over the shipper's streams.

Everything is expressed as JVM-side DataFrame ops (hash/groupBy/join/
higher-order array functions) so Catalyst plans them; Python appears
only in the clearly-marked multimodal decode stubs and the n-gram
language-ID profile UDF.
"""

from .dedup import (
    containment_pairs,
    dedup_against,
    dedup_exact,
    exact_dup_groups,
    minhash_signature,
    minhash_lsh_pairs,
    mirror_hosts,
    ngram_jaccard_pairs,
    ngram_jaccard_prefix_pairs,
    shingles,
    simhash,
    simhash_pairs,
)
from .similarity import (
    cosine_similarity,
    cosine_topk,
    cosine_topk_blocked,
    hard_negatives,
    ivf_assign,
    ivf_cosine_topk,
    kmeans_fit,
    semdedup,
    dot,
    l2_norm,
    lsh_signature,
    lsh_cosine_topk,
    normalize,
    random_projection,
    rrf_fuse,
)
from .textstats import (
    dns_tunnel_flags,
    vocab_coverage,
    zipf_fit,
    wilson_lower_bound,
    split_sentences,
    entropy_stats_arrow,
    oov_rate,
    gopher_rules,
    lang_id_stopword,
    lang_id_ngram,
    lang_spans,
    doc_fingerprint,
    text_stats,
    token_count,
)
from .curate import curate, CurationResult
from .urls import (canonical_url, url_dedup, url_path_rollup, TRACKING_PARAMS,
                   lang_url_pairs, lang_url_skeleton)
from .spans import doc_ngrams, ngram_duplicate_stats, remove_duplicate_spans
from .sketch import (
    bloom_build, bloom_probe, countmin_build, countmin_estimate,
    hdr_histogram, hdr_percentiles, heavy_hitters, hll_distinct,
    hll_estimate, hll_merge, hll_registers, kmv_distinct,
)
from .sample import (
    cap_per_key, corpus_shuffle, filter_sweep, hash_sample,
    mixture_plan,
    mixture_sample, priority_sample, quantile_buckets,
    stratified_sample, token_budget_sample,
)
from .terms import (collocations, doc_frequency, gazetteer_match,
                    inverted_index, ndcg_at_k,
                    phrase_search, sparse_cosine_pairs,
                    tfidf_top_terms)
from .decontam import contamination_flags, decontaminate
from .htmltext import (HTML_STRIP_STEPS, dom_fingerprint,
                       dom_fingerprint_sql, extract_links, extract_text,
                       html_strip_sql, html_to_text, link_host)
from .governance import (dp_counts, k_anonymize, k_violations,
                         l_diversify, l_violations, purge_ids)
from .labeling import cohen_kappa, lf_summary, weak_label_vote
from .linkage import blocked_link
from .lm import (bigram_model, domain_weights, lm_score, nb_quality,
                 token_kl)
from .dsir import (hashed_ngram_buckets, dsir_model, dsir_score,
                   dsir_resample)
from .unicode import (
    UNICODE_CLEAN_STEPS, clean_text_column, fold_accents,
    fold_accents_sql, nfc, unicode_clean, unicode_clean_sql,
)
from .scrub import (
    C4_TERMINAL_RE, PII_PATTERNS, blocklist_filter, c4_clean,
    dedup_lines, pii_counts,
    scrub, scrub_pii,
)
from .checks import (check_constraints, corpus_report,
                     gini_concentration, profile_columns)
from .events import (
    ab_test, apdex, asof_join, clock_skew, coec_scores, counter_rates,
    covisitation, cusum_alarms, fano_burstiness, gapfill_series,
    holt_smooth, metric_correlation, rolling_active_users, sequence_gaps,
    event_transitions,
    funnel_steps, interval_join, km_survival, percentile_rollup,
    position_attribution,
    retention_cohorts,
    scd2_join, session_rollup, sessionize, trend_slope,
    weighted_percentiles, winsorize,
)
from .bpe import bpe_encode, bpe_merges
from .graph import pagerank, spam_mass, triangle_count, trustrank
from .flows import flow_aggregate
from .geo import geohash_col, geohash_oracle_sql, geohash_rollup
from .merge import merge_upsert
from .mleval import auc_roc, calibration_bins, ips_value
from .robots import (
    compile_robots_pattern, parse_robots, parse_robots_txt,
    parse_sitemap, parse_sitemap_index, robots_filter, url_path,
)
from .layout import (byte_balanced_shards, cluster_by_zorder,
                     equidepth_hist, global_prefix_sum, global_rank, skyline_2d,
                     write_bucketed, zorder_key)
from .templates import (
    TEMPLATE_MASKS, count_anomalies, log_templates, template_col,
)
from .multimodal import (
    attach_media_meta,
    extract_image_features,
    media_fingerprints,
    media_phash_pairs,
    sample_video_frames,
    set_decoder,
    set_fingerprinter,
)

__all__ = [
    "containment_pairs", "dedup_against", "dedup_exact",
    "exact_dup_groups", "minhash_signature",
    "minhash_lsh_pairs", "mirror_hosts", "ngram_jaccard_pairs",
    "ngram_jaccard_prefix_pairs", "shingles", "simhash",
    "simhash_pairs",
    "cosine_similarity", "cosine_topk", "cosine_topk_blocked",
    "hard_negatives",
    "ivf_assign", "ivf_cosine_topk", "kmeans_fit", "semdedup",
    "dot", "l2_norm", "normalize",
    "lsh_signature", "lsh_cosine_topk", "random_projection", "rrf_fuse",
    "lang_id_stopword", "lang_id_ngram", "lang_spans",
    "dns_tunnel_flags", "doc_fingerprint", "split_sentences", "clock_skew", "entropy_stats_arrow",
    "dom_fingerprint", "dom_fingerprint_sql", "wilson_lower_bound",
    "oov_rate",
    "text_stats",
    "token_count", "vocab_coverage", "zipf_fit",
    "attach_media_meta", "extract_image_features", "sample_video_frames",
    "set_decoder", "set_fingerprinter", "media_fingerprints",
    "media_phash_pairs",
    "curate", "CurationResult", "domain_weights", "nb_quality", "token_kl",
    "canonical_url", "url_dedup", "TRACKING_PARAMS",
    "lang_url_pairs", "lang_url_skeleton",
    "doc_ngrams", "ngram_duplicate_stats", "remove_duplicate_spans",
    "cap_per_key", "filter_sweep", "hash_sample", "mixture_plan",
    "mixture_sample",
    "priority_sample", "quantile_buckets", "stratified_sample",
    "token_budget_sample",
    "bloom_build", "bloom_probe", "countmin_build", "countmin_estimate",
    "hdr_histogram", "hdr_percentiles", "heavy_hitters", "hll_distinct", "hll_estimate",
    "hll_merge", "hll_registers", "kmv_distinct", "gopher_rules",
    "corpus_shuffle",
    "collocations", "doc_frequency", "gazetteer_match",
    "blocked_link",
    "covisitation",
    "dp_counts", "inverted_index", "ips_value", "k_anonymize", "k_violations", "l_diversify", "l_violations", "cohen_kappa", "ndcg_at_k",
    "phrase_search", "purge_ids",
    "sparse_cosine_pairs", "tfidf_top_terms",
    "ab_test", "apdex", "asof_join", "auc_roc", "calibration_bins", "counter_rates", "fano_burstiness", "flow_aggregate", "gapfill_series", "geohash_col", "holt_smooth", "metric_correlation", "rolling_active_users", "sequence_gaps", "weighted_percentiles", "geohash_oracle_sql", "geohash_rollup", "trend_slope", "coec_scores", "cusum_alarms", "interval_join", "check_constraints", "corpus_report", "profile_columns",
    "event_transitions", "gini_concentration",
    "funnel_steps", "km_survival",
    "percentile_rollup", "position_attribution",
    "retention_cohorts", "scd2_join", "session_rollup", "sessionize",
    "winsorize",
    "bpe_merges", "bpe_encode",
    "pagerank", "spam_mass", "triangle_count", "trustrank", "merge_upsert",
    "compile_robots_pattern", "parse_robots", "parse_robots_txt",
    "parse_sitemap", "parse_sitemap_index", "robots_filter", "url_path",
    "byte_balanced_shards", "cluster_by_zorder", "global_prefix_sum",
    "equidepth_hist", "global_rank", "skyline_2d", "url_path_rollup", "write_bucketed", "zorder_key",
    "TEMPLATE_MASKS", "count_anomalies", "log_templates",
    "template_col",
    "contamination_flags", "decontaminate",
    "HTML_STRIP_STEPS", "html_to_text", "extract_text", "html_strip_sql",
    "extract_links", "link_host",
    "bigram_model", "lf_summary", "lm_score", "weak_label_vote",
    "hashed_ngram_buckets", "dsir_model", "dsir_score", "dsir_resample",
    "UNICODE_CLEAN_STEPS", "fold_accents", "fold_accents_sql",
    "nfc", "unicode_clean",
    "unicode_clean_sql", "clean_text_column",
    "PII_PATTERNS", "scrub_pii", "pii_counts", "scrub", "dedup_lines",
    "blocklist_filter", "c4_clean", "C4_TERMINAL_RE",
]
