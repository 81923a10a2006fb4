"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line as the
FINAL bytes of stdout (after Spark teardown, so the driver's tail capture
can parse it):

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

and writes the full audit payload (raw samples, per-sample external-busy/
steal fractions, per-query window-quality labels, host snapshots) to
BENCH_local.json ($SPARK_GRAFT_BENCH_OUT overrides). The default capture
set is CORE (~50 queries, every family); SPARK_GRAFT_BENCH_FULL=1 runs
the full registry surface.

Each query is forced with a full collect (the driver-side result sets are
small by construction — aggregates / top-k), timed wall-clock. Each query
is sampled $SPARK_GRAFT_BENCH_RUNS times (default 2) and the MINIMUM is
reported: the machine shows bursty host contention (identical runs swing
2-4x), and min-of-N is the standard way to measure the repeatable cost of
the work itself rather than one noisy draw. spark.catalog.clearCache() runs
before every sample so internal .cache() calls (minhash/simhash signature
frames) cannot leak warm data between samples — every sample is a full
recompute including planning.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entry
from orientdb_etl_spark import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "q12_shipmode_priority",
    "q14_promo_revenue",
    "semi_join_priority",
    "anti_join_customers",
    "scalar_subquery_avg",
    "min_cost_per_part",
    "topk_orders",
    "window_running",
    "rollup_sales",
    "cube_sales",
    "pivot_segments",
    "events_hourly",
    "percentiles",
    "sessionize",
    "stream_events_hourly",
    "stream_enrich",
    # round-5 streaming crawl-ingest gate (stream-static fingerprints)
    "stream_incremental",
    "link_fk",
    "merge_upsert",
    "subetl_items_agg",
    "command_transform",
    "token_counts",
    "bpe_token_counts",
    "pii_scrub",
    "chunk_documents",
    "sequence_pack",
    "decontaminate",
    "doc_fingerprint",
    "quality_scores",
    "gopher_quality",
    "ngram_repetition",
    "c4_line_filter",
    "curate_corpus",
    "lang_id",
    "bm25_rank",
    "dedup_exact",
    # production (Arrow/numpy) variants: the portable expression twins that
    # now carry the driver hash gate are correctness instruments, not the
    # scale path — bench times what 100 TB would run
    "dedup_minhash_survivors",
    "dedup_simhash",
    "dedup_pipeline",
    "ann_brute_topk",
    "ann_lsh_gaussian",
    "ann_ivf_topk",
    "ann_pairwise_approx",
    # round-5 compressed-domain ANN (PQ/ADC + exact rerank)
    "ann_pq_topk",
    # round-5 passage-level dedup (hash-gram ExactSubstr approximation)
    "dup_passages",
    "strip_passages",
    # round-5 SemDeDup (k-means-clustered embedding dedup) and
    # cross-snapshot exact+MinHash incremental dedup
    "semantic_dedup",
    "incremental_near",
    # round-5 multi-dimensional layout key (scalar-attach + codegen)
    "zorder_key",
    # round-5 CCNet-style quantile bucketing (scalar-attach, no window)
    "quantile_buckets",
    # round-5 CDC snapshot diff (one full-outer key join)
    "snapshot_diff",
    # round-5 quantile-sketch accuracy certificate
    "approx_quantile",
    # round-5 Unicode NFC normalization (Arrow map stage)
    "normalize_text",
    # round-5 URL curation: scan-fused regex pipeline + WindowGroupLimit cap
    "url_normalize",
    "domain_cap",
    # round-5 single-pass Deequ-style quality gate (one exchange)
    "expectations",
    # round-5 RRF hybrid retrieval (BM25 scan + dense top-k + tiny fusion)
    "hybrid_retrieval",
    # round-5 Bloom-pre-pass decontamination (bitmap probe before join)
    "bloom_decontam",
    # round-5 interpolated bigram-LM quality score (two model aggs + joins)
    "bigram_logprob",
    # round-5 BPE vocabulary induction (4 in-plan merge iterations)
    "bpe_merges",
    # round-7 unigram-LM induction (2 Viterbi EM iterations, JVM lattice)
    "unigram_lm",
    # round-7 shrinking-vocab variant (SentencePiece prune between EMs)
    "unigram_lm_pruned",
    # round-8 exact likelihood-loss pruning (masked self-DP per iter)
    "unigram_lm_loss",
    # round-8 tokenizer application path (segment corpus w/ trained vocab)
    "unigram_segment",
    # round-8 DSIR importance resampling (hashed-n-gram ratio scoring +
    # Gumbel-top-k selection)
    "dsir_weights",
    "dsir_select",
    # round-7 streaming near-dedup batch-equality certificate (real
    # availableNow stream + batch replay — the most expensive new row)
    "stream_near_dedup",
    # round-5 E-S weighted sampling (TakeOrderedAndProject top-k)
    "weighted_sample",
    # round-5 temperature mixture (one agg + broadcast filter)
    "temperature_mix",
    # round-5 HTML → text extraction (scan-fused regex chain)
    "html_extract",
    # round-5 trailing time-RANGE rolling window (keyed, sliding state)
    "rolling_agg",
    # round-5 median/MAD robust outliers (two scalar-attach aggs)
    "mad_outliers",
    # round-5 count-min sketch certificate (sketch-sized shuffle)
    "cms_certificate",
    # round-5 Bloom semi-join reduction (pre-shuffle big-side prune)
    "bloom_join",
    # round-5 mergeable HLL union certificate (sketch-sized shuffle)
    "hll_union",
    # round-5 grouped top-k (partial WindowGroupLimit)
    "topk_groups",
    # round-5 frontier BFS over the trade graph (join-expand per hop;
    # 3 bounded hops with early stop — stays in the headline, unlike the
    # fixed-iteration pagerank loops excluded below)
    "bfs_distances",
    # round-5 reshaping (Generate / Expand nodes, no shuffle)
    "explode_tokens",
    "unpivot_metrics",
    # round-5 SCD2 change history (one keyed exchange, 3 window passes)
    "scd2_history",
    # round-5 grouped weighted draws + gaps-and-islands coalescing
    "weighted_groups",
    "merge_intervals",
    # round-5 profiling analytics (scalar-attach / single-pass shapes)
    "histogram",
    "corr_matrix",
    "cohort_retention",
    # round-5 numeric prep (group statistics broadcast back)
    "impute_median",
    "standardize",
    # round-5 incremental rollup maintenance (state-sized merge)
    "merge_rollup",
    # round-5 cross-split leakage check (fingerprint group, no pairs)
    "split_leakage",
    # round-5 Poisson-bootstrap CI (2B aggregates, one scan)
    "bootstrap_ci",
    # round-5 percentile winsorization (scalar-attach clip)
    "winsorize",
    "multimodal_frames",
    # round-2 single-scan merged queries (driver-registry headliners)
    "text_metrics",
    "text_quality",
    "sample_shuffle_split",
    "token_budget_sample",
    # temporal joins (union-window asof, bucketized range)
    "asof_join_events",
    "range_join_attribution",
    # round-5 merge_asof nearest-direction parity (same single shuffle)
    "asof_nearest",
    # round-2 TPC-H-shape completions
    "q4_order_priority",
    "q8_market_share",
    "q11_important_parts",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q20_promo_suppliers",
    "q21_waiting_suppliers",
    "q22_idle_rich_customers",
    # round-3/4 event + graph analytics (triangle_count uses the >= 2
    # shared-parts thresholded co-supply projection — the >= 1 graph is
    # near-complete at sf0.1, a fixture degeneracy, not operator cost)
    "funnel",
    "triangle_count",
    # round-4 TPC-H completion: full correlated Q2 shape
    "q2_min_cost_supplier",
    # round-2 analytics/time-series extensions (pagerank and dedup_clusters
    # stay out: fixed-iteration loops are many bounded jobs, not one-plan
    # queries)
    "resample_gapfill",
    "grouping_sets",
    "window_lead_lag",
    "salted_join",
    # round-5 (late) behavioral / warehouse analytics wave. kcore_trade
    # stays out by the fixed-iteration rule (data-dependent peel rounds,
    # like pagerank); everything here is a one-plan query.
    "frequent_pairs",
    "transitions",
    "rfm_segments",
    "skyline_parts",
    "abc_parts",
    "conversion_lag",
    "tfidf_keywords",
    "top_paths",
    "mutual_information",
    # round-5 (final) wave: inferential stats, similarity/spatial joins,
    # smoothing, survivorship — all one-plan queries (acf/seasonal
    # collect only two scalars for the series span, the rfm discipline)
    "chi_square",
    "benford",
    "mann_whitney",
    "acf_hourly",
    "theil_sen",
    "set_sim_join",
    "containment_join",
    "shared_spans",
    "strip_spans",
    "phrase_search",
    "jw_link",
    "fd_audit",
    "readability",
    "drift_report",
    "radius_join",
    "holt",
    "seasonal_anomaly",
    "zipf_fit",
    "golden_record",
    # round-5 (last) wave. label_prop is bounded at 3 fixed rounds —
    # included under the bfs_distances precedent, not the open-ended
    # fixed-point rule that excludes pagerank/kcore/dedup_clusters.
    "label_prop",
    "growth_accounting",
    "kaplan_meier",
    "attribution",
    "quantile_map",
    "window_funnel",
    "snm_pairs",
    "collapse_runs",
    "key_skew",
    # weighted_sssp: bounded 4 rounds, the bfs/label_prop precedent
    "weighted_sssp",
    "item_similarity",
    "target_encode",
    "negative_samples",
    "roc_auc",
    "calibration",
    "gains_chart",
    # round-5 late wave: inferential stats 2 + sequence/graph/routing;
    # kmeans is bounded (2 Lloyd rounds) — the bfs/weighted_sssp precedent
    "lang_diversity",
    "jsd_drift",
    "spearman",
    "kruskal",
    "nelson_aalen",
    "cuped",
    "islands_urgent",
    "peak_concurrency",
    "adamic_adar",
    "kmeans",
    "woe_iv",
    "best_split",
    "twap",
    "rendezvous",
    # round-5 closing wave: community quality, probabilistic linkage
    # scoring, lead-lag + changepoint series analytics.
    # resolve_entities stays OUT (iterative star-contraction components
    # — the pagerank/dedup_clusters exclusion rule).
    "modularity",
    "fellegi_sunter",
    "cross_correlation",
    "changepoint",
    "log_rank",
    "anova_value",
    "levene_value",
    "avg_precision",
    "pmi_bigrams",
    "clustering_coeff",
    "assortativity",
    "mann_kendall",
    "ohlc_hourly",
    "ranking_eval",
    # round-5 (final) wave: privacy audit, downside risk, proportion
    # CIs, MA decomposition, ANF exact + HyperBall (both bounded at
    # radius 2 — the bfs/weighted_sssp fixed-round precedent)
    "k_anonymity",
    "max_drawdown",
    "proportion_ci",
    "seasonal_decompose",
    "neighborhood_2hop",
    "hyperball_cert",
    # forecast evaluation + erasure blast radius
    "forecast_backtest",
    "erasure_audit",
    "join_cardinality",
    "contribution",
    "srm_check",
    "weighted_percentiles",
    "neyman_allocation",
    # breadth + objective/causal waves
    "ams_f2",
    "phonetic_blocks",
    "local_cc",
    "grid_clusters",
    "span_corrupt",
    "vocab_coverage",
    "diff_in_diff",
    "semantic_decontam",
    "kmv_distinct",
    "hits_trade",
    "heaps_fit",
    "t_closeness",
    "feature_hash",
    "stratified_ate",
    "croston",
    "prob_scores",
    "conformal",
    "wasserstein",
    "holt_winters",
    # round-8 sixth wave (the CORE subset contract requires these here;
    # full_headline() appends every other registry query automatically)
    "pass_at_k",
    "textrank",
    "bitext_mine",
    "sq8_recall",
    "preference_pairs",
    # round-9: the operators the round-8 optimization pass claimed 2-8x
    # on (VERDICT r8 "next round" #1) — promoted into the driver-visible
    # capture set so the driver's own noop-vs-noop bench verifies the
    # wins independently (additions only; nothing removed or renamed;
    # dsir_weights is already in the curated list above)
    "fuzzy_join",
    "doremi_mix",
    "dedup_clusters",
    "ngram_jaccard",
    "qdigest_sketch",
    "qdigest_quantiles",
    "quality_clf_score",
    "jl_distortion",
    "bt_leaderboard",
    # round-9's largest local win besides unigram_lm_loss (listed
    # above), added so CORE can carry it
    "wordpiece_merges",
    # the parquet merge sink (one windowed write pass, no cache barrier)
    "merge_sink",
]

# The DRIVER-DEFAULT capture set: every driver-gate family plus the most
# expensive audited operators — small enough that the final stdout JSON
# line stays well under the driver's captured-tail budget (the reason
# BENCH_r01..r05 all recorded "parsed": null was a ~15 KB line truncated
# from the front). The full 216-query surface still runs locally with
# SPARK_GRAFT_BENCH_FULL=1 and is committed as BENCH_local_r{N}.json.
CORE = [
    # TPC-H / relational
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q12_shipmode_priority",
    "scalar_subquery_avg",
    "cube_sales",
    "pivot_segments",
    "salted_join",
    "sessionize",
    "asof_join_events",
    # ETL parity operators
    "link_fk",
    "merge_upsert",
    "subetl_items_agg",
    "command_transform",
    "html_extract",
    # streaming
    "stream_events_hourly",
    "stream_incremental",
    # text curation
    "text_metrics",
    "text_quality",
    "chunk_documents",
    "token_counts",
    "quality_scores",
    "lang_id",
    "pii_scrub",
    "sequence_pack",
    "curate_corpus",
    "sample_shuffle_split",
    # dedup / ANN
    "dedup_exact",
    "dedup_minhash_survivors",
    "dedup_pipeline",
    "semantic_dedup",
    "incremental_near",
    "dup_passages",
    "strip_passages",
    "shared_spans",
    "ann_brute_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "multimodal_frames",
    # retrieval / quality gates / ER
    "bm25_rank",
    "hybrid_retrieval",
    "phrase_search",
    "expectations",
    "fellegi_sunter",
    "bloom_decontam",
    "bpe_merges",
    "unigram_lm",
    "weighted_percentiles",
    "snapshot_diff",
    "zorder_key",
    # round-8 sixth wave (cheap representatives; stream_qdigest stays
    # FULL-only — the streaming family is already in CORE via the
    # stream_* rows)
    "pass_at_k",
    "textrank",
    "bitext_mine",
    "sq8_recall",
    "preference_pairs",
    # the five most expensive audited plans (VERDICT r5) — contended
    # minima here are exactly what the per-query quality label guards
    "containment_join",
    "set_sim_join",
    "kmeans",
    "label_prop",
    "triangle_count",
    # round-9: the round-8 optimization pass's claimed 2-8x winners,
    # promoted so the driver's bench sees them (VERDICT r8 #1; the
    # builder floors to beat: fuzzy_join 3.3, doremi_mix 15.3,
    # dedup_clusters 5.6, ngram_jaccard 3.9, qdigest 3.5/3.8,
    # quality_clf_score 4.5, dsir_weights 2.6, jl_distortion 3.1,
    # bt_leaderboard 1.8 s)
    "fuzzy_join",
    "doremi_mix",
    "dedup_clusters",
    "ngram_jaccard",
    "qdigest_sketch",
    "qdigest_quantiles",
    "quality_clf_score",
    "dsir_weights",
    "jl_distortion",
    "bt_leaderboard",
    # round-9's two largest local wins, promoted so the driver's bench
    # verifies them (additions only)
    "unigram_lm_loss",
    "wordpiece_merges",
    # the parquet merge sink (one windowed write pass, no cache barrier)
    "merge_sink",
]


def full_headline(queries: dict) -> list:
    """The FULL-profile capture list: the curated HEADLINE order first
    (the most expensive audited plans last), then every remaining
    registry query appended in name order — so the full set can never
    silently go stale when a query lands after the curated list was
    last touched (no-silent-caps: the full artifact's excluded_queries
    is [] by construction, pinned by test)."""
    return HEADLINE + sorted(n for n in queries if n not in set(HEADLINE))


def _prod_dedup_minhash_survivors(spark, sf_dir):
    """Production MinHash-LSH dedup (JVM one-permutation signatures +
    banding + verify) — what 100 TB runs. The gate twin (queries_all entry of the same
    name) wraps this in a dup-augmented invariant CERTIFICATE; bench
    times the operator, the gate hash-checks the certificate."""
    from orientdb_etl_spark.functions.dedup import minhash_lsh_dedup

    docs = entry._t(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs, "text", "doc_id", num_perm=128, bands=16, threshold=0.7
    ).select("doc_id")


def _prod_dedup_simhash(spark, sf_dir):
    from orientdb_etl_spark.functions.dedup import simhash_dedup

    docs = entry._t(spark, sf_dir, "documents")
    return simhash_dedup(docs, "text", "doc_id", max_hamming=3).select("doc_id")


def _prod_ann_lsh_gaussian(spark, sf_dir):
    from orientdb_etl_spark.functions.similarity import lsh_bucketed_topk

    emb = entry._t(spark, sf_dir, "embeddings")
    q = entry._query_vec(spark, sf_dir)
    return lsh_bucketed_topk(emb, "embedding", "vec_id", q, k=10, hamming=2)


def _prod_ann_pairwise_approx(spark, sf_dir):
    from orientdb_etl_spark.functions.similarity import pairwise_topk_join

    emb = entry._t(spark, sf_dir, "embeddings")
    return pairwise_topk_join(emb, emb, "embedding", "vec_id", "vec_id", k=3)


# Bench times the PRODUCTION paths of the approximate families; their
# queries_all twins (same names) are recall/invariant certificates that
# additionally run exact baselines and dup-augmented corpora in-plan —
# correctness instruments whose extra work is not operator cost.
def _prod_curate_corpus(spark, sf_dir):
    """Full curation composition incl. the MinHash-LSH near-dup stage —
    what a real corpus build runs (the gate twin uses exact-only dedup
    so the whole pipeline stays relationally replayable)."""
    from orientdb_etl_spark.functions.curation import curate_corpus

    docs = entry._t(spark, sf_dir, "documents")
    return curate_corpus(
        docs, "text", "doc_id",
        min_words_per_line=1, require_terminal_punct=False,
        near_dup_threshold=0.7,
    )


def _prod_ann_pq_topk(spark, sf_dir):
    """Production PQ path alone (train + encode + ADC + rerank) — the
    gate twin additionally runs the exact-cosine baseline for its recall
    certificate, which is correctness cost, not operator cost."""
    from orientdb_etl_spark.functions.similarity import pq_topk

    emb = entry._t(spark, sf_dir, "embeddings")
    q = entry._query_vec(spark, sf_dir)
    return pq_topk(emb, "embedding", "vec_id", q, k=10, m=8, ksub=256, rerank=5)


def _prod_dup_passages(spark, sf_dir):
    """Production passage profile (xxhash64 gram keys — 8 B shuffle rows;
    the gate twin shuffles gram TEXT for oracle replay)."""
    from orientdb_etl_spark.functions.passages import duplicate_passage_stats

    docs = entry._t(spark, sf_dir, "documents")
    return duplicate_passage_stats(docs, "text", "doc_id", n=20)


def _prod_strip_passages(spark, sf_dir):
    from orientdb_etl_spark.functions.passages import strip_duplicate_passages

    docs = entry._t(spark, sf_dir, "documents")
    return strip_duplicate_passages(docs, "text", "doc_id", n=20).select(
        "doc_id", "n_tokens_removed"
    )


def _prod_dedup_pipeline(spark, sf_dir):
    from orientdb_etl_spark.functions.dedup import corpus_dedup_pipeline

    docs = entry._t(spark, sf_dir, "documents")
    return corpus_dedup_pipeline(
        docs, "text", "doc_id", num_perm=128, bands=16, threshold=0.7
    ).select("doc_id")


def _prod_semantic_dedup(spark, sf_dir):
    """Production SemDeDup shape: raw corpus, k-means centroid train +
    Arrow assignment + cell-bounded pair join + keep-farthest policy (the
    gate row's planted-dup augmentation is a correctness instrument)."""
    from orientdb_etl_spark.functions.dedup import semantic_dedup

    emb = entry._t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "embedding", "vec_id", nlist=16, threshold=0.95
    ).select("vec_id")


def _prod_incremental_near(spark, sf_dir):
    """Production cross-snapshot shape: fingerprint anti-join (exact)
    then MinHash new-vs-seen near stage, raw doc_id % 10 split (the gate
    row's planted augmentation is a correctness instrument)."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.dedup import (
        incremental_dedup,
        incremental_near_dedup,
    )

    docs = entry._t(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 10 == 0)
    new = docs.filter(F.col("doc_id") % 10 != 0)
    ex = incremental_dedup(new, seen)
    return incremental_near_dedup(
        ex, seen, "text", "doc_id", threshold=0.6
    ).select("doc_id")


def _prod_set_sim_join(spark, sf_dir):
    """Production pair-stream sink: a corpus dedup consumes similarity
    pairs ENGINE-side (components / survivor pick) — it never collect()s
    ~1M pairs through the Python driver, which is what the gate twin's
    full materialization costs (~2x the operator at sf0.1). The
    count+sum fold forces every pair and its score; bench times the
    operator, the gate hash-checks the per-pair rows."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.linkage import set_similarity_join

    docs = entry._t(spark, sf_dir, "documents")
    out = set_similarity_join(docs, "doc_id", "text", threshold=0.9)
    return out.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("jaccard"), 3).alias("sum_jaccard"),
    )


def _prod_hyperball(spark, sf_dir):
    """Production HyperBall alone (constant-size HLL state per vertex —
    the 100 TB neighborhood function); the gate twin additionally runs
    the exact pair-frontier baseline for its envelope certificate, which
    is correctness cost, not operator cost."""
    from orientdb_etl_spark.functions.graph import hyperball

    edges = entry._cosupply_p99_edges(spark, sf_dir)
    return hyperball(edges, radius=2)


def _prod_containment_join(spark, sf_dir):
    """Production pair-stream sink for the containment join — same
    discipline as _prod_set_sim_join: the count+sum fold forces every
    (snippet, document) pair and its score engine-side instead of
    collecting the dense pair stream through the driver."""
    from pyspark.sql import functions as F

    out = entry.q_containment_join(spark, sf_dir)
    return out.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("containment"), 3).alias("sum_containment"),
    )


def _prod_shared_spans(spark, sf_dir):
    """Production configuration of the shared-span detector: guard=3
    winnowing (~3x smaller posting stream, spans >= 10 tokens still
    guaranteed) plus the degenerate-group cap — the shape a corpus run
    uses; the gate twin runs guard=1/uncapped to stay oracle-exact. The
    count+sum fold forces the full pair stream engine-side."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.dedup import shared_span_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = shared_span_pairs(
        docs, "text", "doc_id", window=8, guard=3, max_group=1000
    )
    return out.agg(
        F.count("*").alias("n_pairs"),
        F.sum("shared_windows").alias("sum_windows"),
    )


PROD_OVERRIDES = {
    "set_sim_join": _prod_set_sim_join,
    "containment_join": _prod_containment_join,
    "shared_spans": _prod_shared_spans,
    "hyperball_cert": _prod_hyperball,
    "semantic_dedup": _prod_semantic_dedup,
    "incremental_near": _prod_incremental_near,
    "dedup_minhash_survivors": _prod_dedup_minhash_survivors,
    "dedup_simhash": _prod_dedup_simhash,
    "ann_lsh_gaussian": _prod_ann_lsh_gaussian,
    "ann_pairwise_approx": _prod_ann_pairwise_approx,
    "ann_pq_topk": _prod_ann_pq_topk,
    "dup_passages": _prod_dup_passages,
    "strip_passages": _prod_strip_passages,
    "dedup_pipeline": _prod_dedup_pipeline,
    "curate_corpus": _prod_curate_corpus,
}


def _host_snapshot() -> dict:
    """Host-contention evidence captured INTO the artifact so a reader can
    adjudicate noisy numbers (this machine shows documented 2-4× bursts)
    without cross-referencing prose: load averages, uptime, and the
    /proc/stat jiffy counters (busy/steal deltas between the start/end
    snapshots give the share of CPU the bench did NOT get)."""
    snap: dict = {}
    try:
        snap["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        # cpu: user nice system idle iowait irq softirq steal ...
        snap["jiffies"] = {
            "total": sum(vals),
            "idle": vals[3] + (vals[4] if len(vals) > 4 else 0),
            "steal": vals[7] if len(vals) > 7 else 0,
        }
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/uptime") as f:
            snap["uptime_sec"] = round(float(f.read().split()[0]), 1)
    except (OSError, ValueError):
        pass
    return snap


def _host_window(start: dict, end: dict) -> dict:
    """Derived contention summary for the whole capture window."""
    out = {"start": start, "end": end}
    j0, j1 = start.get("jiffies"), end.get("jiffies")
    if j0 and j1 and j1["total"] > j0["total"]:
        total = j1["total"] - j0["total"]
        out["cpu_busy_frac"] = round(
            1.0 - (j1["idle"] - j0["idle"]) / total, 3
        )
        out["cpu_steal_frac"] = round((j1["steal"] - j0["steal"]) / total, 4)
    return out


# process tree whose CPU counts as OURS when attributing host busy time:
# this python driver, the Spark JVM, and every descendant (pyspark worker
# daemon + Arrow UDF workers are JVM children)
_OWN_ROOTS: set[int] = {os.getpid()}


def _proc_cpu_jiffies(pid: int) -> "tuple[int, int] | None":
    """(ppid, utime+stime+cutime+cstime) from /proc/<pid>/stat,
    comm-paren safe. cutime/cstime (CPU of REAPED children) matter:
    Arrow/pyspark workers that exit mid-window would otherwise vanish
    from the end snapshot and their CPU be misattributed to external
    contention — via cutime it lands in their reaper's counters, so the
    window delta stays correct whether a worker survives or not."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        rest = s[s.rindex(")") + 2 :].split()
        return int(rest[1]), (
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        )
    except (OSError, ValueError, IndexError):
        return None


def _own_tree_jiffies() -> int:
    """Total CPU jiffies consumed by the bench's own process tree. The
    difference of two snapshots, subtracted from the HOST busy delta,
    isolates EXTERNAL contention — the machine-checkable signal behind
    the per-query window-quality label (loadavg alone can't separate the
    bench's own 32-thread bursts from a noisy neighbour)."""
    stats: dict[int, tuple[int, int]] = {}
    try:
        pids = [int(d) for d in os.listdir("/proc") if d.isdigit()]
    except OSError:
        return 0
    for pid in pids:
        st = _proc_cpu_jiffies(pid)
        if st is not None:
            stats[pid] = st
    own = set(_OWN_ROOTS) & set(stats)
    grew = True
    while grew:  # transitive children (daemon -> workers)
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in own and pid not in own:
                own.add(pid)
                grew = True
    return sum(stats[p][1] for p in own)


def _sample_quality(
    h0: dict, h1: dict, own0: int, own1: int
) -> "dict | None":
    """External-busy and steal fractions for ONE timing sample; None when
    /proc counters were unavailable or the window was too short."""
    j0, j1 = h0.get("jiffies"), h1.get("jiffies")
    if not j0 or not j1 or j1["total"] <= j0["total"]:
        return None
    total = j1["total"] - j0["total"]
    busy = total - (j1["idle"] - j0["idle"])
    ext = max(0, busy - max(0, own1 - own0))
    return {
        "external_busy_frac": round(ext / total, 3),
        "steal_frac": round((j1["steal"] - j0["steal"]) / total, 4),
    }


# a sample is CONTENDED when processes outside the bench's own tree held
# >10% of the machine, or hypervisor steal exceeded 2%, during the window
_EXT_BUSY_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_EXT_BUSY_MAX", "0.10"))
_STEAL_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "0.02"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(
        "bench",
        extra_conf={
            # the StateStore maintenance timer (default 60 s) used to fire
            # AFTER session stop and spray a WARN stacktrace into stdout
            # behind the headline JSON — push it past any bench lifetime
            "spark.sql.streaming.stateStore.maintenanceInterval": "3600s",
        },
    )
    try:  # the JVM's CPU belongs to the bench's own process tree
        _OWN_ROOTS.add(
            int(spark._jvm.java.lang.ProcessHandle.current().pid())
        )
    except Exception:
        pass
    queries = dict(entry.queries_all())
    queries.update(PROD_OVERRIDES)

    # warm the JVM + parquet scan codegen + the Python/Arrow worker pool
    # (JIT and worker spawn are per-session fixed costs, not operator costs)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # warm hash-aggregate codegen (generic machinery, not a headline query)
    spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy("n_regionkey").count().collect()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(1024).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).select(
        _warm("id")
    ).count()

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    # SPARK_GRAFT_BENCH_ONLY=q1,q3 runs just those headline entries;
    # SPARK_GRAFT_BENCH_FULL=1 runs the full 216-query surface (the
    # committed BENCH_local_r{N}.json artifact); the default is the CORE
    # set so the driver's captured stdout tail can actually parse the line
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    full = os.environ.get("SPARK_GRAFT_BENCH_FULL", "").strip() == "1"
    if only:
        sel = {s.strip() for s in only.split(",")}
        # partial windows may name ANY registry query, not just curated
        # HEADLINE entries (new rows need capture windows too)
        headline = [n for n in HEADLINE if n in sel] + sorted(
            n for n in queries if n in sel and n not in set(HEADLINE)
        )
        profile = "only"
    elif full:
        headline, profile = full_headline(queries), "full"
    else:
        headline, profile = CORE, "core"
    host_start = _host_snapshot()
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    load_at_sample: dict[str, list[float]] = {}
    sample_quality: dict[str, list] = {}
    quality: dict[str, str] = {}
    for name in headline:
        fn = queries[name]
        samples = []
        qualities: list = []
        n = 0
        for _ in range(runs):
            spark.catalog.clearCache()
            try:
                load_at_sample.setdefault(name, []).append(
                    round(os.getloadavg()[0], 2)
                )
            except OSError:
                pass
            h0, own0 = _host_snapshot(), _own_tree_jiffies()
            t0 = time.time()
            df = fn(spark, sf_dir)
            # Timed action = the noop sink (optimization guide §1.4):
            # computes EVERY column of EVERY row and discards it, so the
            # number measures the query's distributed computation, not
            # the single-threaded row-pickle funnel of collect() — which
            # for wide results (fuzzy_join: 6.4M rows) was 10x the
            # computation itself and cannot scale with SPARK_GRAFT_CPUS,
            # poisoning the core-count scaling measurement. Rounds <= 7
            # timed len(collect()); the r07 artifacts keep those numbers
            # (methodology change documented in OPTIMIZATION_r08.md).
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            qualities.append(
                _sample_quality(h0, _host_snapshot(), own0, _own_tree_jiffies())
            )
        # row count reported OUTSIDE the timed region (informational)
        n = df.count()
        best = min(range(len(samples)), key=samples.__getitem__)
        timings[name] = round(samples[best], 3)
        spreads[name] = [round(s, 3) for s in samples]
        sample_quality[name] = qualities
        # the label adjudicates the MIN sample (the one that becomes the
        # committed number): contended minima can't pass silently as the
        # repeatable cost of a NEW query
        q = qualities[best]
        quality[name] = (
            "unknown"
            if q is None
            else "contended"
            if (
                q["external_busy_frac"] > _EXT_BUSY_MAX
                or q["steal_frac"] > _STEAL_MAX
            )
            else "ok"
        )
        print(
            f"# {name}: {timings[name]}s ({n} rows; samples "
            + "/".join(f"{s:.2f}" for s in samples)
            + f"; {quality[name]})",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    contended = sorted(n for n, v in quality.items() if v == "contended")
    # jitter honesty: min-of-N is the headline, and the FULL artifact
    # carries every raw sample, per-sample external-busy/steal fractions,
    # and the window host snapshot — auditable without trusting prose
    detail = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
        "aggregation": "min",
        "profile": profile,
        # measurement-bug fix, round 8 (guide §1.4): the timed action is
        # a noop-sink write (full computation, no driver collect). Rounds
        # <= 7 timed len(collect()) — their artifacts keep those numbers.
        "timed_action": "noop-sink write (rounds <= 7: len(collect()))",
        "samples": spreads,
        "total_per_run": [
            round(sum(s[i] for s in spreads.values()), 3) for i in range(runs)
        ],
        # per-query adjudication of the committed minimum (VERDICT r5 #5):
        # "contended" = external processes held > EXT_BUSY_MAX of the host
        # (or steal > STEAL_MAX) during the min sample's window
        "quality": quality,
        "sample_quality": sample_quality,
        "host": _host_window(host_start, _host_snapshot()),
        "load_1m_at_sample": load_at_sample,
        # no-silent-caps: every registry query NOT timed in this window,
        # by name — [] under the full profile (pinned by test), the
        # deliberate complement under core/only profiles
        "n_registry": len(queries),
        "excluded_queries": sorted(
            n for n in queries if n not in set(headline)
        ),
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        str(Path(__file__).resolve().parent / "BENCH_local.json"),
    )
    with open(out_path, "w") as f:
        f.write(json.dumps(detail))
    print(f"# full artifact: {out_path}", file=sys.stderr)

    # the driver captures a byte-limited TAIL of this process's output and
    # parses the last JSON line — so the compact line must be (a) small,
    # (b) the final bytes the process ever emits. Stop Spark FIRST (its
    # teardown logs), then print, flush, and _exit so no late JVM thread
    # (e.g. the StateStore maintenance timer) can append a stacktrace.
    try:
        for sq in spark.streams.active:
            sq.stop()
        spark.stop()
    except Exception:
        pass
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
        "aggregation": "min",
        "profile": profile,
        "timed_action": "noop",
        "contended_queries": contended,
        "detail": out_path,
    }
    sys.stderr.flush()
    print(json.dumps(compact))
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
