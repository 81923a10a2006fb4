"""Physical-plan audits: the scale properties SCALE.md claims, asserted.

These tests pin the *plan*, not the result: filters reach the parquet scan,
schemas are pruned, dimensions broadcast, top-k avoids global sorts, and no
hot path drops into row-at-a-time Python. A regression here is a 100 TB
performance bug even when results stay correct.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = E.queries_all()[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q6_filters_pushed_to_scan(spark):
    plan = _plan(spark, "q6_revenue_forecast")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan


def test_q6_schema_pruned(spark):
    plan = _plan(spark, "q6_revenue_forecast")
    # 4 referenced columns only — never the full 11-column lineitem
    read = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "l_extendedprice" in read and "l_discount" in read
    assert "l_orderkey" not in read and "l_comment" not in read


def test_q3_broadcasts_dimensions(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # map-side partial agg before the shuffle: two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2


def test_window_running_partitioned_not_global(spark):
    plan = _plan(spark, "window_running")
    assert "Window" in plan
    # partitioned by o_custkey → hashpartitioning exchange, no single-
    # partition global window
    assert "hashpartitioning(o_custkey" in plan


def test_link_fk_broadcast_lookup(spark):
    plan = _plan(spark, "link_fk")
    assert "BroadcastHashJoin" in plan


def test_no_python_udf_in_pure_sql_paths(spark):
    for name in ("q1_pricing_summary", "token_counts", "doc_fingerprint",
                  "dedup_exact", "flow_skip"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} fell into row Python"
        assert "ArrowEvalPython" not in plan, f"{name} uses Python needlessly"


def test_whole_stage_codegen_covers_scan_agg(spark):
    # codegen stage markers (*(n)) appear in the finalized AQE plan, so
    # execute first, then read the simple-mode plan
    df = E.queries_all()["q6_revenue_forecast"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "*(1)" in plan  # scan+filter+partial-agg fused in one codegen stage


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A dt-partitioned write + dt filter must show PartitionFilters at the
    scan (only matching directories read) — the layout that makes
    time-range queries at 100 TB scan a day, not the archive."""
    from pyspark.sql import functions as F

    src = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("dt")
    )
    out = str(tmp_path / "parted")
    src.write.mode("overwrite").partitionBy("dt").parquet(out)

    df = spark.read.parquet(out).filter(F.col("dt") == 3)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "dt" in line and "3" in line
    assert df.count() == 20


def test_text_metrics_single_scan(spark):
    """The merged text_metrics query must compute all three metrics in ONE
    pass over documents — no self-join, no second scan."""
    plan = _plan(spark, "text_metrics")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_quality_single_scan(spark):
    plan = _plan(spark, "text_quality")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan


def test_sample_shuffle_split_takeordered(spark):
    """limit-after-deterministic-shuffle must be TakeOrdered, not a global
    sort + collect."""
    plan = _plan(spark, "sample_shuffle_split")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_jdbc_extract_partitioned_scan(spark):
    """The jdbc extractor must produce a partitioned parallel scan (the
    reference reads a single forward-only cursor; ours splits on
    partitionColumn)."""
    df = E.queries_all()["jdbc_extract"](spark, SF)
    assert df.rdd.getNumPartitions() == 4


def test_minhash_bucket_guard_broadcasts_overfull_list(spark):
    """The degenerate-bucket guard must be a broadcast anti-join against
    the (tiny) over-full bucket list, not an extra shuffle of the banded
    rows. The dedup result itself is the corpus anti-joined with the
    broadcast drop set, materialized before the call returns."""
    from orientdb_etl_spark.functions.dedup import (
        _cap_bucket_size,
        _minhash_banded,
        minhash_lsh_dedup,
    )

    docs = spark.createDataFrame(
        [(i, f"some text number {i} with shared tokens") for i in range(10)],
        "doc_id long, text string",
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    _, banded = _minhash_banded(docs, "text", "doc_id", 64, 16, 5)
    guarded = _cap_bucket_size(banded, ["band", "bucket"], 1000)
    plan = guarded._jdf.queryExecution().explainString(mode)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    out = minhash_lsh_dedup(docs, "text", "doc_id", num_perm=64, bands=16)
    plan = out._jdf.queryExecution().explainString(mode)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def test_minhash_signatures_of_a_single_file_take_one_exchange(spark, tmp_path):
    """A one-file input is spread by the id, and that one exchange serves
    the bin-minimum aggregate, the densifying window and the per-document
    collect of the signature stage."""
    from orientdb_etl_spark.functions.dedup import _minhash_banded

    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"some text number {i} with shared tokens") for i in range(10)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    assert len(docs.inputFiles()) == 1
    sigs, _ = _minhash_banded(docs, "text", "doc_id", 64, 16, 5)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(doc_id" in plan


def test_q4_semi_join_no_post_dedup(spark):
    """The EXISTS shape must compile to a left-semi join (no distinct /
    aggregate pass over the many-matches-per-order join output)."""
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "Distinct" not in plan


def test_q8_broadcasts_all_dimensions(spark):
    """The only shuffles in Q8 should be the fact-side equi-joins and the
    final year aggregate; supplier/nation/region joins all broadcast."""
    plan = _plan(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q11_scalar_threshold_is_broadcast_not_shuffle(spark):
    """The HAVING-fraction-of-total scalar joins back as a 1-row broadcast
    nested loop, never a shuffle of the per-part values."""
    plan = _plan(spark, "q11_important_parts")
    assert "BroadcastNestedLoopJoin" in plan


def test_q13_outer_join_preserves_zero_count_rows(spark):
    plan = _plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan


def test_q21_no_cartesian_and_semi_filter_first(spark):
    """Both grouped passes read the same order-filtered fact; the status
    filter applies via a semi join before any aggregation, and nothing
    degenerates to a cartesian product."""
    plan = _plan(spark, "q21_waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_q22_anti_join_for_not_exists(spark):
    plan = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_sequence_pack_single_shuffle(spark):
    """Concat-and-chunk packing is one window over the shard key — exactly
    one Exchange (the window partition), no sort beyond the per-shard
    window sort, no Python."""
    import re

    plan = _plan(spark, "sequence_pack")
    # node detail headers "(n) Exchange" appear once per physical node
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_corpus_never_shuffles_before_join(spark):
    """The corpus side reaches the broadcast join without an Exchange; the
    only exchanges are the tiny eval-gram distinct and the matches-only
    hit-count aggregation (partial agg first)."""
    import re

    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    # exactly two shuffles: the tiny eval-gram distinct and the
    # matches-only hit-count aggregation (partial agg first); the corpus
    # side reaches the broadcast join shuffle-free
    assert "partial_count" in plan
    assert len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 2


def test_bm25_corpus_never_shuffles(spark):
    """BM25's only exchanges are the single-row stats aggregate (partial
    map-side first) and its broadcast back; the scored corpus goes straight
    to TakeOrderedAndProject — no global sort, no corpus repartition."""
    import re

    plan = _plan(spark, "bm25_rank")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, re.M)) == 1
    assert "partial_count" in plan


def test_funnel_partial_aggs_no_cartesian(spark):
    plan = _plan(spark, "funnel")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan or "partial_count" in plan
    # the single-row stage counts combine via broadcast loop joins only
    assert "BroadcastNestedLoopJoin" in plan


def test_token_budget_single_group_exchange(spark):
    import re

    plan = _plan(spark, "token_budget_sample")
    # one hash exchange (the group window); no global sort, no cartesian
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_percentiles_partial_agg_single_shuffle(spark):
    import re

    plan = _plan(spark, "percentiles")
    # sort-based percentile still partial-aggregates map-side; one group
    # exchange, no global sort of the events
    assert plan.count("ObjectHashAggregate") + plan.count("SortAggregate") >= 2
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert "Exchange rangepartitioning" not in plan


def test_stream_enrich_uses_broadcast_join(spark):
    from orientdb_etl_spark.streaming import StreamingPipeline

    dim = spark.createDataFrame([(1, "x")], "k long, v string")
    p = StreamingPipeline(
        {
            "source": {"parquet": {"path": f"{SF}/events.parquet", "tsNanosColumn": "ts"}},
            "transformers": [
                {"enrich": {"table": "dim", "on": {"user_id": "k"}}},
            ],
        },
        spark=spark,
    )
    p.register_stream("dim", dim)
    df = p.compile()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan


def test_q2_broadcasts_all_dimensions(spark):
    """Q2's four dimension joins (supplier, nation, region, part) must all
    broadcast; the only shuffles are the partsupp-surrogate aggregation
    and the window-min on p_partkey."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # LIMIT 100 after the sort keys


def test_q2_filters_pushed_to_part_scan(spark):
    plan = _plan(spark, "q2_min_cost_supplier")
    # the p_size=15 predicate must reach the parquet scan as a pushed
    # filter — no fallback: p_size merely appearing in the plan proves
    # nothing about pushdown
    assert "EqualTo(p_size,15)" in plan.replace(" ", "")
    read = next(
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "p_partkey" in ln
    )
    assert "p_name" not in read  # unused part columns pruned


def test_triangle_threshold_is_broadcast_scalar(spark):
    """The p99 threshold attaches as a broadcast single-row join (a
    BroadcastNestedLoopJoin over one row), never a shuffle; and the
    degree-ordered triangle join must not fall back to a cartesian
    product."""
    plan = _plan(spark, "triangle_count")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_gopher_and_c4_are_scan_fused(spark):
    """The quality/cleaning operators are pure per-row expressions: their
    plans must contain NO shuffle at all — the whole computation fuses
    into the scan stage (at 100 TB: zero data movement)."""
    for name in ("gopher_quality", "c4_line_filter", "ngram_repetition"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name


def test_curate_corpus_exact_variant_single_exchange(spark):
    """Exact-only curation: cleaning+filtering fuse into the scan; the
    only shuffle is exact-dedup's window over the text hash."""
    plan = _plan(spark, "curate_corpus")
    import re
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex == 1, plan[:2000]


def test_dup_passages_production_shuffles_hashes_not_text(spark):
    """The production passage profile must shuffle 8-byte xxhash64 gram
    keys, resolve duplicates with a semi-join, and never carry the gram
    TEXT through an exchange (that is the portable oracle twin's job)."""
    from orientdb_etl_spark.functions.passages import duplicate_passage_stats

    docs = E._t(spark, SF, "documents")
    df = duplicate_passage_stats(docs, "text", "doc_id", n=20)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "xxhash64" in plan
    assert "LeftSemi" in plan
    # the gram string is projected away before every exchange: no
    # Exchange input carries the concat_ws(gram) column
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange hashpartitioning" in ln:
            assert "gram" not in ln


def test_pq_topk_is_takeordered_with_broadcast_rerank(spark):
    """PQ/ADC: code-scan ranking must compile to TakeOrderedAndProject
    (per-partition top-k, no global sort) and the rerank shortlist must
    attach as a BroadcastHashJoin — the raw-vector table is filtered by
    a broadcast id set, never shuffled."""
    from orientdb_etl_spark.functions.similarity import pq_topk

    emb = E._t(spark, SF, "embeddings")
    q = E._query_vec(spark, SF)
    df = pq_topk(emb, "embedding", "vec_id", q, k=10, m=8, ksub=16, rerank=5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_manifest_fetch_plan_has_no_extra_exchange(spark, tmp_path):
    """Manifest fetch: ONE round-robin exchange to spread the manifest,
    then mapInPandas — fetching must not introduce further shuffles."""
    from orientdb_etl_spark.sources.manifest import fetch_manifest

    p = tmp_path / "f.txt"
    p.write_text("x\n")
    df = fetch_manifest([str(p)] * 4, spark=spark, mode="binary")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # exactly one Exchange node in the plan tree (the "Exchange (n)"
    # tree entries; the detail section repeats the name differently)
    assert plan.count("Exchange (") == 1
    assert "RoundRobinPartitioning" in plan


def test_semantic_dedup_pairs_join_on_cell_equi_key(spark):
    """SemDeDup's pair stage must be an equi-join on the k-means cell id
    (candidate work = sum of cell sizes squared), never an all-pairs
    cartesian; the survivor resolution stays one anti-join."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    # the id< id predicate must ride the cell equi-join as a condition,
    # not force a nested-loop over the corpus
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_near_candidates_are_band_bucket_equi_join(spark):
    """Cross-snapshot near-dedup: the new×seen candidate stage must be an
    equi-join on the LSH (band, bucket) key — never all-pairs — and the
    final drop stays anti-join-shaped."""
    plan = _plan(spark, "incremental_near")
    assert "CartesianProduct" not in plan


def test_zorder_key_is_scalar_attach_plus_codegen(spark):
    """The Z-order key costs ONE single-row min/max aggregate broadcast
    back as a scalar attach (BroadcastNestedLoopJoin over one row) plus a
    pure bit-arithmetic projection — exactly one data exchange (the agg's
    partial->final), no shuffle of the table itself, no Python."""
    plan = _plan(spark, "zorder_key")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar attach
    assert "CartesianProduct" not in plan
    assert plan.count("(6) Exchange") + plan.count("Exchange (6)") >= 1
    # the table itself never shuffles: the only plain Exchange is the
    # single-row aggregate's (SinglePartition), not a table repartition
    import re

    detail = [ln for ln in plan.splitlines() if re.match(r"\(\d+\) Exchange", ln)]
    assert len(detail) == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_domain_cap_partial_window_group_limit(spark):
    """per_domain_cap must compile to Catalyst's two-phase
    WindowGroupLimit: a map-side Partial truncation BEFORE the domain
    exchange (bounding hot-domain fan-in to n rows per upstream task)
    and a Final one after — plus exactly ONE exchange for the window."""
    plan = _plan(spark, "domain_cap")
    assert plan.count("WindowGroupLimit") >= 2
    assert "Partial" in plan and "Final" in plan
    # one exchange for the window; the planted-literal union adds none
    n_exch = plan.count("Exchange (")
    assert n_exch == 1, plan


def test_html_extract_is_scan_fused_zero_exchanges(spark):
    """The regex chain is pure projection: no shuffle anywhere."""
    plan = _plan(spark, "html_extract")
    assert "Exchange" not in plan


def test_temperature_sample_broadcasts_rates(spark):
    """The G-row rates table must broadcast onto the corpus — a
    sort-merge join here would shuffle the corpus for a 20-row dim."""
    from orientdb_etl_spark.functions.sampling import temperature_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = temperature_sample(docs, "source", "doc_id", "n_chars", 0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cms_shuffle_carries_sketch_not_rows(spark):
    """Partial hash aggregation must run BEFORE the exchange so each
    task ships at most depth*width sketch rows, never data rows."""
    from orientdb_etl_spark.functions.profiling import cms_build

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = cms_build(ev, "user_id", width=64, depth=3)._jdf.queryExecution().executedPlan().toString()
    import re

    # partial agg appears upstream (later in the bottom-up text) of the
    # exchange; both present exactly once each side
    assert "Exchange hashpartitioning" in plan
    pa = [m.start() for m in re.finditer(r"HashAggregate", plan)]
    ex = plan.index("Exchange hashpartitioning")
    assert len(pa) >= 2 and min(pa) < ex < max(pa)


def test_mad_outliers_no_window_no_global_sort(spark):
    plan = _plan(spark, "mad_outliers")
    assert "Window" not in plan
    # exact percentile is an ObjectHashAggregate, never a global sort
    assert "TakeOrderedAndProject" not in plan
    # group medians broadcast back onto the stream
    assert "BroadcastHashJoin" in plan


def test_bloom_prefilter_probe_runs_before_join(spark):
    """The big side's Bloom probe (Arrow-batched) must sit BELOW the
    join in the plan — the semi-join reduction happens pre-shuffle."""
    from orientdb_etl_spark.operators.skew import bloom_prefilter_join

    big = spark.range(10_000).selectExpr("id AS k", "id AS v")
    small = spark.range(0, 10_000, 100).selectExpr("id AS k")
    plan = bloom_prefilter_join(big, small, "k")._jdf.queryExecution().executedPlan().toString()
    # probe is a vectorized Python (Arrow) eval feeding a Filter that
    # appears on the big-side branch, not after the join
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    join_at = min(
        (plan.index(t) for t in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin") if t in plan),
    )
    probe_at = plan.index("EvalPython")
    assert probe_at > join_at  # bottom-up text: deeper operators print later


def test_scd2_three_windows_share_one_exchange(spark):
    """The change-flag, run-id, and interval-close windows all use the
    same (key, ts) partitioning — Catalyst must plan ONE hash exchange,
    not three."""
    from orientdb_etl_spark.operators.temporal import scd2_history

    df = spark.range(1000).selectExpr(
        "id % 20 AS k", "concat('v', id % 3) AS attr",
        "timestamp_seconds(id) AS ts", "id AS oid"
    )
    plan = (
        scd2_history(df, "k", "ts", ["attr"], ["oid"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_merge_intervals_single_keyed_exchange_before_agg(spark):
    """Running-max + island-id windows share one keyed exchange; the
    per-island aggregation reuses the same partitioning (partial agg on
    already-partitioned data adds no new wide exchange)."""
    from orientdb_etl_spark.operators.temporal import merge_intervals

    df = spark.range(1000).selectExpr("id % 20 AS k", "id AS s", "id + 5 AS e")
    plan = (
        merge_intervals(df, "k", "s", "e")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2  # windows: 1, agg: ≤1
    assert "SinglePartition" not in plan


def test_tfidf_topk_partial_window_group_limit(spark):
    plan = _plan(spark, "tfidf_keywords")
    # per-doc top-k must compile to WindowGroupLimit with the Partial
    # pre-shuffle prune, and the final cut is the rank filter, not a sort
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_top_paths_reuses_sequence_partitioning(spark):
    plan = _plan(spark, "top_paths")
    # the per-sequence path build (groupBy user_id) must reuse the
    # window's hashpartitioning(user_id) — exactly one user_id exchange
    assert plan.count("hashpartitioning(user_id") == 1
    # and the final top-k is TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_skyline_no_cartesian(spark):
    plan = _plan(spark, "skyline_parts")
    assert "CartesianProduct" not in plan


def test_exclusive_prefix_plan_is_range_partitioned_not_global(spark):
    # the distributed prefix (shared by skyline2d and abc_classes):
    # rangepartitioning exchange for the order-contiguous slices, window
    # partitioned BY _pid — NEVER a global unpartitioned ORDER BY window.
    # checkpoint=False keeps the plan inspectable (the production path
    # localCheckpoints, which truncates explain output).
    from pyspark.sql import functions as F

    from orientdb_etl_spark.operators.relational import exclusive_prefix

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = exclusive_prefix(
        df, ["k"], "v", "sum", "pre", "bigint", partitions=4, checkpoint=False
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "rangepartitioning(k" in plan
    assert "hashpartitioning(_pid" in plan
    # global window would be a SinglePartition exchange feeding Window
    assert "Exchange SinglePartition" not in plan.split("Window")[0]


def test_conversion_lag_filters_pushed(spark):
    plan = _plan(spark, "conversion_lag")
    # both step filters reach the events scan
    assert "EqualTo(event_type,view)" in plan.replace(" ", "")
    assert "EqualTo(event_type,purchase)" in plan.replace(" ", "")


def test_set_sim_join_no_cartesian_no_python(spark):
    plan = _plan(spark, "set_sim_join")
    # prefix filtering must make this an equi-join on the prefix token —
    # never a cross/nested-loop join; Jaccard verify is JVM array ops
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_radius_join_equi_join_on_cell_key(spark):
    plan = _plan(spark, "radius_join")
    # 3x3 cell blocking compiles to an equi-join keyed on (_cx, _cy);
    # the distance predicate is a post-join filter, not a join loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_cx" in plan and "_cy" in plan


def test_mann_whitney_rank_via_range_partitioned_prefix(spark):
    # checkpoint=False keeps the prefix subtree inspectable (the
    # production default localCheckpoints, which truncates explain)
    from orientdb_etl_spark.functions.stats import mann_whitney_u

    ev = E.queries_all.__globals__["_t"](spark, SF, "events")
    df = mann_whitney_u(
        ev, "event_type", "value", "purchase", "click", checkpoint=False
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # midranks via exclusive_prefix: the running count runs over
    # rangepartitioned order-contiguous slices of the distinct-value
    # frame — never a global ORDER BY window over raw rows
    assert "rangepartitioning(_v" in plan
    assert "Exchange SinglePartition" not in plan.split("Window")[0]
    assert "BatchEvalPython" not in plan


def test_chi_square_marginals_reuse_joint_exchange(spark):
    # the two marginal re-aggregations must physically SHARE the joint
    # groupBy(a, b) exchange (ReuseExchange), not rescan the input —
    # reuse is applied in the executed plan, so run it first
    df = E.queries_all()["chi_square"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("ReusedExchange") >= 2
    assert "CartesianProduct" not in plan


def test_benford_reuses_count_exchange_no_python(spark):
    df = E.queries_all()["benford"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the digit-count exchange feeds both the dense frame and the total
    assert "ReusedExchange" in plan
    assert "BatchEvalPython" not in plan


def test_theil_sen_pair_join_is_group_keyed(spark):
    plan = _plan(spark, "theil_sen")
    # the quadratic pair build must be an equi-join on the group key
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spearman_ranks_via_range_partitioned_prefix(spark):
    # both midrank maps use the distributed exclusive prefix — never a
    # global ORDER BY window over raw rows, never a Python UDF
    from orientdb_etl_spark.functions.stats import spearman_corr

    li = E.queries_all.__globals__["_t"](spark, SF, "lineitem")
    df = spearman_corr(
        li, "l_quantity", "l_extendedprice", checkpoint=False
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "rangepartitioning(_x" in plan
    assert "rangepartitioning(_y" in plan
    assert "Exchange SinglePartition" not in plan.split("Window")[0]
    assert "BatchEvalPython" not in plan


def test_ohlc_single_aggregate_no_window(spark):
    """OHLC bars must be ONE hash aggregate — min_by/max_by fold
    map-side; a window or self-join here would be a 100 TB regression."""
    plan = _plan(spark, "ohlc_hourly")
    assert "Window" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_mann_kendall_pair_join_broadcasts(spark):
    """The MK pair fold runs on the bounded bucket frame and must be a
    broadcast nested-loop pass, never a partitions-squared cartesian."""
    plan = _plan(spark, "mann_kendall")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ranking_metrics_window_is_query_partitioned(spark):
    """The one window must partition by the query key — a global
    (unpartitioned) sort over predictions would die at scale."""
    plan = _plan(spark, "ranking_eval")
    w = [ln for ln in plan.splitlines() if "partitionBy" in ln.lower()
         or "windowspecdefinition" in ln.lower()]
    assert any("_q" in ln for ln in w), w


def test_assortativity_no_cartesian(spark):
    plan = _plan(spark, "assortativity")
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("query", ["containment_join", "set_sim_join"])
def test_set_joins_equi_only_no_python(spark, query):
    """The prefix-filter set joins must be pure equi-joins on JVM
    expressions: no cartesian/broadcast-NL pair enumeration, no Python
    eval — verification is array_intersect on the pair's two arrays."""
    plan = _plan(spark, query)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_phrase_search_no_cartesian_no_python(spark):
    plan = _plan(spark, "phrase_search")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_jw_link_python_is_arrow_batched(spark):
    """Jaro-Winkler runs Python (no JVM builtin) — it must be the
    Arrow-vectorized pandas_udf path on the BLOCKED pair stream, never
    row-at-a-time BatchEvalPython."""
    plan = _plan(spark, "jw_link")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_readability_pure_jvm_single_scan(spark):
    """Flesch scoring is closed-form over token/sentence/syllable counts:
    pure JVM expressions fused into the scan — no join, no Python."""
    plan = _plan(spark, "readability")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_fd_audit_no_python_no_cartesian(spark):
    plan = _plan(spark, "fd_audit")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_drift_report_aggregates_before_compare(spark):
    """The two-snapshot drift report compares HISTOGRAMS, not rows: both
    sides must aggregate before any join, and the joined frames are
    bucket-sized (no exchange carrying raw-corpus rows past the agg)."""
    plan = _plan(spark, "drift_report")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # histogram aggregation (hash or sort flavor) precedes the compare,
    # and the bucket-sized sides meet in a broadcast join, never a
    # shuffled row-level exchange
    assert "SortAggregate" in plan or "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan


def test_shared_spans_pure_jvm_single_pair_shuffle(spark):
    """Span fingerprints must be scan-fused JVM expressions (no Python
    eval), and the pair stream must come from the grouped emitter —
    no self-join of the posting table, no cartesian."""
    plan = _plan(spark, "shared_spans")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # pairs are emitted, not joined


def test_strip_spans_no_python_no_posting_self_join(spark):
    """Span removal must stay JVM-side end-to-end: scan-fused
    fingerprints, ownership via one aggregate, equi-joins only, per-doc
    reassembly through a grouped sort — no Python, no cartesian."""
    plan = _plan(spark, "strip_spans")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
