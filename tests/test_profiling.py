from __future__ import annotations

from pyspark.sql import functions as F

from orientdb_etl_spark.functions.profiling import (
    column_profile,
    heavy_hitters,
    ngram_topk,
)


def test_column_profile_exact(spark, people):
    prof = {r.column: r for r in column_profile(people, exact=True).collect()}
    assert set(prof) == {"id", "name", "dept", "salary"}
    assert all(r.n_rows == 4 for r in prof.values())
    assert prof["name"].n_null == 1 and prof["salary"].n_null == 1
    assert prof["dept"].n_distinct == 3
    assert prof["id"].min_value == "1" and prof["id"].max_value == "4"
    # native-type ordering, not lexicographic: 9 < 10 numerically
    nums = spark.createDataFrame([(9,), (10,)], "v int")
    row = column_profile(nums).collect()[0]
    assert (row.min_value, row.max_value) == ("9", "10")


def test_column_profile_single_job(spark, people):
    # the whole profile is ONE aggregation pass: no per-column scans
    plan = column_profile(people)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_heavy_hitters_share_and_order(spark):
    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 6 + ["b"] * 3 + ["c"] * 1], "k string"
    )
    rows = heavy_hitters(df, "k", k=2).collect()
    assert [(r.key, r.n) for r in rows] == [("a", 6), ("b", 3)]
    assert abs(rows[0].share - 0.6) < 1e-9


def test_ngram_topk_document_frequency(spark):
    df = spark.createDataFrame(
        [
            (1, "x y x y x y"),  # repeated gram counts ONCE for this doc
            (2, "x y z"),
            (3, "z q"),
        ],
        "doc_id long, text string",
    )
    rows = ngram_topk(df, "text", n=2, k=3).collect()
    top = {r.gram: r.doc_freq for r in rows}
    assert top["x y"] == 2  # doc frequency, not term frequency
    assert top["y x"] == 1


def test_incremental_dedup_filter_and_flag(spark):
    from orientdb_etl_spark.functions.dedup import incremental_dedup

    seen = spark.createDataFrame([(1, "Hello, World!")], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (2, "hello   world"),  # canonical-equal to seen doc 1
            (3, "fresh content"),
        ],
        "doc_id long, text string",
    )
    kept = incremental_dedup(new, seen).collect()
    assert [r.doc_id for r in kept] == [3]
    flagged = {
        r.doc_id: r.seen_before
        for r in incremental_dedup(new, seen, mode="flag").collect()
    }
    assert flagged == {2: True, 3: False}


def test_embedding_centroids_exact_mean(spark):
    from orientdb_etl_spark.functions.similarity import embedding_centroids

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0]),
            (0, [3.0, 6.0]),
            (1, [5.0, 5.0]),
        ],
        "label int, embedding array<float>",
    )
    rows = {r.label: r for r in embedding_centroids(df, "embedding", "label").collect()}
    assert rows[0].n_vecs == 2 and rows[0].centroid == [2.0, 4.0]
    assert rows[1].centroid == [5.0, 5.0]
    # deterministic under different partitioning
    again = {
        r.label: r.centroid
        for r in embedding_centroids(
            df.repartition(3), "embedding", "label"
        ).collect()
    }
    assert again == {k: r.centroid for k, r in rows.items()}


def test_approx_distinct_certificate(spark):
    from orientdb_etl_spark.functions.profiling import approx_distinct_certificate

    df = spark.createDataFrame(
        [(i, i % 7, "x" * (i % 3)) for i in range(500)],
        "a long, b long, c string",
    )
    rows = {r.column: r for r in approx_distinct_certificate(df, ["a", "b", "c"]).collect()}
    assert rows["a"].n_exact == 500 and rows["a"].within_tol
    assert rows["b"].n_exact == 7 and rows["b"].within_tol
    assert rows["c"].n_exact == 3 and rows["c"].within_tol


def test_snapshot_diff_classifies_all_transitions(spark):
    from orientdb_etl_spark.functions.profiling import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40)],
        "k long, v string, w long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", 30), (5, "e", 50)],
        "k long, v string, w long",
    )
    out = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 unchanged -> absent; 2 changed (b->B); 3 changed (null->c,
    # null-safe compare counts the transition); 4 removed; 5 added
    assert set(out) == {2, 3, 4, 5}
    assert out[2].change == "changed" and out[2].old_v == "b" and out[2].new_v == "B"
    assert out[3].change == "changed" and out[3].old_v is None
    assert out[4].change == "removed" and out[4].new_v is None
    assert out[5].change == "added" and out[5].old_v is None

    full = snapshot_diff(old, new, ["k"], include_unchanged=True)
    assert full.count() == 5
    # restricting compared columns ignores other drift
    wonly = {r.k: r.change for r in snapshot_diff(
        old, new, ["k"], compare_cols=["w"]
    ).collect()}
    assert wonly == {4: "removed", 5: "added"}  # w equal everywhere common


def test_snapshot_diff_single_join(spark):
    from orientdb_etl_spark.functions.profiling import snapshot_diff

    old = spark.range(100).selectExpr("id AS k", "id AS v")
    new = spark.range(100).selectExpr(
        "id AS k", "id + CASE WHEN id % 10 = 0 THEN 1 ELSE 0 END AS v"
    )
    plan = snapshot_diff(old, new, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "CartesianProduct" not in plan


def test_approx_quantile_certificate(spark):
    from orientdb_etl_spark.functions.profiling import (
        approx_quantile_certificate,
    )

    df = spark.range(10_000).selectExpr("cast(id AS double) AS x")
    out = approx_quantile_certificate(df, "x", probs=(0.1, 0.5, 0.9),
                                      accuracy=100).collect()
    assert [r.p for r in out] == [0.1, 0.5, 0.9]
    # exact interpolated quantiles of 0..9999 (float interpolation)
    for got, want in zip([r.exact_q for r in out], [999.9, 4999.5, 8999.1]):
        assert abs(got - want) < 1e-6
    assert all(r.rank_ok for r in out)


def test_mad_outliers_flags_extreme_not_inliers(spark):
    from orientdb_etl_spark.functions.profiling import mad_outliers

    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = mad_outliers(df, "v", "g", threshold=3.5).collect()
    assert [r.id for r in got] == [9]
    # med=5.5, MAD=2.5 -> z = 994.5 / (1.4826*2.5)
    assert abs(got[0].robust_z - 994.5 / (1.4826 * 2.5)) < 1e-3


def test_mad_outliers_zero_mad_group_yields_no_flags(spark):
    """Over half identical values => MAD=0 => score undefined: no flags
    rather than flagging every non-median row via divide-by-~0."""
    from orientdb_etl_spark.functions.profiling import mad_outliers

    rows = [(i, float(v)) for i, v in enumerate([5, 5, 5, 5, 100])]
    df = spark.createDataFrame(rows, "id long, v double")
    assert mad_outliers(df, "v", None).count() == 0


def test_mad_outliers_per_group_independence(spark):
    """Each group gets its own median/MAD: a value that is extreme in one
    group is typical in another."""
    from orientdb_etl_spark.functions.profiling import mad_outliers

    rows = [(i, "small", float(v)) for i, v in enumerate([1, 2, 3, 2, 1, 3, 2, 50])]
    rows += [(100 + i, "big", float(v)) for i, v in enumerate([40, 50, 60, 45, 55, 50, 48])]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {(r.g, r.id) for r in mad_outliers(df, "v", "g", threshold=3.5).collect()}
    assert got == {("small", 7)}  # 50 is an outlier among 1-3, not among 40-60


def test_cms_never_undercounts_and_is_exact_at_wide_width(spark):
    from orientdb_etl_spark.functions.profiling import cms_build, cms_estimate

    # zipf-ish: key i appears (50 - i) times, i in 0..49
    rows = [(i,) for i in range(50) for _ in range(50 - i)]
    df = spark.createDataFrame(rows, "k long")
    keys = spark.createDataFrame([(i,) for i in range(50)], "k long")

    # wide sketch: collisions vanish, estimates are exact
    sk = cms_build(df, "k", width=4096, depth=4)
    est = {r.k: r.est for r in cms_estimate(sk, keys, "k", width=4096, depth=4).collect()}
    assert est == {i: 50 - i for i in range(50)}

    # narrow sketch: collisions inflate, but NEVER undercount
    sk2 = cms_build(df, "k", width=16, depth=4)
    est2 = {r.k: r.est for r in cms_estimate(sk2, keys, "k", width=16, depth=4).collect()}
    assert all(est2[i] >= 50 - i for i in range(50))


def test_cms_sketch_size_bounded_and_unseen_key_zero(spark):
    from orientdb_etl_spark.functions.profiling import cms_build, cms_estimate

    df = spark.range(10_000).selectExpr("id % 997 AS k")
    sk = cms_build(df, "k", width=64, depth=3)
    assert sk.count() <= 3 * 64  # state bound independent of key count
    ghost = spark.createDataFrame([(123_456_789,)], "k long")
    got = cms_estimate(sk, ghost, "k", width=64, depth=3).collect()
    # an unseen key may collide (overestimate) but must not be dropped
    assert len(got) == 1 and got[0].est >= 0


def test_cms_merge_equals_sketch_of_concatenation(spark):
    """Linearity: merge(sketch(A), sketch(B)) == sketch(A ∪ B) cell for
    cell — the property that makes per-shard/per-micro-batch builds
    composable."""
    from orientdb_etl_spark.functions.profiling import cms_build, cms_merge

    a = spark.range(0, 3000).selectExpr("id % 331 AS k")
    b = spark.range(3000, 5000).selectExpr("id % 331 AS k")
    merged = cms_merge(
        cms_build(a, "k", width=128, depth=3),
        cms_build(b, "k", width=128, depth=3),
    )
    whole = cms_build(a.unionByName(b), "k", width=128, depth=3)
    m = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    w = {(r.d, r.bucket): r.cnt for r in whole.collect()}
    assert m == w


def test_hll_union_of_shards_equals_whole_sketch(spark):
    """The mergeability law: union of per-shard sketches estimates the
    SAME value as one sketch over the whole data (deterministic
    algorithm, same input set)."""
    from pyspark.sql import functions as F

    df = spark.range(50_000).selectExpr("id % 4 AS shard", "id % 9973 AS v")
    per = df.groupBy("shard").agg(F.hll_sketch_agg("v", F.lit(12)).alias("sk"))
    merged_est = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("e")
    ).first().e
    whole_est = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("v", F.lit(12))).alias("e")
    ).first().e
    assert merged_est == whole_est
    # and the estimate is close to the true 9,973
    assert abs(merged_est - 9973) <= 0.05 * 9973


def test_hll_union_certificate_rows_and_flags(spark):
    from orientdb_etl_spark.functions.profiling import hll_union_certificate

    df = spark.range(12_000).selectExpr(
        "concat('g', id % 3) AS g", "id % 701 AS v"
    )
    got = {r.scope: (r.n_exact, r.within_tol) for r in
           hll_union_certificate(df, "v", "g", lg_k=14).collect()}
    assert set(got) == {"g0", "g1", "g2", "ALL"}
    # every group sees all 701 values (12000/3 = 4000 > 701 consecutive)
    assert all(n == 701 for n, _ in got.values())
    assert all(ok for _, ok in got.values())


def test_histogram_bins_and_clamp(spark):
    from orientdb_etl_spark.functions.profiling import histogram

    df = spark.range(0, 101).selectExpr("CAST(id AS DOUBLE) AS v")
    got = {r.bucket: (r.lo, r.hi, r.n) for r in histogram(df, "v", bins=10).collect()}
    assert set(got) == set(range(1, 11))
    # 0..100 over 10 bins of width 10; max value folds into bucket 10
    assert got[1] == (0.0, 10.0, 10)
    assert got[10] == (90.0, 100.0, 11)
    assert sum(n for _, _, n in got.values()) == 101


def test_histogram_nulls_excluded_and_constant_column(spark):
    from orientdb_etl_spark.functions.profiling import histogram

    df = spark.createDataFrame(
        [(5.0,), (5.0,), (None,)], "v double"
    )
    got = histogram(df, "v", bins=4).collect()
    assert len(got) == 1 and got[0].bucket == 1 and got[0].n == 2


def test_correlation_matrix_known_values(spark):
    from orientdb_etl_spark.functions.profiling import correlation_matrix

    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) AS a",
        "CAST(2 * id + 3 AS DOUBLE) AS b",   # perfectly correlated
        "CAST(-id AS DOUBLE) AS c",          # perfectly anti-correlated
    )
    got = {(r.col_a, r.col_b): r.corr for r in correlation_matrix(df, ["a", "b", "c"]).collect()}
    assert got[("a", "b")] == 1.0
    assert got[("a", "c")] == -1.0
    assert got[("b", "c")] == -1.0
    assert len(got) == 3  # upper triangle only


def test_bootstrap_ci_brackets_truth_and_narrows_with_n(spark):
    import pytest

    from orientdb_etl_spark.functions.profiling import bootstrap_ci

    small = spark.range(200).selectExpr("id", "CAST(id % 100 AS DOUBLE) AS v")
    big = spark.range(20_000).selectExpr("id", "CAST(id % 100 AS DOUBLE) AS v")
    rs = bootstrap_ci(small, "v", "id", B=32).first()
    rb = bootstrap_ci(big, "v", "id", B=32).first()
    # the CI brackets the sample mean and the true 49.5
    assert rs.ci_lo <= rs.mean <= rs.ci_hi
    assert rs.ci_lo < 49.5 < rs.ci_hi
    assert rb.ci_lo < 49.5 < rb.ci_hi
    # 100x more data -> markedly narrower interval
    assert (rb.ci_hi - rb.ci_lo) < (rs.ci_hi - rs.ci_lo) / 3
    with pytest.raises(ValueError, match="B must be"):
        bootstrap_ci(small, "v", "id", B=2)


def test_bootstrap_ci_deterministic_and_partition_invariant(spark):
    from orientdb_etl_spark.functions.profiling import bootstrap_ci

    df = spark.range(1000).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    a = bootstrap_ci(df, "v", "id", B=16).first()
    b = bootstrap_ci(df.repartition(13), "v", "id", B=16).first()
    assert (a.mean, a.ci_lo, a.ci_hi) == (b.mean, b.ci_lo, b.ci_hi)


# ---------------------------------------------------------------------------
# key_skew_profile
# ---------------------------------------------------------------------------


def test_key_skew_profile_hot_key_and_salt(spark):
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import key_skew_profile

    # 1 hot key with 90 rows, 9 keys with 10 rows each -> mean = 18,
    # max ratio = 5, suggested salt = ceil(90/18) = 5
    df = spark.range(90).select(F.lit("hot").alias("k")).unionByName(
        spark.range(90).select(
            F.concat(F.lit("c"), (F.col("id") % 9)).alias("k")
        )
    )
    rows = key_skew_profile(df, "k", top_k=3).collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    top = rows[0]
    assert top.key == "hot" and top.n == 90
    assert top.n_keys == 10 and top.total_rows == 180
    assert top.ratio_to_mean == 5.0
    assert top.suggested_salt == 5
    assert abs(top.share - 0.5) < 1e-9


def test_key_skew_profile_uniform_no_salt(spark):
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import key_skew_profile

    df = spark.range(100).select((F.col("id") % 10).alias("k"))
    rows = key_skew_profile(df, "k", top_k=5).collect()
    assert all(r.suggested_salt == 1 for r in rows)
    assert all(r.ratio_to_mean == 1.0 for r in rows)


def test_key_skew_profile_null_key_counts(spark):
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import key_skew_profile

    df = spark.createDataFrame(
        [(None,)] * 7 + [("a",)] * 2 + [("b",)], "k string"
    )
    rows = key_skew_profile(df, "k", top_k=2).collect()
    assert rows[0].key is None and rows[0].n == 7
    assert rows[0].n_keys == 3


def test_key_islands_hand_case(spark):
    from orientdb_etl_spark.functions.profiling import key_islands

    keys = [1, 2, 3, 7, 8, 10, 15, 16, 17, 18]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = [tuple(r) for r in key_islands(df, "k").collect()]
    assert out == [(1, 3, 3), (7, 8, 2), (10, 10, 1), (15, 18, 4)]


def test_key_islands_dedups_and_ignores_nulls(spark):
    from orientdb_etl_spark.functions.profiling import key_islands

    df = spark.createDataFrame(
        [(1,), (1,), (2,), (None,), (4,)], "k long"
    )
    out = [tuple(r) for r in key_islands(df, "k").collect()]
    assert out == [(1, 2, 2), (4, 4, 1)]


def test_key_islands_partition_invariant(spark):
    from orientdb_etl_spark.functions.profiling import key_islands

    keys = [i for i in range(500) if i % 17 != 0]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    a = [tuple(r) for r in key_islands(df, "k").collect()]
    b = [tuple(r) for r in key_islands(df.repartition(13), "k").collect()]
    assert a == b and sum(r[2] for r in a) == len(keys)


def test_join_cardinality_estimate_exact(spark):
    """Estimate equals the true join output size; fanout contributors
    ranked deterministically; null keys excluded (inner-join semantics)."""
    from orientdb_etl_spark.functions.profiling import (
        join_cardinality_estimate,
    )

    left = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("c",), (None,)], "k string"
    )
    right = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("d",), (None,)], "k string"
    )
    out = join_cardinality_estimate(left, right, "k", "k", top_k=5)
    rows = out.collect()
    truth = left.join(right, "k").count()
    assert rows[0]["est_total_pairs"] == truth == 7  # a:3*2 + b:1*1
    assert rows[0]["n_matching_keys"] == 2
    assert [r["key"] for r in rows] == ["a", "b"]
    assert rows[0]["pairs"] == 6 and rows[1]["pairs"] == 1
    assert abs(rows[0]["share_of_pairs"] - 6 / 7) < 1e-6  # rounded to 6dp

    import pytest as _pt

    with _pt.raises(ValueError, match="top_k"):
        join_cardinality_estimate(left, right, "k", "k", top_k=0)


def test_weighted_percentiles_exact(spark):
    """Hand-checked type-1 weighted quantiles; unweighted degenerate
    case matches plain percentile; result invariant to repartition."""
    from orientdb_etl_spark.functions.profiling import weighted_percentiles

    # key k: values 1..4 with weights 1,1,6,2 (total 10)
    rows = [("k", 1.0, 1), ("k", 2.0, 1), ("k", 3.0, 6), ("k", 4.0, 2)]
    df = spark.createDataFrame(rows, "g string, v double, w int")
    got = {
        r["percentile"]: r
        for r in weighted_percentiles(
            df, "g", "v", "w", [10, 20, 50, 80, 100]
        ).collect()
    }
    # cum: 1->1, 2->2, 3->8, 4->10
    assert got[10]["value"] == 1.0   # cum*100=100 >= 10*10
    assert got[20]["value"] == 2.0
    assert got[50]["value"] == 3.0
    assert got[80]["value"] == 3.0
    assert got[100]["value"] == 4.0
    assert got[50]["total_weight"] == 10
    # duplicate values collapse before the prefix
    dup = df.union(spark.createDataFrame([("k", 3.0, 4)], df.schema))
    g2 = {
        r["percentile"]: r["value"]
        for r in weighted_percentiles(df.repartition(7), "g", "v", "w", [50]).collect()
    }
    assert g2[50] == 3.0
    assert (
        weighted_percentiles(dup, "g", "v", "w", [50]).collect()[0]["total_weight"]
        == 14
    )

    import pytest as _pt

    with _pt.raises(ValueError, match="percentiles"):
        weighted_percentiles(df, "g", "v", "w", [0])
    neg = spark.createDataFrame([("k", 1.0, -2)], "g string, v double, w int")
    with _pt.raises(ValueError, match="non-negative"):
        weighted_percentiles(neg, "g", "v", "w", [50])


# ------------------------------------------------------------------ fd audit


def test_fd_audit_hand_case(spark):
    from orientdb_etl_spark.functions.profiling import fd_audit

    rows = [
        # k -> v holds exactly; v -> k is violated (v=1 maps to k 1,2)
        (1, 1, "a"),
        (1, 1, "a"),
        (2, 1, "b"),
        (3, 2, "b"),
        (None, 2, "c"),   # NULL determinant is its own group
        (4, None, "c"),   # NULL dependent is a value
        (4, None, "c"),
    ]
    df = spark.createDataFrame(rows, "k int, v int, s string")
    out = {
        (r.determinant, r.dependent): r
        for r in fd_audit(df, [("k", "v"), ("v", "k"), ("s", "v")]).collect()
    }
    kv = out[("k", "v")]
    assert kv.exact and kv.n_violating == 0 and kv.g3 == 0.0
    assert kv.n_groups == 5 and kv.n_rows == 7
    vk = out[("v", "k")]
    # v=1: ks {1,1,2} -> remove 1 row; v=2: {3,None} -> remove 1;
    # v=None: {4,4} ok => g3 = 2/7
    assert not vk.exact and vk.n_violating == 2
    assert vk.g3 == round(2 / 7, 6)
    sv = out[("s", "v")]
    # s=a: v {1,1} ok; s=b: {1,2} violated (1); s=c: {2,None,None} (1)
    assert sv.n_violating == 2 and sv.g3 == round(2 / 7, 6)


def test_fd_audit_validation_and_candidates(spark):
    import pytest

    from orientdb_etl_spark.functions.profiling import (
        fd_audit,
        fd_candidates,
    )

    df = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(ValueError):
        fd_audit(df, [])
    with pytest.raises(ValueError):
        fd_audit(df, [("a", "a")])
    assert fd_candidates(["a", "b", "c"]) == [
        ("a", "b"), ("a", "c"), ("b", "a"), ("b", "c"), ("c", "a"),
        ("c", "b"),
    ]


def test_fd_audit_sql_twin_matches(spark):
    import duckdb

    from orientdb_etl_spark.functions.profiling import (
        fd_audit,
        fd_audit_sql,
    )

    rows = [(i % 7, i % 3, i % 2) for i in range(50)] + [(None, 0, 1)]
    df = spark.createDataFrame(rows, "a int, b int, c int")
    cands = [("a", "b"), ("b", "c"), ("c", "a")]
    got = {
        (r.determinant, r.dependent): (
            r.n_groups, r.n_violating, r.n_rows, r.exact, r.g3
        )
        for r in fd_audit(df, cands).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a INT, b INT, c INT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    exp = {
        (d, p): (ng, nv, nr, ex, g3)
        for d, p, ng, nv, nr, ex, g3 in con.execute(
            fd_audit_sql("t", cands)
        ).fetchall()
    }
    assert got == exp


def test_drift_report_hand_case(spark):
    from orientdb_etl_spark.functions.profiling import drift_report

    ref = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "b", None), (4, None, 40.0)],
        "id int, seg string, v double",
    )
    cur = spark.createDataFrame(
        [(5, "a", 10.0), (6, "c", 99.0), (7, None, None), (8, None, 5.0)],
        "id int, seg string, v double",
    )
    got = {r.column: r for r in drift_report(ref, cur).collect()}
    v = got["v"]
    assert (v.n_ref, v.n_cur, v.null_ref, v.null_cur) == (4, 4, 1, 1)
    assert v.null_rate_delta == 0.0
    assert v.ndv_ratio == 1.0  # 3 distinct either side
    assert v.range_changed  # max 40.0 -> 99.0
    seg = got["seg"]
    assert seg.null_rate_delta == round(2 / 4 - 1 / 4, 6)
    assert seg.ndv_ratio == 1.0 and seg.range_changed  # {a,b} -> {a,c}
    i = got["id"]
    assert i.ndv_ratio == 1.0 and i.range_changed


def test_drift_report_validation_and_all_null_ref(spark):
    import pytest

    from orientdb_etl_spark.functions.profiling import drift_report

    a = spark.createDataFrame([(1,)], "x int")
    b = spark.createDataFrame([(1,)], "y int")
    with pytest.raises(ValueError):
        drift_report(a, b)
    ref = spark.createDataFrame([(None,), (None,)], "v string")
    cur = spark.createDataFrame([("z",)], "v string")
    r = drift_report(ref, cur).collect()[0]
    assert r.ndv_ratio is None  # all-NULL reference: ratio undefined
    assert r.null_rate_delta == round(0 / 1 - 2 / 2, 6)


# ---------------------------------------------------------------- AMS F2


def test_ams_f2_exact_side_and_shape(spark):
    from orientdb_etl_spark.functions.profiling import ams_f2_certificate

    rows = [(k,) for k in [1] * 10 + [2] * 5 + [3] * 1 + [None]]
    df = spark.createDataFrame(rows, "k bigint")
    out = ams_f2_certificate(df, "k", estimators=9).collect()
    assert len(out) == 1
    r = out[0]
    assert r.exact_f2 == 100 + 25 + 1  # NULL keys excluded
    assert r.n_estimators == 9
    assert r.est_f2 >= 0
    assert abs(r.rel_err - abs(r.est_f2 - r.exact_f2) / r.exact_f2) < 1e-6


def test_ams_f2_sql_twin_matches_spark(spark, tmp_path):
    import duckdb

    from orientdb_etl_spark.functions.profiling import (
        ams_f2_certificate,
        ams_f2_sql,
    )

    rows = [(i % 37,) for i in range(500)] + [(7,)] * 60
    df = spark.createDataFrame(rows, "k bigint")
    p = str(tmp_path / "t.parquet")
    df.write.mode("overwrite").parquet(p)
    got = ams_f2_certificate(spark.read.parquet(p), "k", estimators=9).collect()[0]
    want = duckdb.sql(
        ams_f2_sql(f"read_parquet('{p}/*.parquet')", "k", estimators=9)
    ).fetchone()
    assert (got.exact_f2, got.est_f2) == (want[0], want[1])
    assert abs(got.rel_err - want[2]) < 1e-9


def test_ams_f2_rejects_even_estimators(spark):
    import pytest

    from orientdb_etl_spark.functions.profiling import ams_f2_certificate

    df = spark.createDataFrame([(1,)], "k bigint")
    with pytest.raises(ValueError):
        ams_f2_certificate(df, "k", estimators=4)


# ------------------------------------------------------------------ KMV


def test_kmv_exact_branch_small_ndv(spark):
    from orientdb_etl_spark.functions.profiling import kmv_distinct_certificate

    df = spark.createDataFrame([(i % 7,) for i in range(100)], "k bigint")
    r = kmv_distinct_certificate(df, "k", k=64).collect()[0]
    assert (r.scope, r.n_exact, r.est, r.rel_err) == ("ALL", 7, 7.0, 0.0)


def test_kmv_estimator_and_union_row(spark):
    from orientdb_etl_spark.functions.profiling import kmv_distinct_certificate

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "k bigint, g string")
    out = {r.scope: r for r in kmv_distinct_certificate(
        df, "k", group_col="g", k=64).collect()}
    assert set(out) == {"a", "b", "ALL"}
    assert out["ALL"].n_exact == 2000
    # estimator branch engaged (1000 > 64) and lands within 40% here
    for s in ("a", "b", "ALL"):
        assert out[s].rel_err < 0.4, (s, out[s])


def test_kmv_union_equals_sketch_of_union(spark):
    # k smallest of (k-smallest(A) ∪ k-smallest(B)) == k smallest of A∪B
    from orientdb_etl_spark.functions.profiling import kmv_distinct_certificate

    rows = [(i, "a" if i < 900 else "b") for i in range(1500)]
    df = spark.createDataFrame(rows, "k bigint, g string")
    grouped = {r.scope: r.est for r in kmv_distinct_certificate(
        df, "k", group_col="g", k=32).collect()}
    flat = kmv_distinct_certificate(df, "k", k=32).collect()[0].est
    assert grouped["ALL"] == flat


# ------------------------------------------------------------- Heaps fit


def test_heaps_fit_known_growth(spark):
    # vocabulary that never repeats -> V = n exactly -> beta = 1, r2 = 1
    docs = [(i, " ".join(f"w{i}_{j}" for j in range(10))) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    from orientdb_etl_spark.functions.profiling import heaps_fit

    r = heaps_fit(df, "text", "doc_id").collect()[0]
    assert (r.n_docs, r.total_tokens, r.vocab) == (30, 300, 300)
    assert r.heaps_beta == 1.0 and r.r2 == 1.0 and r.heaps_k == 1.0


def test_heaps_fit_saturating_vocab(spark):
    # fixed 5-word vocabulary -> growth flattens, beta well below 1
    docs = [(i, "a b c d e") for i in range(50)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    from orientdb_etl_spark.functions.profiling import heaps_fit

    r = heaps_fit(df, "text", "doc_id").collect()[0]
    assert r.vocab == 5 and r.heaps_beta < 0.3


def test_weighted_percentiles_fractional_weights_and_mixed_sign(spark):
    """Regression (round-6 advice): fractional weights quantize with an
    EXPLICIT scale (floor(w*scale)) instead of silently truncating to
    long, and a negative ROW weight raises even when its (key, value)
    group sums non-negative."""
    from orientdb_etl_spark.functions.profiling import weighted_percentiles

    frac = spark.createDataFrame(
        [("k", 1.0, 0.9), ("k", 2.0, 0.9)], "g string, v double, w double"
    )
    # default scale=1 floors 0.9 -> 0: zero total weight, no quantile
    assert weighted_percentiles(frac, "g", "v", "w", [50]).count() == 0
    got = {
        r["percentile"]: (r["value"], r["total_weight"])
        for r in weighted_percentiles(
            frac, "g", "v", "w", [50, 100], weight_scale=10
        ).collect()
    }
    assert got[50] == (1.0, 18)  # 9+9, p50 hits the first value
    assert got[100] == (2.0, 18)

    import pytest

    mixed = spark.createDataFrame(
        [("k", 1.0, 5.0), ("k", 1.0, -1.0)], "g string, v double, w double"
    )
    # group sum = 4 >= 0, but the ROW-level witness must catch the -1
    with pytest.raises(ValueError, match="non-negative"):
        weighted_percentiles(mixed, "g", "v", "w", [50])
    with pytest.raises(ValueError, match="weight_scale"):
        weighted_percentiles(frac, "g", "v", "w", [50], weight_scale=0)


def test_mad_outliers_and_weighted_percentiles_keep_null_key_groups(spark):
    """Regression (round-6 sweep of the t-closeness defect class): a
    NULL grouping key is its own group under groupBy, so the per-group
    scalar join-back must be NULL-SAFE — plain on=keys silently dropped
    every NULL-keyed row."""
    from orientdb_etl_spark.functions.profiling import (
        mad_outliers,
        weighted_percentiles,
    )

    rows = (
        [(None, float(v)) for v in (1, 2, 1, 2, 1, 2, 100)]
        + [("a", float(v)) for v in (5, 6, 5, 6, 5, 6, 500)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.g: r.v for r in mad_outliers(df, "v", ["g"]).collect()}
    assert out == {None: 100.0, "a": 500.0}

    wrows = [(None, 1.0, 3), (None, 2.0, 7), ("a", 9.0, 10)]
    wdf = spark.createDataFrame(wrows, "g string, v double, w int")
    got = {
        (r.g, r.percentile): (r.value, r.total_weight)
        for r in weighted_percentiles(wdf, "g", "v", "w", [50]).collect()
    }
    # NULL group: cum 1.0->3, 2.0->10; p50 threshold 5 -> value 2.0
    assert got[(None, 50)] == (2.0, 10)
    assert got[("a", 50)] == (9.0, 10)


def test_qdigest_guarantees_and_determinism(spark):
    """Q-digest invariants on a skewed corpus: mass conservation, the
    ≤3k node bound, never-undershoot at every quantile, overshoot
    within universe_bits·n/k, and the same sketch on any layout."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import (
        qdigest_build,
        qdigest_quantiles,
    )

    # zipf-ish: value = id % (id % 97 + 1) — heavy mass at small values
    df = spark.range(8000).selectExpr("id % (id % 97 + 1) AS v")
    vals = sorted(r.v for r in df.collect())
    n, k, U = len(vals), 64, 7
    sk = qdigest_build(df, "v", k=k, universe_bits=U)
    assert sk.agg(F.sum("cnt")).first()[0] == n  # mass conserved
    assert sk.count() <= 3 * k
    spread = qdigest_build(df.repartition(5), "v", k=k, universe_bits=U)
    assert sorted(map(tuple, sk.collect())) == sorted(
        map(tuple, spread.collect())
    )
    qs = [0.05, 0.25, 0.5, 0.75, 0.95, 1.0]
    got = qdigest_quantiles(sk, qs, k=k, universe_bits=U).collect()
    assert len(got) == len(qs)
    import bisect

    bound = U * max(n // k, 1)
    for r in got:
        exact_le = bisect.bisect_right(vals, r.est)
        assert exact_le >= r.target_rank, (r.q, r.est)  # never undershoot
        assert exact_le - r.target_rank <= bound, (r.q, r.est)


def test_qdigest_merge_matches_union_guarantees(spark):
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.profiling import (
        qdigest_build,
        qdigest_merge,
        qdigest_quantiles,
    )

    a = spark.range(3000).selectExpr("id % 500 AS v")
    b = spark.range(3000, 5000).selectExpr("id % 900 AS v")
    k, U = 64, 10
    m = qdigest_merge(
        qdigest_build(a, "v", k, U), qdigest_build(b, "v", k, U), k, U
    )
    vals = sorted(
        r.v for r in a.unionByName(b).collect()
    )
    n = len(vals)
    assert m.agg(F.sum("cnt")).first()[0] == n
    assert m.count() <= 3 * k
    import bisect

    # the merged sketch's guarantee degrades by one extra n/k per merge
    bound = (U + 1) * max(n // k, 1)
    for r in qdigest_quantiles(m, [0.1, 0.5, 0.9], k, U).collect():
        exact_le = bisect.bisect_right(vals, r.est)
        assert exact_le >= r.target_rank
        assert exact_le - r.target_rank <= bound


def test_qdigest_validations_and_config(spark):
    import pytest

    from orientdb_etl_spark import Pipeline
    from orientdb_etl_spark.functions.profiling import (
        qdigest_build,
        qdigest_quantiles,
    )

    df = spark.range(100).selectExpr("id AS v")
    with pytest.raises(ValueError, match="universe_bits"):
        qdigest_build(df, "v", universe_bits=0)
    with pytest.raises(ValueError, match="lie in"):
        qdigest_build(df, "v", universe_bits=5)  # max 99 >= 32
    with pytest.raises(ValueError, match="no non-null"):
        qdigest_build(
            spark.createDataFrame([(None,)], "v long"), "v", universe_bits=5
        )
    sk = qdigest_build(df, "v", k=16, universe_bits=7)
    with pytest.raises(ValueError, match="non-empty"):
        qdigest_quantiles(sk, [])
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        qdigest_quantiles(sk, [0.0])

    out = (
        Pipeline(
            {
                "extractor": {"table": {"name": "t"}},
                "transformers": [
                    {"profile": {"method": "qdigest", "valueField": "v",
                                 "k": 16, "universeBits": 7,
                                 "quantiles": [0.5, 1.0]}},
                ],
                "loader": {"memory": {"view": "qq"}},
            },
            spark=spark,
        )
        .register_table("t", df)
        .run()
        .outputs["qq"]
    )
    rows = {r.q: r for r in out.collect()}
    # est is a dyadic-range UPPER bound — it may exceed the data max
    # (never its universe); the contract is the rank guarantee
    assert rows[1.0].target_rank == 100 and 99 <= rows[1.0].est < 128
    assert rows[0.5].est >= 49


# ---------------------------------------------------------------------------
# kmv_overlap_certificate
# ---------------------------------------------------------------------------


def test_kmv_overlap_exact_branch_small_sets(spark):
    """Sets smaller than k: the union sketch holds every hash, so the
    estimate is collision-exact and jaccard_est equals the sample
    Jaccard of the full hash sets."""
    from orientdb_etl_spark.functions.profiling import (
        kmv_overlap_certificate,
    )

    a = spark.createDataFrame([(i,) for i in range(40)], "k bigint")
    b = spark.createDataFrame([(i,) for i in range(20, 60)], "k bigint")
    r = kmv_overlap_certificate(a, b, "k", k=256).collect()[0]
    assert (r.n_a, r.n_b, r.n_inter) == (40, 40, 20)
    assert r.est_inter == 20.0 and r.rel_err == 0.0
    assert abs(r.jaccard_exact - 20 / 60) < 1e-6
    assert r.jaccard_est == r.jaccard_exact


def test_kmv_overlap_estimator_accuracy_large_sets(spark):
    """Sets far above k: the sketch estimate lands within the expected
    O(1/sqrt(k)) band of the true intersection."""
    from orientdb_etl_spark.functions.profiling import (
        kmv_overlap_certificate,
    )

    a = spark.createDataFrame([(i,) for i in range(8000)], "k bigint")
    b = spark.createDataFrame(
        [(i,) for i in range(4000, 14000)], "k bigint"
    )
    r = kmv_overlap_certificate(a, b, "k", k=256).collect()[0]
    assert (r.n_a, r.n_b, r.n_inter) == (8000, 10000, 4000)
    assert r.rel_err < 0.35
    assert abs(r.jaccard_est - r.jaccard_exact) < 0.1


def test_kmv_overlap_matches_sql_twin(spark):
    """Spark certificate row == DuckDB kmv_overlap_sql replay — the
    no-tolerance-band cross-engine contract."""
    import duckdb
    import pandas as pd

    from orientdb_etl_spark.functions.profiling import (
        kmv_overlap_certificate,
        kmv_overlap_sql,
    )

    rows_a = [(i * 7,) for i in range(3000)]
    rows_b = [(i * 11,) for i in range(2500)]
    a = spark.createDataFrame(rows_a, "k bigint")
    b = spark.createDataFrame(rows_b, "k bigint")
    got = tuple(kmv_overlap_certificate(a, b, "k", k=128).collect()[0])
    con = duckdb.connect()
    con.register("ta", pd.DataFrame(rows_a, columns=["k"]))
    con.register("tb", pd.DataFrame(rows_b, columns=["k"]))
    want = con.execute(kmv_overlap_sql("ta", "tb", "k", k=128)).fetchall()[0]
    assert got == tuple(want)


def test_kmv_overlap_disjoint_and_validation(spark):
    from orientdb_etl_spark.functions.profiling import (
        kmv_overlap_certificate,
    )
    import pytest

    a = spark.createDataFrame([(i,) for i in range(500)], "k bigint")
    b = spark.createDataFrame([(i + 100000,) for i in range(500)], "k bigint")
    r = kmv_overlap_certificate(a, b, "k", k=64).collect()[0]
    assert r.n_inter == 0 and r.jaccard_exact == 0.0
    assert r.rel_err is None  # undefined against a zero intersection
    with pytest.raises(ValueError, match="k must be"):
        kmv_overlap_certificate(a, b, "k", k=1)


def test_kmv_overlap_config_transformer(spark):
    from orientdb_etl_spark import Pipeline

    a = spark.createDataFrame([(i,) for i in range(30)], "u bigint")
    b = spark.createDataFrame([(i + 10,) for i in range(30)], "u bigint")
    p = (
        Pipeline(
            {
                "extractor": {"table": {"name": "a"}},
                "transformers": [
                    {"kmvOverlap": {"otherTable": "b", "keyField": "u"}}
                ],
                "loader": {"memory": {"view": "ov"}},
            },
            spark=spark,
        )
        .register_table("a", a)
        .register_table("b", b)
    )
    r = p.run().outputs["ov"].collect()[0]
    assert (r.n_a, r.n_b, r.n_inter) == (30, 30, 20)
    assert r.est_inter == 20.0


def test_qdigest_compress_top_level_bound_raises(spark):
    """_qdigest_compress's driver finish collects the nodes at levels
    >= split — bounded by the dyadic universe. A node table violating
    the contract (more distinct rows than the universe admits) must
    fail loud, not grow the driver state (VERDICT r8 #8)."""
    import pytest

    from orientdb_etl_spark.functions.profiling import _qdigest_compress

    # universe_bits=2 -> split=0, bound=2^3=8; feed 12 "nodes"
    rows = [(0, i, 1) for i in range(12)]
    nodes = spark.createDataFrame(rows, "lvl int, idx long, cnt long")
    with pytest.raises(RuntimeError, match="construction bound"):
        _qdigest_compress(nodes, t=100, universe_bits=2)
