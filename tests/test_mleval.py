"""ROC-AUC and calibration: verified against plain-python references."""

from __future__ import annotations

import pytest

from orientdb_etl_spark.functions.mleval import calibration_curve, roc_auc


def _scored(spark, rows):
    return spark.createDataFrame(rows, "s double, y int")


def _auc_ref(rows):
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    return wins / (len(pos) * len(neg))


def test_roc_auc_matches_pairwise_reference_with_ties(spark):
    rows = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.7, 1), (0.5, 0),
        (0.5, 1), (0.5, 0), (0.3, 0), (0.2, 1), (0.1, 0),
    ]
    r = roc_auc(_scored(spark, rows), "s", "y").collect()[0]
    assert (r.n_pos, r.n_neg) == (5, 5)
    assert abs(r.auc - round(_auc_ref(rows), 6)) < 1e-9


def test_roc_auc_perfect_and_inverted(spark):
    perfect = [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)]
    assert roc_auc(_scored(spark, perfect), "s", "y").collect()[0].auc == 1.0
    inverted = [(s, 1 - y) for s, y in perfect]
    assert roc_auc(_scored(spark, inverted), "s", "y").collect()[0].auc == 0.0


def test_roc_auc_degenerate_one_class_null(spark):
    rows = [(0.9, 1), (0.1, 1)]
    assert roc_auc(_scored(spark, rows), "s", "y").collect()[0].auc is None


def test_calibration_bins_and_brier(spark):
    rows = [
        (0.05, 0), (0.05, 0), (0.15, 0), (0.15, 1),
        (0.95, 1), (0.95, 1), (0.95, 0),
    ]
    out = calibration_curve(_scored(spark, rows), "s", "y", bins=10).collect()
    by = {r.bin: r for r in out}
    assert by[1].n == 2 and by[1].frac_pos == 0.0
    assert by[2].frac_pos == 0.5
    assert by[10].n == 3 and abs(by[10].frac_pos - round(2 / 3, 6)) < 1e-9
    brier = sum((s - y) ** 2 for s, y in rows) / len(rows)
    assert all(abs(r.brier - round(brier, 6)) < 1e-9 for r in out)
    # gap is signed over-confidence
    assert abs(by[10].gap - round(0.95 - 2 / 3, 6)) < 1e-9


def test_calibration_clamps_out_of_range(spark):
    rows = [(-0.2, 0), (1.3, 1)]
    out = calibration_curve(_scored(spark, rows), "s", "y", bins=10).collect()
    assert sorted(r.bin for r in out) == [1, 10]
    with pytest.raises(ValueError, match="bins"):
        calibration_curve(_scored(spark, rows), "s", "y", bins=1)


def test_gains_chart_perfect_ranking(spark):
    from orientdb_etl_spark.functions.mleval import gains_chart

    # 100 rows, 20 positives all in the top 20 scores: the top two
    # deciles capture everything, lift of decile 1 = 5x
    rows = [(float(100 - i), i, 1 if i < 20 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, id bigint, y int")
    out = {r.bucket: r for r in gains_chart(df, "s", "y", "id").collect()}
    assert out[1].n == 10 and out[1].n_pos == 10
    assert out[1].lift == 5.0 and out[1].capture == 0.5
    assert out[2].capture == 1.0 and out[2].cum_pos == 20
    assert out[10].capture == 1.0 and out[10].lift == 1.0


def test_gains_chart_random_scores_lift_near_one(spark):
    from orientdb_etl_spark.functions.mleval import gains_chart

    # label independent of score: final lift exactly 1, buckets equal-count
    rows = [(float((i * 37) % 101), i, i % 2) for i in range(200)]
    df = spark.createDataFrame(rows, "s double, id bigint, y int")
    out = gains_chart(df, "s", "y", "id").collect()
    assert [r.n for r in out] == [20] * 10
    assert out[-1].lift == 1.0


def test_gains_chart_deterministic_under_ties(spark):
    from orientdb_etl_spark.functions.mleval import gains_chart

    rows = [(1.0, i, i % 3 == 0) for i in range(30)]  # ALL scores tied
    df = spark.createDataFrame(
        [(s, i, int(y)) for s, i, y in rows], "s double, id bigint, y int"
    )
    a = [tuple(r) for r in gains_chart(df, "s", "y", "id").collect()]
    b = [tuple(r) for r in gains_chart(df.repartition(7), "s", "y", "id").collect()]
    assert a == b  # id tie-break makes tied scores deterministic


def test_average_precision_hand_computed(spark):
    from orientdb_etl_spark.functions.mleval import average_precision

    # order by score desc: y = [1, 0, 1, 1, 0]
    rows = [(1, 0.9, 1), (2, 0.8, 0), (3, 0.7, 1), (4, 0.6, 1), (5, 0.5, 0)]
    df = spark.createDataFrame(rows, "id long, s double, y int")
    r = average_precision(df, "s", "y", "id").collect()[0]
    want = (1 / 1 + 2 / 3 + 3 / 4) / 3
    assert (r.n, r.n_pos) == (5, 3)
    assert r.average_precision == round(want, 6)


def test_average_precision_tie_break_and_degenerate(spark):
    from orientdb_etl_spark.functions.mleval import average_precision

    # tied scores cut by id asc: ids 1 (y=0), 2 (y=1) at same score
    rows = [(1, 0.5, 0), (2, 0.5, 1)]
    df = spark.createDataFrame(rows, "id long, s double, y int")
    r = average_precision(df, "s", "y", "id").collect()[0]
    assert r.average_precision == 0.5  # positive lands at rank 2
    none = spark.createDataFrame([(1, 0.5, 0)], "id long, s double, y int")
    assert average_precision(none, "s", "y", "id").collect()[0].average_precision is None


def test_average_precision_perfect_ranking(spark):
    from orientdb_etl_spark.functions.mleval import average_precision

    rows = [(i, 1.0 - i / 100.0, 1 if i < 5 else 0) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, s double, y int")
    assert average_precision(df, "s", "y", "id").collect()[0].average_precision == 1.0


def test_ranking_metrics_hand_computed(spark):
    import math

    from orientdb_etl_spark.functions.mleval import ranking_metrics

    rows = [
        # q1: positive at rank 2 of 3
        ("q1", 0.9, 0, 1), ("q1", 0.8, 1, 2), ("q1", 0.7, 0, 3),
        # q2: positives at ranks 1 and 3
        ("q2", 0.9, 1, 1), ("q2", 0.8, 0, 2), ("q2", 0.7, 1, 3),
        # q3: no positive -> excluded from the averages
        ("q3", 0.5, 0, 1),
    ]
    df = spark.createDataFrame(rows, "q string, s double, y int, id long")
    r = ranking_metrics(df, "q", "s", "y", "id", k=3).collect()[0]
    assert (r.n_queries, r.n_with_pos) == (3, 2)
    assert r.mrr == round((1 / 2 + 1 / 1) / 2, 6)
    lg = lambda i: math.log(2.0) / math.log(i + 1.0)
    ndcg1 = lg(2) / lg(1)
    ndcg2 = (lg(1) + lg(3)) / (lg(1) + lg(2))
    assert r.ndcg_at_k == round((ndcg1 + ndcg2) / 2, 6)
    assert r.hit_rate_at_k == 1.0


def test_ranking_metrics_k_cutoff_and_ties(spark):
    from orientdb_etl_spark.functions.mleval import ranking_metrics

    # positive beyond k: dcg@1 = 0, hit@1 = 0, but mrr still counts it
    rows = [("q", 0.9, 0, 1), ("q", 0.9, 1, 2)]  # tie cut by id asc
    df = spark.createDataFrame(rows, "q string, s double, y int, id long")
    r = ranking_metrics(df, "q", "s", "y", "id", k=1).collect()[0]
    assert r.mrr == 0.5  # positive ranked 2nd by the id tie-break
    assert r.ndcg_at_k == 0.0 and r.hit_rate_at_k == 0.0


# ----------------------------------------------------------- prob scores


def test_prob_scores_perfect_and_known(spark):
    from orientdb_etl_spark.functions.mleval import prob_scores

    perfect = spark.createDataFrame(
        [(1, 1.0), (0, 0.0), (1, 1.0)], "y int, p double"
    )
    r = prob_scores(perfect, "y", "p").collect()[0]
    assert r.brier == 0.0
    # log loss is clamped at 1/scale, not 0 — tiny but positive
    assert 0 < r.log_loss < 1e-5
    known = spark.createDataFrame([(1, 0.8), (0, 0.4)], "y int, p double")
    r = known.transform(lambda d: prob_scores(d, "y", "p")).collect()[0]
    assert r.brier == round((0.2**2 + 0.4**2) / 2, 6)
    import math

    assert r.log_loss == round(-(math.log(0.8) + math.log(0.6)) / 2, 6)
    assert (r.n, r.pos_rate) == (2, 0.5)


# ------------------------------------------------------------- conformal


def test_conformal_known_order_statistic(spark):
    from orientdb_etl_spark.functions.mleval import conformal_interval

    # calibration residuals 1..9 (yhat = 0): k = ceil(10 * 0.9) = 9 ->
    # half_width = 9th smallest = 9
    cal = spark.createDataFrame(
        [(float(i), 0.0) for i in range(1, 10)], "y double, yhat double"
    )
    test = spark.createDataFrame(
        [(5.0, 0.0), (20.0, 0.0)], "y double, yhat double"
    )
    r = conformal_interval(cal, test, "y", "yhat", alpha_pct=10).collect()[0]
    assert (r.n_cal, r.k, r.half_width) == (9, 9, 9.0)
    assert (r.n_test, r.coverage) == (2, 0.5)  # 5 in, 20 out


def test_conformal_coverage_guarantee_on_exchangeable_data(spark):
    import random

    from orientdb_etl_spark.functions.mleval import conformal_interval

    rng = random.Random(13)
    # deterministic index-parity split of i.i.d. draws: exchangeable by
    # construction, and — unlike df.sample(seed=...), whose draw depends
    # on the session's physical partition layout — reproducible in any
    # test order (the sample-based split flaked at coverage 0.7298 under
    # one full-suite ordering)
    rows = [(i, rng.uniform(0, 100), 50.0) for i in range(600)]
    df = spark.createDataFrame(rows, "idx long, y double, yhat double")
    cal = df.filter("idx % 2 = 0").drop("idx")
    test = df.filter("idx % 2 = 1").drop("idx")
    r = conformal_interval(cal, test, "y", "yhat", alpha_pct=20).collect()[0]
    assert (r.n_cal, r.n_test) == (300, 300)
    assert r.coverage >= 0.75  # guarantee is >= 0.8 in expectation


def test_conformal_validates_alpha(spark):
    import pytest

    from orientdb_etl_spark.functions.mleval import conformal_interval

    df = spark.createDataFrame([(1.0, 1.0)], "y double, yhat double")
    with pytest.raises(ValueError):
        conformal_interval(df, df, "y", "yhat", alpha_pct=0)


# ---------------------------------------------------------------------------
# bradley_terry / pairwise_winrates
# ---------------------------------------------------------------------------


def _battles(spark, rows):
    return spark.createDataFrame(rows, "winner string, loser string")


def test_bradley_terry_recovers_known_ordering(spark):
    """A transitive battle log (a beats b 3:1, b beats c 3:1, a beats c
    4:0) must rank a > b > c with theta summing to ~1."""
    from orientdb_etl_spark.functions.mleval import bradley_terry

    rows = (
        [("a", "b")] * 3 + [("b", "a")]
        + [("b", "c")] * 3 + [("c", "b")]
        + [("a", "c")] * 4
    )
    out = {r.item: r for r in bradley_terry(_battles(spark, rows)).collect()}
    assert [out[i].rank for i in ("a", "b", "c")] == [1, 2, 3]
    assert out["a"].theta > out["b"].theta > out["c"].theta
    assert abs(sum(r.theta for r in out.values()) - 1.0) < 1e-3
    assert (out["a"].wins, out["a"].games) == (7, 8)


def test_bradley_terry_matches_sql_twin_both_modes(spark):
    """Spark trajectory == DuckDB bt_rounds_sql replay, bit-for-bit,
    on any input layout — the integer-pinning determinism contract."""
    import random

    import duckdb
    import pandas as pd

    from orientdb_etl_spark.functions.mleval import (
        bradley_terry,
        bt_rounds_sql,
    )

    random.seed(7)
    items = [f"m{i}" for i in range(9)]
    true = {m: (i + 1) ** 1.3 for i, m in enumerate(items)}
    rows = [
        (a, b) if random.random() < true[a] / (true[a] + true[b]) else (b, a)
        for a, b in (random.sample(items, 2) for _ in range(1500))
    ]
    df = _battles(spark, rows)
    con = duckdb.connect()
    con.register("battles", pd.DataFrame(rows, columns=["winner", "loser"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            bt_rounds_sql(6, "SELECT * FROM battles", materialized=True)
        ).fetchall()
    )
    for parts in (1, 3):
        got = sorted(
            tuple(r)
            for r in bradley_terry(df.repartition(parts), iters=6).collect()
        )
        assert got == want, f"partitions={parts}"


def test_bradley_terry_zero_win_item_and_counts(spark):
    """An item that never wins pins to theta 0 (not NaN/error); the
    count_col form aggregates pre-counted logs identically."""
    from orientdb_etl_spark.functions.mleval import bradley_terry

    rows = [("a", "b")] * 2 + [("a", "c"), ("b", "c")]
    out = {r.item: r for r in bradley_terry(_battles(spark, rows)).collect()}
    assert out["c"].theta == 0.0 and out["c"].wins == 0
    pre = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "c", 1)],
        "winner string, loser string, n int",
    )
    out2 = {
        r.item: r
        for r in bradley_terry(pre, count_col="n").collect()
    }
    assert {i: r.theta for i, r in out.items()} == {
        i: r.theta for i, r in out2.items()
    }


def test_bradley_terry_validates_inputs(spark):
    from orientdb_etl_spark.functions.mleval import bradley_terry

    with pytest.raises(ValueError, match="iters"):
        bradley_terry(_battles(spark, [("a", "b")]), iters=0)
    with pytest.raises(ValueError, match="no non-null"):
        bradley_terry(_battles(spark, [("a", None)])).collect()


def test_pairwise_winrates_wilson_hand_computed(spark):
    """Wilson bounds vs the closed form for a known 7-3 record; p=1
    stays inside [0, 1] (the Wald interval would collapse)."""
    import math

    from orientdb_etl_spark.functions.mleval import pairwise_winrates

    rows = [("a", "b")] * 7 + [("b", "a")] * 3 + [("a", "c")] * 5
    out = {
        (r.item_a, r.item_b): r
        for r in pairwise_winrates(_battles(spark, rows)).collect()
    }
    r = out[("a", "b")]
    assert (r.games, r.wins_a, r.p_a) == (10, 7, 0.7)
    z, n, p = 1.96, 10.0, 0.7
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert abs(r.wilson_lo - round(center - half, 6)) < 1e-9
    assert abs(r.wilson_hi - round(center + half, 6)) < 1e-9
    rc = out[("a", "c")]
    assert rc.p_a == 1.0 and 0.0 < rc.wilson_lo < 1.0 and rc.wilson_hi == 1.0


def test_bt_and_winrates_config_transformers(spark):
    from orientdb_etl_spark import Pipeline

    rows = [("a", "b")] * 3 + [("b", "a"), ("a", "c"), ("b", "c")]
    battles = _battles(spark, rows)
    p = Pipeline(
        {
            "extractor": {"table": {"name": "battles"}},
            "transformers": [{"btRank": {"iters": 4}}],
            "loader": {"memory": {"view": "lb"}},
        },
        spark=spark,
    ).register_table("battles", battles)
    lb = {r.item: r.rank for r in p.run().outputs["lb"].collect()}
    assert lb["a"] == 1
    p2 = Pipeline(
        {
            "extractor": {"table": {"name": "battles"}},
            "transformers": [{"winRates": {}}],
            "loader": {"memory": {"view": "wr"}},
        },
        spark=spark,
    ).register_table("battles", battles)
    wr = p2.run().outputs["wr"].collect()
    assert {(r.item_a, r.item_b) for r in wr} == {
        ("a", "b"), ("a", "c"), ("b", "c")
    }


def test_pass_at_k_matches_combinatorial_reference(spark):
    from math import comb

    from orientdb_etl_spark.functions.mleval import pass_at_k

    # problem A: n=5, c=2; problem B: n=3, c=0; problem C: n=2, c=2
    rows = (
        [("a", True)] * 2 + [("a", False)] * 3
        + [("b", False)] * 3
        + [("c", True)] * 2
    )
    df = spark.createDataFrame(rows, "p string, ok boolean")
    got = {
        r.k: (r.n_problems, r.pass_at_k)
        for r in pass_at_k(df, "p", "ok", ks=(1, 2, 5)).collect()
    }

    def ref(n, c, k):
        return 1.0 if n - c < k else 1.0 - comb(n - c, k) / comb(n, k)

    # k=1: all three problems; k=2: all three; k=5: only A
    exp1 = (ref(5, 2, 1) + ref(3, 0, 1) + ref(2, 2, 1)) / 3
    exp2 = (ref(5, 2, 2) + ref(3, 0, 2) + ref(2, 2, 2)) / 3
    assert got[1][0] == 3 and abs(got[1][1] - exp1) < 1e-6
    assert got[2][0] == 3 and abs(got[2][1] - exp2) < 1e-6
    assert got[5] == (1, round(ref(5, 2, 5), 6))


def test_pass_at_k_saturates_and_validates(spark):
    import pytest as _pytest

    from orientdb_etl_spark.functions.mleval import pass_at_k

    # c = n (all attempts pass) and c such that n - c < k both pin 1.0
    df = spark.createDataFrame(
        [("a", True)] * 4 + [("b", True), ("b", False)],
        "p string, ok boolean",
    )
    got = {r.k: r.pass_at_k for r in pass_at_k(df, "p", "ok", ks=(2,)).collect()}
    assert got[2] == 1.0
    with _pytest.raises(ValueError):
        pass_at_k(df, "p", "ok", ks=())
    with _pytest.raises(ValueError):
        pass_at_k(df, "p", "ok", ks=(0,))


def test_bradley_terry_driver_matrix_bound_raises(spark, monkeypatch):
    """The MM loop collects the items²-bounded battle matrix to the
    driver; a leaderboard over the contract cap must raise a contract
    error instead of attempting the collect (VERDICT r8 #8)."""
    from orientdb_etl_spark.functions import mleval

    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    df = spark.createDataFrame(rows, "winner string, loser string")
    monkeypatch.setattr(mleval, "_BT_MAX_DRIVER_ITEMS", 2)
    with pytest.raises(ValueError, match="battle matrix"):
        mleval.bradley_terry(df)
    # under the real cap the same log fits fine
    monkeypatch.setattr(mleval, "_BT_MAX_DRIVER_ITEMS", 2048)
    out = mleval.bradley_terry(df).collect()
    assert len(out) == 3
