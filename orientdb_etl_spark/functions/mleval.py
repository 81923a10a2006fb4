"""Model-evaluation metrics at warehouse scale: ROC-AUC, calibration.

The scoring-pipeline counterpart of :mod:`stats`: once a model's scores
land in a table, these compute the offline-eval numbers — without
collecting predictions to a driver (the sklearn habit that dies at
100 TB).

* :func:`roc_auc` — exact tie-corrected AUC via the Mann–Whitney
  identity ``AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg)``: the
  probability a random positive outscores a random negative. Midranks
  come from per-distinct-score counts plus the range-partitioned
  exclusive prefix (the :func:`stats.mann_whitney_u` machinery) — no
  global ORDER BY window over predictions, no pairwise join. Integer
  rank arithmetic replays bit-identically in a SQL oracle.
* :func:`calibration_curve` — equal-width probability bins with mean
  predicted vs observed positive rate per bin (the reliability
  diagram), plus each bin's contribution to the Brier score; the
  weighted ``brier`` column repeats the scalar so the frame is
  self-contained. One grouped pass; ``bins`` rows out regardless of
  input size.

Reference scope: no evaluation surface exists in the reference ETL
(OETLProcessor.java:252-283); §2.8 extension like stats.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.iterate import pin

__all__ = [
    "roc_auc",
    "calibration_curve",
    "gains_chart",
    "average_precision",
    "ranking_metrics",
    "math_log2_sql",
    "prob_scores",
    "conformal_interval",
    "pairwise_winrates",
    "bradley_terry",
    "bt_rounds_sql",
    "winrates_sql",
    "pass_at_k",
    "pass_at_k_sql",
]


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Exact ROC-AUC (tie-corrected, trapezoidal-equivalent) — one row
    ``(n_pos, n_neg, auc)``. ``label_col`` must be boolean-like (cast
    to int 0/1); NULL score or label rows are excluded. Degenerate
    inputs (no positives or no negatives) yield NULL auc.
    """
    from orientdb_etl_spark.operators.relational import exclusive_prefix

    d = df.select(
        F.col(score_col).cast("double").alias("_v"),
        F.col(label_col).cast("int").alias("_y"),
    ).where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
    per_v = d.groupBy("_v").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum("_y").alias("_cp"),
    )
    pv = exclusive_prefix(per_v, ["_v"], "_t", "sum", "_lt", "bigint")
    agg = pv.agg(
        F.sum("_cp").alias("n_pos"),
        F.sum(F.col("_t") - F.col("_cp")).alias("n_neg"),
        F.sum(
            F.col("_cp")
            * (F.coalesce(F.col("_lt"), F.lit(0)) + (F.col("_t") + 1) / 2.0)
        ).alias("_rpos"),
    )
    auc = (
        F.col("_rpos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc), round_to
        ).alias("auc"),
    )


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability diagram: scores clamped into ``bins`` equal-width
    [0, 1] bins; per occupied bin ``(bin, n, mean_score, frac_pos,
    gap)`` with ``gap = mean_score − frac_pos`` (signed
    over/under-confidence) and the scalar ``brier`` —
    ``mean((score − label)²)`` over ALL rows — repeated per row.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    d = df.select(s.alias("_s"), y.alias("_y")).where(
        s.isNotNull() & y.isNotNull()
    )
    b = F.greatest(
        F.least(F.floor(F.col("_s") * bins).cast("int") + 1, F.lit(bins)),
        F.lit(1),
    )
    per = d.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_s").alias("_ms"),
        F.avg(F.col("_y").cast("double")).alias("_fp"),
        F.sum(F.expr("(_s - _y) * (_s - _y)")).alias("_se"),
    )
    tot = per.agg(
        (F.sum("_se") / F.sum("n")).alias("_brier")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            F.round("_ms", round_to).alias("mean_score"),
            F.round("_fp", round_to).alias("frac_pos"),
            F.round(F.col("_ms") - F.col("_fp"), round_to).alias("gap"),
            F.round("_brier", round_to).alias("brier"),
        )
        .orderBy("bin")
    )


def gains_chart(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Cumulative gains / lift table: rank rows by score (descending,
    ``id_col`` as the deterministic tie-break — REQUIRED unique so both
    engines cut tied scores identically), split into ``n_buckets``
    equal-count buckets, and per bucket report ``(bucket, n, n_pos,
    cum_pos, capture, lift)`` where ``capture`` is the fraction of ALL
    positives found in the top buckets so far and ``lift`` is capture
    relative to random targeting ("the top decile captures 34% of
    churners — 3.4× lift"): the campaign-targeting readout of the same
    scores :func:`roc_auc` summarizes.

    Scale shape: the global rank comes from the range-partitioned
    exclusive prefix over ``(-score, id)`` (never a global ntile
    window); per-bucket sums collapse to ``n_buckets`` rows and the
    cumulative pass is a window over that by-construction-tiny frame.
    """
    from orientdb_etl_spark.operators.relational import exclusive_prefix
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    d = (
        df.select(
            (-F.col(score_col).cast("double")).alias("_ns"),
            F.col(id_col).alias("_id"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .withColumn("_one", F.lit(1).cast("bigint"))
    )
    ranked = exclusive_prefix(d, ["_ns", "_id"], "_one", "sum", "_r0", "bigint")
    ranked = ranked.withColumn("_rk", F.coalesce(F.col("_r0"), F.lit(0)))
    total = ranked.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_np")
    )
    bucket = F.floor(F.col("_rk") * n_buckets / F.col("_n")) + 1
    per = (
        ranked.crossJoin(F.broadcast(total))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").alias("n_pos"),
            F.first("_n").alias("_n"),
            F.first("_np").alias("_np"),
        )
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # windows over the n_buckets-row frame only — bounded by construction
    cum_pos = F.sum("n_pos").over(w)
    cum_n = F.sum("n").over(w)
    return per.select(
        F.col("bucket").cast("int").alias("bucket"),
        "n",
        "n_pos",
        cum_pos.alias("cum_pos"),
        F.round(
            F.when(F.col("_np") > 0, cum_pos / F.col("_np")), round_to
        ).alias("capture"),
        F.round(
            F.when(
                F.col("_np") > 0,
                (cum_pos / F.col("_np")) / (cum_n / F.col("_n")),
            ),
            round_to,
        ).alias("lift"),
    ).orderBy("bucket")


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Exact average precision (the area under the precision–recall
    curve in its standard step form): ``AP = (1/P) Σ_{k: y_k = 1}
    precision@k`` over the deterministic total order ``(score DESC,
    id ASC)`` — the ranking metric that, unlike :func:`roc_auc`, does
    not reward a model for ordering easy negatives correctly (the
    class-imbalance regime of retrieval and near-dup detection). One
    row: ``(n, n_pos, average_precision)``.

    Scale shape: the global rank and the running positive count both
    come from the range-partitioned
    :func:`~orientdb_etl_spark.operators.relational.exclusive_prefix`
    over ``(−score, id)`` — never a global ORDER BY window, no pairwise
    join. ``precision@k = cum_pos/k`` is an exact-integer ratio per
    positive row; the only float fold is their sum (terms in (0, 1]),
    divided by the in-plan positive count.
    """
    from orientdb_etl_spark.operators.relational import exclusive_prefix

    base = df.select(
        (-F.col(score_col).cast("double")).alias("_negs"),
        F.col(id_col).alias("_id"),
        F.col(label_col).cast("bigint").alias("_y"),
        F.lit(1).cast("bigint").alias("_one"),
    ).where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
    pv = exclusive_prefix(base, ["_negs", "_id"], "_one", "sum", "_r0", "bigint")
    pv = exclusive_prefix(pv, ["_negs", "_id"], "_y", "sum", "_p0", "bigint")
    k = (F.coalesce(F.col("_r0"), F.lit(0)) + 1).cast("bigint")
    cum_pos = (F.coalesce(F.col("_p0"), F.lit(0)) + F.col("_y")).cast("bigint")
    d = lambda c: c.cast("double")  # noqa: E731
    term = F.when(F.col("_y") == 1, d(cum_pos) / d(k)).otherwise(F.lit(0.0))
    agg = pv.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("n_pos"),
        F.sum(term).alias("_ap_sum"),
    )
    ap = F.when(
        F.col("n_pos") > 0, F.col("_ap_sum") / d(F.col("n_pos"))
    )
    return agg.select(
        "n", "n_pos", F.round(ap, round_to).alias("average_precision")
    )


def ranking_metrics(
    df: DataFrame,
    query_col: str,
    score_col: str,
    label_col: str,
    id_col: str,
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Per-query ranking quality rolled up to corpus scalars: MRR,
    nDCG@k (binary gains), and hit-rate@k over the deterministic
    per-query order ``(score DESC, id ASC)`` — the retrieval-eval
    companion of :func:`average_precision` when results group by query
    (user, search, session). Queries with no positive are excluded (no
    reciprocal rank or ideal DCG exists for them); one row:
    ``(n_queries, n_with_pos, mrr, ndcg_at_k, hit_rate_at_k)``.

    Scale shape: ONE window partitioned BY QUERY (bounded per-query
    cardinality — never a global sort) ranks rows; per-query metrics
    fold in one hash aggregate and the corpus roll-up is a single
    global fold of O(1)-magnitude terms. DCG terms use ``ln(2)/ln(r+1)``
    with INTEGER rank arguments, so both engines feed libm the same
    doubles; ranks (not float scores) drive every selection.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(query_col).alias("_q"),
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
        F.col(id_col).alias("_id"),
    ).where(
        F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(query_col).isNotNull()
    )
    w = Window.partitionBy("_q").orderBy(F.col("_s").desc(), F.col("_id"))
    r = base.withColumn("_r", F.row_number().over(w))
    d = lambda c: c.cast("double")  # noqa: E731
    per_q = r.groupBy("_q").agg(
        F.sum("_y").alias("_np"),
        F.min(F.when(F.col("_y") == 1, F.col("_r"))).alias("_fr"),
        F.sum(
            F.when(
                (F.col("_y") == 1) & (F.col("_r") <= k),
                F.expr(math_log2_sql("_r")),
            ).otherwise(F.lit(0.0))
        ).alias("_dcg"),
    )
    # ideal DCG@k for binary gains: positives stacked at ranks 1..min(P, k)
    idcg = F.expr(
        f"aggregate(sequence(1, least(CAST(_np AS INT), {int(k)})), "
        f"0.0D, (acc, i) -> acc + {math_log2_sql('i')})"
    )
    scored = per_q.where(F.col("_np") > 0).select(
        "_q",
        (F.lit(1.0) / d(F.col("_fr"))).alias("_rr"),
        (F.col("_dcg") / idcg).alias("_ndcg"),
        (F.col("_fr") <= k).cast("int").alias("_hit"),
    )
    n_all = per_q.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        scored.agg(
            F.count(F.lit(1)).alias("n_with_pos"),
            F.round(F.avg("_rr"), round_to).alias("mrr"),
            F.round(F.avg("_ndcg"), round_to).alias("ndcg_at_k"),
            F.round(F.avg(d(F.col("_hit"))), round_to).alias("hit_rate_at_k"),
        )
        .crossJoin(F.broadcast(n_all))
        .select("n_queries", "n_with_pos", "mrr", "ndcg_at_k", "hit_rate_at_k")
    )


def math_log2_sql(rank_expr: str) -> str:
    """The ONE DCG-term generator both engines share: ``ln(2)/ln(r+1)``
    with the ln(2) literal pinned to Python's repr (CAST through DOUBLE
    — a bare decimal literal would make Spark run DECIMAL division) so
    Spark and DuckDB evaluate the identical double chain."""
    import math

    return (
        f"CAST({math.log(2.0)!r} AS DOUBLE) / "
        f"ln(CAST({rank_expr} AS DOUBLE) + 1.0)"
    )


def prob_scores(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    scale: int = 1_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Proper-scoring-rule summary of probabilistic predictions: one row
    ``(n, pos_rate, brier, log_loss)`` (Brier 1950; log loss with
    probabilities clamped away from {0,1} by 1/scale). The threshold-
    free companions of :func:`roc_auc` (ranking) and
    :func:`calibration_curve` (reliability): Brier decomposes into
    calibration + refinement, log loss is the train-time objective
    itself.

    Exact-integer discipline for Brier: probabilities quantize to
    BIGINT parts-per-``scale`` and Σ(p_q − y·scale)² is an exact integer
    (< 2⁶³ for up to ~9·10⁶ rows at the default scale — raise/lower
    ``scale`` to trade precision for headroom), divided once at the end.
    Log loss sums ln terms as doubles (the ``bigram_logprob``
    precedent), rounded to ``round_to``.
    """
    y = F.col(label_col).cast("int")
    pq = F.floor(F.col(prob_col).cast("double") * scale).cast("bigint")
    # clamp to [1, scale-1] so ln never sees 0 — and both engines clamp
    # the SAME quantized integer
    pqc = F.greatest(F.least(pq, F.lit(scale - 1)), F.lit(1))
    base = df.where(
        F.col(label_col).isNotNull() & F.col(prob_col).isNotNull()
    )
    ll_term = F.when(y == 1, F.log(pqc.cast("double") / scale)).otherwise(
        F.log(F.lit(1.0) - pqc.cast("double") / scale)
    )
    g = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).cast("bigint").alias("_np"),
        F.sum((pq - y * scale) * (pq - y * scale)).cast("bigint").alias("_sq"),
        F.sum(ll_term).alias("_ll"),
    )
    return g.select(
        "n",
        F.round(F.col("_np") / F.col("n").cast("double"), round_to).alias(
            "pos_rate"
        ),
        F.round(
            F.col("_sq").cast("double")
            / F.col("n").cast("double")
            / float(scale)
            / float(scale),
            round_to,
        ).alias("brier"),
        F.round(-F.col("_ll") / F.col("n").cast("double"), round_to).alias(
            "log_loss"
        ),
    )


def conformal_interval(
    cal_df: DataFrame,
    test_df: DataFrame,
    label_col: str,
    pred_col: str,
    alpha_pct: int = 10,
    scale: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al. 2005; Lei et al.
    JASA'18): the half-width is the ⌈(n+1)(1−α)⌉-th smallest CALIBRATION
    absolute residual — distribution-free, finite-sample-valid coverage
    ≥ 1−α on exchangeable data. Returns one row ``(n_cal, alpha_pct, k,
    half_width, n_test, coverage)`` where ``coverage`` is the achieved
    fraction of TEST residuals inside ±half_width — the empirical
    certificate of the guarantee.

    Exact discipline: residuals quantize to BIGINT (×``scale``); ``k``
    is pure integer arithmetic (α an integer percent), and the order
    statistic is "smallest value whose inclusive cumulative count ≥ k"
    over the distinct-residual frame — cumulative counts from the
    range-partitioned exclusive prefix (the ``weighted_percentiles``
    selection shape, never a global ORDER BY window).
    """
    if not 0 < alpha_pct < 100:
        raise ValueError(f"alpha_pct must be in (0, 100), got {alpha_pct}")
    from orientdb_etl_spark.operators.relational import exclusive_prefix

    def _resid(d: DataFrame) -> DataFrame:
        r = F.abs(
            F.floor(F.col(label_col).cast("double") * scale).cast("bigint")
            - F.floor(F.col(pred_col).cast("double") * scale).cast("bigint")
        )
        return d.where(
            F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
        ).select(r.alias("_r"))

    cal = _resid(cal_df)
    per_v = cal.groupBy("_r").agg(F.count(F.lit(1)).alias("_c"))
    pre = exclusive_prefix(per_v, ["_r"], "_c", "sum", "_p", "bigint")
    cum = pre.select(
        "_r", (F.coalesce(F.col("_p"), F.lit(0)) + F.col("_c")).alias("_cum")
    )
    n_cal = cal.agg(F.count(F.lit(1)).alias("n_cal"))
    # k = ceil((n+1)(100-alpha)/100), exact integers
    k = F.expr(
        f"CAST(((n_cal + 1) * (100 - {alpha_pct}) + 99) DIV 100 AS BIGINT)"
    )
    sel = (
        cum.crossJoin(F.broadcast(n_cal))
        .withColumn("_k", k)
        .where(F.col("_cum") >= F.col("_k"))
        .agg(
            F.min("_r").alias("_hw"),
            F.first("_k").alias("k"),
            F.first("n_cal").alias("n_cal"),
        )
    )
    test = _resid(test_df)
    tstats = test.agg(F.count(F.lit(1)).alias("n_test"))
    covered = (
        test.crossJoin(F.broadcast(sel))
        .agg(
            F.sum((F.col("_r") <= F.col("_hw")).cast("long"))
            .cast("bigint")
            .alias("_cov")
        )
    )
    return (
        sel.crossJoin(F.broadcast(tstats))
        .crossJoin(F.broadcast(covered))
        .select(
            "n_cal",
            F.lit(int(alpha_pct)).alias("alpha_pct"),
            "k",
            F.round(F.col("_hw").cast("double") / scale, round_to).alias(
                "half_width"
            ),
            "n_test",
            F.round(
                F.col("_cov") / F.col("n_test").cast("double"), round_to
            ).alias("coverage"),
        )
    )


def pairwise_winrates(
    battles: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    count_col: str | None = None,
    z: float = 1.96,
    round_to: int = 6,
) -> DataFrame:
    """Per-pair win rates with Wilson score intervals (Wilson, JASA
    1927) over a battle log — the uncertainty companion of
    :func:`bradley_terry`: one row per unordered pair ``(item_a <
    item_b)`` with ``games``, ``wins_a``, the empirical ``p_a =
    wins_a/games`` and the Wilson ``[lo, hi]`` at the given ``z``
    (default 1.96 ≈ 95%). Wilson (not Wald) because battle matrices are
    sparse in the tail: it stays inside [0,1] and never collapses to a
    zero-width interval at p̂ ∈ {0, 1}.

    Scale shape: ONE corpus-sized aggregation (groupBy the ordered
    pair) collapses the log to the ≤items² matrix; everything after is
    arithmetic on exact integer counts, so a SQL oracle replays it
    bit-for-bit. No counterpart in the reference (no eval surface,
    OETLProcessor.java:252-283); §2.8 extension.
    """
    n_expr = (
        F.count(F.lit(1)) if count_col is None
        else F.sum(F.col(count_col).cast("long"))
    ).alias("_n")
    wl = (
        battles.where(
            F.col(winner_col).isNotNull() & F.col(loser_col).isNotNull()
        )
        .groupBy(
            F.col(winner_col).alias("_w"), F.col(loser_col).alias("_l")
        )
        .agg(n_expr)
    )
    # canonical orientation: item_a = min(pair), wins_a counts a's wins
    pairs = (
        wl.select(
            F.least("_w", "_l").alias("item_a"),
            F.greatest("_w", "_l").alias("item_b"),
            F.col("_n").alias("games"),
            F.when(F.col("_w") <= F.col("_l"), F.col("_n"))
            .otherwise(F.lit(0).cast("long"))
            .alias("wins_a"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.sum("games").alias("games"), F.sum("wins_a").alias("wins_a")
        )
    )
    zz = float(z) * float(z)
    n, w = F.col("games").cast("double"), F.col("wins_a").cast("double")
    p = w / n
    denom = 1.0 + zz / n
    center = (p + zz / (2.0 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (1.0 - p) / n + zz / (4.0 * n * n))
        / denom
    )
    return pairs.select(
        "item_a",
        "item_b",
        "games",
        "wins_a",
        F.round(p, round_to).alias("p_a"),
        F.round(center - half, round_to).alias("wilson_lo"),
        F.round(center + half, round_to).alias("wilson_hi"),
    )


#: Hard cap on the leaderboard size whose battle matrix the MM loop may
#: collect driver-side: 2048 items bounds the collect at ~4.2M skinny
#: rows (~a few hundred MB), far inside any sane driver heap. The cap
#: is a CONTRACT assertion, not a tuning knob — leaderboards are
#: items-sized by definition; a corpus-keyed column hitting it is a
#: caller bug that must fail loud, not OOM (VERDICT r8 #8).
_BT_MAX_DRIVER_ITEMS = 2048


def bradley_terry(
    battles: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    count_col: str | None = None,
    iters: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Bradley–Terry preference-strength fit (Bradley & Terry,
    Biometrika 1952) by Hunter's MM algorithm (Ann. Statist. 2004) —
    the batch estimator behind arena-style LLM leaderboards (Chiang et
    al. 2024 use exactly this model over pairwise battles): given a log
    of ``(winner, loser)`` rows, estimate strengths θ with
    ``P(i beats j) = θ_i/(θ_i+θ_j)``. Returns one row per item:
    ``(item, wins, games, theta, rank)`` with θ normalized to sum 1 and
    rank by θ descending (ties to the smaller item).

    MM update, ``iters`` unrolled fixed iterations from uniform θ₀:
    ``θ_i ← W_i / Σ_j n_ij/(θ_i+θ_j)``, then re-normalize — monotone in
    the BT log-likelihood (Hunter 2004, Thm 1). Determinism is the
    :mod:`quality_clf` integer-pinning discipline: θ lives in exact
    nano-units (BIGINT); each per-pair denominator term pins to a
    micro-unit integer ``least(round(n·1e15/greatest(θ_i+θ_j, 1)),
    1e18)`` (the clamp binds only for items already pinned at θ≈0 —
    zero-win items, whose θ is 0 regardless), sums are integer sums
    (order-free across engines and partitionings), and the two float
    steps per item per iteration (the MM division, the normalization)
    are single IEEE-double ops on identical integer operands — so
    :func:`bt_rounds_sql` replays the trajectory bit-for-bit in DuckDB.

    Scale shape at 100 TB: ONE corpus-sized aggregation collapses the
    battle log to the ≤items² matrix ``n_ij``; the MM loop then runs
    DRIVER-SIDE over the collected matrix, so the driver-memory
    requirement is items² — bounded by ``_BT_MAX_DRIVER_ITEMS`` (2048
    items ⇒ ≤ ~4.2M matrix rows), past which the call raises instead of
    collecting. The corpus-sized collapse itself stays distributed; only
    the items-bounded matrix and the wins and games tables ever reach
    the driver. No counterpart in the reference; §2.8 extension.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = battles.sparkSession
    n_expr = (
        F.count(F.lit(1)) if count_col is None
        else F.sum(F.col(count_col).cast("long"))
    ).alias("_n")
    wl = (
        battles.where(
            F.col(winner_col).isNotNull() & F.col(loser_col).isNotNull()
        )
        .groupBy(
            F.col(winner_col).alias("_w"), F.col(loser_col).alias("_l")
        )
        .agg(n_expr)
        .cache()  # the ONE corpus collapse; 3 bounded consumers below
    )
    wins = wl.groupBy(F.col("_w").alias("_i")).agg(
        F.sum("_n").alias("wins")
    )
    # symmetrized total-games matrix: n_ij = games between i and j
    g = (
        wl.select(F.col("_w").alias("_i"), F.col("_l").alias("_j"), "_n")
        .unionByName(
            wl.select(
                F.col("_l").alias("_i"), F.col("_w").alias("_j"), "_n"
            )
        )
        .groupBy("_i", "_j")
        .agg(F.sum("_n").alias("_n"))
        .cache()  # items²-bounded; counted, then collected
    )
    items = g.select("_i").distinct()
    k = items.count()  # bounded: leaderboard size
    if k == 0:
        raise ValueError("battle log has no non-null (winner, loser) rows")
    if k > _BT_MAX_DRIVER_ITEMS:
        # the MM loop below collects the <= k(k-1) battle matrix to the
        # driver; leaderboards are items-sized by CONTRACT, so a k this
        # large means the caller fed a corpus-keyed column — fail loud
        # instead of silently OOMing the driver at scale (VERDICT r8 #8
        # / ADVICE r8: the driver path's memory requirement is items²)
        raise ValueError(
            f"bradley_terry: {k} distinct items implies a battle matrix "
            f"of up to {k * (k - 1)} rows on the driver (limit "
            f"{_BT_MAX_DRIVER_ITEMS} items / "
            f"{_BT_MAX_DRIVER_ITEMS * (_BT_MAX_DRIVER_ITEMS - 1)} rows); "
            "pre-aggregate the battle log to a bounded leaderboard key"
        )
    a0 = int(round(1e9 / k))

    # The MM iterations run over the items²-bounded battle matrix with
    # nothing but exact integer sums and per-item IEEE-double
    # divide/round steps — no transcendental functions — so the whole
    # loop runs DRIVER-SIDE over the collected matrix (the
    # k-means-centroids bounded-state pattern): items² rows by
    # construction, never corpus-sized. This replaces iters × (two
    # broadcast joins + aggregation + lineage cut) Spark jobs with two
    # bounded collects and pure arithmetic. Bit-parity with the old
    # relational expressions (and the DuckDB replay): Python ints are
    # exact for the sums; float(int) is the same round-to-nearest as
    # bigint→double casts; a/b on floats is the same IEEE division; and
    # _rhu replicates Spark's round(double) exactly — Decimal(repr(x))
    # carries the identical shortest decimal Java's
    # BigDecimal.valueOf(double) sees, two decimal strings that parse
    # to the same double can never straddle an integer-half boundary,
    # and HALF_UP ties (x exactly .5) print identically in both.
    import decimal as _dec

    def _rhu(x: float) -> float:
        """Spark round(double) — HALF_UP on the shortest decimal."""
        return float(
            _dec.Decimal(repr(x)).quantize(
                _dec.Decimal(1), rounding=_dec.ROUND_HALF_UP
            )
        )

    g_rows = g.collect()  # items²-bounded by construction
    w_rows, _ = pin(wins, k, "Bradley-Terry wins")
    # θ, wins and games are all driver-side from here on — release the
    # battle-matrix caches, so nothing below re-reads the (possibly
    # since-mutated) source through CacheManager's canonical-plan match
    wl.unpersist()
    g.unpersist()
    w_by_i = {r._i: r.wins for r in w_rows}
    games: dict = {}
    for r in g_rows:
        games[r._i] = games.get(r._i, 0) + r._n
    th = {r._i: a0 for r in g_rows}
    for _ in range(int(iters)):
        d: dict = {}
        for r in g_rows:
            den = max(float(th[r._i] + th[r._j]), 1.0)
            v = min(_rhu(r._n * 1e15 / den), 1e18)
            d[r._i] = d.get(r._i, 0) + int(v)
        raw = {
            i: int(
                _rhu(
                    float(w_by_i.get(i, 0)) * 1e15 / max(float(dv), 1.0)
                )
            )
            for i, dv in d.items()
        }
        s = sum(raw.values())
        th = {
            i: int(_rhu(float(t) * 1e9 / max(float(s), 1.0)))
            for i, t in raw.items()
        }
    zero = F.lit(0).cast("bigint")
    out = spark.createDataFrame(
        [(i, w_by_i.get(i, 0), games[i], t) for i, t in sorted(th.items())],
        items.select(
            "_i", zero.alias("wins"), zero.alias("games"), zero.alias("_t")
        ).schema,
    ).select(
        F.col("_i").alias("item"),
        "wins",
        "games",
        F.round(F.col("_t").cast("double") / 1e9, round_to).alias("theta"),
        F.col("_t").alias("_tn"),
    )
    # rank by (θ desc, item asc) WITHOUT a global ORDER BY window (an
    # unpartitioned WindowExec is the one error-severity plan hazard):
    # the leaderboard is items-sized by construction, so pack it into
    # ONE sorted array (the qdigest-quantiles pattern) and posexplode —
    # same row_number semantics, bounded single-row state, no window.
    packed = out.select(
        F.struct(
            (-F.col("_tn")).alias("_neg_tn"),
            F.col("item").alias("item"),
            F.col("wins").alias("wins"),
            F.col("games").alias("games"),
            F.col("theta").alias("theta"),
        ).alias("_s")
    ).agg(F.sort_array(F.collect_list("_s")).alias("_arr"))
    return packed.select(
        F.posexplode("_arr").alias("_pos", "_x")
    ).select(
        F.col("_x.item").alias("item"),
        F.col("_x.wins").alias("wins"),
        F.col("_x.games").alias("games"),
        F.col("_x.theta").alias("theta"),
        (F.col("_pos") + 1).cast("int").alias("rank"),
    )


def bt_rounds_sql(
    iters: int,
    battles_cte: str,
    winner: str = "winner",
    loser: str = "loser",
    count_expr: str = "count(*)",
    materialized: bool = False,
) -> str:
    """Portable unrolled twin of :func:`bradley_terry` — one Python
    generator emits both engines' SQL (the :func:`graph.lpa_rounds_sql`
    convention). ``battles_cte`` must yield the raw battle rows;
    ``count_expr`` aggregates them per ordered pair (``count(*)`` for
    one-row-per-battle logs, ``sum(n)`` for pre-aggregated ones). The
    global window rank is items-sized — fine in an oracle, replaced by
    the same deterministic ordering in the engine path.
    ``materialized=True`` emits ``AS MATERIALIZED`` — REQUIRED for
    engines that inline CTEs (DuckDB): every iteration references the
    previous θ twice, so inlining doubles the plan per round (2^iters
    copies of the whole battle subtree by round 8)."""
    mat = "MATERIALIZED " if materialized else ""
    parts = [
        f"b AS {mat}({battles_cte})",
        (
            f"wl AS {mat}(SELECT {winner} AS i, {loser} AS j, "
            f"CAST({count_expr} AS BIGINT) AS n FROM b WHERE {winner} IS NOT NULL "
            f"AND {loser} IS NOT NULL GROUP BY 1, 2)"
        ),
        f"w AS {mat}(SELECT i, CAST(SUM(n) AS BIGINT) AS wins "
        "FROM wl GROUP BY i)",
        (
            f"g AS {mat}(SELECT i, j, CAST(SUM(n) AS BIGINT) AS n FROM ("
            "SELECT i, j, n FROM wl UNION ALL "
            "SELECT j AS i, i AS j, n FROM wl) GROUP BY i, j)"
        ),
        (
            f"t0 AS {mat}(SELECT i, CAST(round(1e9 / "
            "(SELECT count(DISTINCT i) FROM g)) AS BIGINT) AS t "
            "FROM (SELECT DISTINCT i FROM g))"
        ),
    ]
    for r in range(1, int(iters) + 1):
        parts.append(
            f"d{r} AS {mat}(SELECT g.i, SUM(CAST(least(round(g.n * 1e15 / "
            f"greatest(CAST(ti.t + tj.t AS DOUBLE), 1.0)), 1e18) "
            f"AS BIGINT)) AS d FROM g "
            f"JOIN t{r-1} ti ON g.i = ti.i "
            f"JOIN t{r-1} tj ON g.j = tj.i GROUP BY g.i)"
        )
        parts.append(
            f"r{r} AS {mat}(SELECT d.i, CAST(round("
            f"CAST(COALESCE(w.wins, 0) AS DOUBLE) * 1e15 / "
            f"greatest(CAST(d.d AS DOUBLE), 1.0)) AS BIGINT) AS t "
            f"FROM d{r} d LEFT JOIN w ON d.i = w.i)"
        )
        parts.append(
            f"t{r} AS {mat}(SELECT i, CAST(round(CAST(t AS DOUBLE) * 1e9 / "
            f"greatest(CAST((SELECT SUM(t) FROM r{r}) AS DOUBLE), 1.0)) "
            f"AS BIGINT) AS t FROM r{r})"
        )
    n = int(iters)
    return (
        "WITH "
        + ", ".join(parts)
        + (
            f" SELECT t.i AS item, CAST(COALESCE(w.wins, 0) AS BIGINT) AS wins, "
            f"gg.games, round(CAST(t.t AS DOUBLE) / 1e9, 6) AS theta, "
            f"CAST(row_number() OVER (ORDER BY t.t DESC, t.i ASC) "
            f"AS INT) AS rank "
            f"FROM t{n} t "
            f"LEFT JOIN w ON t.i = w.i "
            f"JOIN (SELECT i, CAST(SUM(n) AS BIGINT) AS games FROM g GROUP BY i) gg "
            f"ON t.i = gg.i"
        )
    )


def winrates_sql(
    battles_cte: str,
    winner: str = "winner",
    loser: str = "loser",
    count_expr: str = "count(*)",
    z: float = 1.96,
    round_to: int = 6,
    materialized: bool = False,
) -> str:
    """Portable SQL twin of :func:`pairwise_winrates`. The Wilson
    expressions mirror the engine path's AST shape exactly (same
    operand order, same ``repr`` float literals), so the doubles agree
    bit-for-bit before the final round."""
    zr, zzr = repr(float(z)), repr(float(z) * float(z))
    r = int(round_to)
    mat = "MATERIALIZED " if materialized else ""
    denom = f"(1.0 + {zzr} / n)"
    half = (
        f"{zr} * sqrt(w / n * (1.0 - w / n) / n "
        f"+ {zzr} / (4.0 * n * n)) / {denom}"
    )
    center = f"(w / n + {zzr} / (2.0 * n)) / {denom}"
    return (
        f"WITH b AS {mat}({battles_cte}), "
        f"wl AS {mat}(SELECT {winner} AS w, {loser} AS l, "
        f"CAST({count_expr} AS BIGINT) AS n FROM b "
        f"WHERE {winner} IS NOT NULL AND {loser} IS NOT NULL "
        f"GROUP BY 1, 2), "
        f"p AS {mat}(SELECT least(w, l) AS item_a, "
        f"greatest(w, l) AS item_b, CAST(SUM(n) AS BIGINT) AS games, "
        f"CAST(SUM(CASE WHEN w <= l THEN n ELSE 0 END) AS BIGINT) "
        f"AS wins_a FROM wl GROUP BY 1, 2), "
        f"c AS (SELECT item_a, item_b, games, wins_a, "
        f"CAST(games AS DOUBLE) AS n, CAST(wins_a AS DOUBLE) AS w FROM p) "
        f"SELECT item_a, item_b, games, wins_a, "
        f"round(w / n, {r}) AS p_a, "
        f"round({center} - {half}, {r}) AS wilson_lo, "
        f"round({center} + {half}, {r}) AS wilson_hi FROM c"
    )


def pass_at_k(
    samples: DataFrame,
    problem_col: str,
    correct_col: str,
    ks: tuple[int, ...] = (1, 5, 10),
    round_to: int = 6,
) -> DataFrame:
    """Unbiased pass@k (Chen et al., arXiv:2107.03374 §2.1) over a
    per-sample correctness log — the standard functional-correctness
    metric for generated code/answers: given ``n`` attempts per problem
    of which ``c`` pass, the probability that at least one of ``k``
    uniformly drawn attempts passes, estimated WITHOUT the biased
    ``1-(1-c/n)^k`` plug-in:

        pass@k = 1 − C(n−c, k) / C(n, k)
               = 1 − Π_{i=0..k−1} (n−c−i) / (n−i)

    Returns one row per ``k``: ``(k, n_problems, pass_at_k)`` where
    ``n_problems`` counts problems with ``n ≥ k`` (the estimator is
    undefined below that) and ``pass_at_k`` is their mean.

    Scale shape: ONE corpus-sized aggregation collapses the sample log
    to a problems-sized ``(n, c)`` table; the product is a k-term JVM
    ``aggregate`` fold per problem (k is a constant, never data-sized)
    and the cross-problem mean sums integer-nano values so the result
    is addition-order-free — a SQL oracle replays it bit-for-bit. No
    counterpart in the reference (no eval surface,
    OETLProcessor.java:252-283); §2.8 extension.
    """
    if not ks or any(int(k) <= 0 for k in ks):
        raise ValueError("ks must be positive ints")
    stats = samples.groupBy(F.col(problem_col).alias("_p")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(correct_col).cast("int")).cast("long").alias("_c"),
    )
    per_k = stats.select(
        "_n",
        "_c",
        F.explode(
            F.array(*[F.lit(int(k)) for k in dict.fromkeys(ks)])
        ).alias("_k"),
    ).filter(F.col("_n") >= F.col("_k"))
    # the fold starts at exactly 1.0 (multiplicative identity), so the
    # term order — and therefore every intermediate double — matches the
    # oracle's list_reduce left-fold over the same ascending sequence
    prod = F.aggregate(
        F.sequence(F.lit(0), F.col("_k") - 1),
        F.lit(1.0),
        lambda acc, i: acc
        * (F.col("_n") - F.col("_c") - i).cast("double")
        / (F.col("_n") - i).cast("double"),
    )
    pass_col = F.when(
        F.col("_n") - F.col("_c") < F.col("_k"), F.lit(1.0)
    ).otherwise(F.lit(1.0) - prod)
    nano = F.round(pass_col * F.lit(1e9)).cast("bigint")
    return (
        per_k.select("_k", nano.alias("_nano"))
        .groupBy("_k")
        .agg(
            F.count(F.lit(1)).alias("n_problems"),
            F.round(
                F.sum("_nano").cast("double")
                / (F.lit(1e9) * F.count(F.lit(1)).cast("double")),
                round_to,
            ).alias("pass_at_k"),
        )
        .select(F.col("_k").alias("k"), "n_problems", "pass_at_k")
    )


def pass_at_k_sql(
    samples_cte: str,
    problem: str,
    correct: str,
    ks: tuple[int, ...] = (1, 5, 10),
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`pass_at_k`: identical ``(n, c)`` table,
    identical k-term left-fold product (``list_reduce`` over the same
    ascending index list, seeded by the first term — exact because the
    engine path's 1.0 seed is the multiplicative identity), identical
    integer-nano mean."""
    k_list = ", ".join(str(int(k)) for k in dict.fromkeys(ks))
    prod = (
        "list_reduce(list_transform(generate_series(0, k - 1), "
        "i -> CAST(n - c - i AS DOUBLE) / CAST(n - i AS DOUBLE)), "
        "(a, b) -> a * b)"
    )
    return (
        f"WITH s AS (SELECT {problem} AS p, count(*) AS n, "
        f"SUM(CASE WHEN {correct} THEN 1 ELSE 0 END) AS c "
        f"FROM {samples_cte} GROUP BY 1), "
        f"e AS (SELECT n, c, k FROM s, "
        f"(SELECT unnest([{k_list}]) AS k) WHERE n >= k), "
        f"pp AS (SELECT k, CAST(round(1e9 * "
        f"(CASE WHEN n - c < k THEN 1.0 ELSE 1.0 - {prod} END)) "
        f"AS BIGINT) AS nano FROM e) "
        f"SELECT k, count(*) AS n_problems, "
        f"round(SUM(nano) / (1e9 * CAST(count(*) AS DOUBLE)), {round_to}) "
        f"AS pass_at_k FROM pp GROUP BY k"
    )
