"""Corpus / table profiling for large-scale data curation.

The observability half of a training-data pipeline: before (and after)
dedup/filter/sample passes you profile the corpus — per-column nulls and
cardinalities, key skew, dominant n-grams — to decide thresholds and to
catch regressions between snapshots.

Everything here is a single declarative aggregation pass:

- :func:`column_profile` — one `df.agg(...)` computing every column's
  stats in one scan (one job, map-side partial aggregation), unpivoted to
  one row per column. Distinct counts default to HyperLogLog
  (`approx_count_distinct`) so the pass stays one-shuffle at any scale;
  ``exact=True`` switches to exact `count_distinct` (expands the
  aggregate, still one logical pass) for oracle-comparable runs.
- :func:`heavy_hitters` — key-skew diagnostic: top-k keys by frequency
  with their share of total rows. The groupBy shuffles only (key, count)
  pairs after partial aggregation; the share window runs over the
  already-aggregated (tiny) frame.
- :func:`ngram_topk` — dominant token n-grams by document frequency
  (the boilerplate detector: navigation chrome, license headers, spam
  templates surface instantly). Per-doc distinct grams → hash-agg →
  TakeOrderedAndProject; never a global sort.

Reference scope note: the reference ETL (OETLProcessor.java:252-283
dumpProgress) only counts rows/sec; profiling here extends that
observability surface to content statistics, same spirit as its
`log`/`metrics` hooks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.decontam import _gram_array_from_tokens


def column_profile(
    df: DataFrame, cols: list[str] | None = None, exact: bool = False
) -> DataFrame:
    """Per-column statistics in ONE aggregation pass over the table.

    Output: one row per column — ``column, n_rows, n_null, n_distinct,
    min_value, max_value`` (min/max rendered as strings so heterogeneous
    column types unpivot into one frame).

    One scan, one (partial-aggregated) reduce: all per-column aggregates
    are computed in a single `agg`, then the 1-row result is unpivoted
    driver-side via `stack` — no per-column jobs, no driver collect of
    data rows. With ``exact=False`` distinct counts are HyperLogLog
    sketches (mergeable, constant memory per column at 100 TB).
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
        if exact:
            aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__dist_{c}"))
        # aggregate on the NATIVE type (numeric/date ordering), render after
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __null_{c}, __dist_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_null, n_distinct, min_value, max_value)"
        ),
        F.col("__n").alias("n_rows"),
    ).select("column", "n_rows", "n_null", "n_distinct", "min_value", "max_value")


def approx_distinct_certificate(
    df: DataFrame, cols: list[str], rsd: float = 0.05, tol_factor: float = 3.0
) -> DataFrame:
    """Accuracy certificate for the HyperLogLog profiling path: per column,
    the exact distinct count next to whether the HLL++ estimate landed
    within ``tol_factor × rsd`` relative error. At fixture scale the exact
    side is cheap, so the certificate is hash-checkable (exact count +
    boolean); at 100 TB you run the sketch alone — this query exists to
    pin, falsifiably, that the sketch the profiler trusts stays calibrated.

    One aggregation pass (Spark expands multiple DISTINCT aggregates
    internally; the sketch columns stay single-pass partial aggregates).
    """
    aggs = []
    for c in cols:
        aggs.append(F.count_distinct(F.col(c)).alias(f"__e_{c}"))
        aggs.append(F.approx_count_distinct(F.col(c), rsd).alias(f"__a_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', __e_{c}, __a_{c}" for c in cols)
    return (
        one.select(
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS (column, n_exact, n_approx)"
            )
        )
        .select(
            "column",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= F.lit(tol_factor * rsd) * F.col("n_exact")
            ).alias("within_tol"),
        )
    )


def hll_union_certificate(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lg_k: int = 14,
    tol: float = 0.05,
) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    ``hll_sketch_agg``), certified: one row per group with the exact
    distinct count and whether the sketch estimate landed within ``tol``
    relative error, plus an ``ALL`` row whose estimate comes from
    ``hll_union_agg`` over the PER-GROUP sketches — not from re-scanning
    the data. That union row is the property that matters at 100 TB:
    sketch each partition/day/shard once (binary column, ~2^lg_k bytes),
    then answer "distinct over any combination" by merging sketches
    instead of re-aggregating raw data.

    Unlike ``approx_count_distinct`` (a scalar you cannot compose), the
    sketch objects are storable and mergeable; unlike exact
    ``count_distinct``, the shuffle carries sketch bytes, not one row
    per distinct value. The exact side here exists only to make the
    certificate falsifiable at fixture scale.
    """
    per = df.groupBy(group_col).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("_sk"),
        F.count_distinct(F.col(value_col)).alias("n_exact"),
    )
    per_rows = per.select(
        F.col(group_col).cast("string").alias("scope"),
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("_sk") - F.col("n_exact"))
            <= F.lit(tol) * F.col("n_exact")
        ).alias("within_tol"),
    )
    global_exact = df.agg(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    union_row = (
        per.agg(F.hll_union_agg(F.col("_sk")).alias("_u"))
        .join(F.broadcast(global_exact))
        .select(
            F.lit("ALL").alias("scope"),
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("_u") - F.col("n_exact"))
                <= F.lit(tol) * F.col("n_exact")
            ).alias("within_tol"),
        )
    )
    return per_rows.unionByName(union_row)


def heavy_hitters(
    df: DataFrame, key_col: str, k: int = 20, round_share: int = 6
) -> DataFrame:
    """Top-k most frequent keys with their share of all rows — the skew
    diagnostic you run before choosing join/salting strategy for a key.

    groupBy(key) is the only full shuffle and it moves (key, partial
    count) pairs, not rows; the total arrives as a broadcast scalar (one
    aggregate — never a global window over the key frame, which would
    funnel every distinct key through one task), and the orderBy+limit
    compiles to TakeOrderedAndProject."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("n") / F.col("_tot"), round_share))
        .drop("_tot")
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(k)
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    keys: str | list[str] | None = None,
    threshold: float = 3.5,
    round_z: int = 4,
) -> DataFrame:
    """Robust per-group outlier detection by modified z-score
    (Iglewicz & Hoaglin 1993): flag rows where
    ``|x - median| / (1.4826 * MAD) > threshold`` — median/MAD instead of
    mean/stddev so the outliers themselves cannot mask the detector (a
    single 1e9 sensor glitch inflates stddev enough to hide itself; it
    cannot move the median).

    Returns the input rows restricted to flagged outliers, with a
    ``robust_z`` column (rounded). Groups where MAD = 0 (over half the
    values identical) yield no flags — the score is undefined there, and
    silently dividing by ~0 would flag every row that isn't exactly the
    median.

    Plan shape: two grouped aggregations (median, then MAD of deviations
    — the second genuinely depends on the first, so two passes is the
    floor for EXACT medians), each producing one tiny row per group that
    broadcasts back onto the stream. No window, no global sort. At
    100 TB swap the exact percentile for percentile_approx and keep the
    identical two-pass shape.
    """
    from orientdb_etl_spark.operators.relational import join_back_null_safe

    keys = [keys] if isinstance(keys, str) else list(keys or [])
    med_agg = F.expr(f"percentile({value_col}, 0.5)").alias("_med")
    med = df.groupBy(*keys).agg(med_agg) if keys else df.agg(med_agg)
    # NULL-SAFE join-back: a NULL key is its own group under groupBy and
    # its rows must still receive their median (plain on=keys would
    # silently drop the whole NULL group from the outlier report)
    with_med = join_back_null_safe(df, F.broadcast(med), keys)
    dev = with_med.withColumn("_dev", F.abs(F.col(value_col) - F.col("_med")))
    mad_agg = F.expr("percentile(_dev, 0.5)").alias("_mad")
    mad = dev.groupBy(*keys).agg(mad_agg) if keys else dev.agg(mad_agg)
    scored = join_back_null_safe(dev, F.broadcast(mad), keys)
    z = F.col("_dev") / (F.lit(1.4826) * F.col("_mad"))
    return (
        scored.filter((F.col("_mad") > 0) & (z > threshold))
        .withColumn("robust_z", F.round(z, round_z))
        .drop("_med", "_dev", "_mad")
    )


# Per-depth multipliers for the count-min Carter-Wegman hash rows —
# public xxHash/MurmurHash mixing constants, all odd and < 2^32 so
# (key mod P) * alpha stays < 2^52: overflow-free in any engine.
_CMS_ALPHAS = [
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
    2870177450,
]
_CMS_PRIME = 1_000_003


def _cms_bucket(key_col: str | F.Column, d: int, width: int, seed: int) -> F.Column:
    """Row-d bucket: ((k mod P) * alpha_d + seed + 97d) mod P mod width.
    Mirrored verbatim by the SQL oracle."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    a = _CMS_ALPHAS[d]
    mixed = F.pmod(k.cast("long"), F.lit(_CMS_PRIME)) * F.lit(a) + F.lit(
        seed + 97 * d
    )
    return F.pmod(F.pmod(mixed, F.lit(_CMS_PRIME)), F.lit(width)).cast("int")


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over an integer
    key column: ``depth`` hash rows × ``width`` buckets of counts —
    FIXED-size frequency state regardless of key cardinality, the scale
    story exact ``heavy_hitters`` can't offer (its shuffle carries one
    row per distinct key; the sketch carries depth×width rows, period).

    Returns the sketch as a DataFrame (d, bucket, cnt). Estimates come
    from :func:`cms_estimate`; the classic guarantees hold: estimates
    never undercount, and overshoot ≤ (e/width)·N with prob 1-(1/e)^depth.

    Hashing is an engine-portable Carter-Wegman family — row d uses its
    OWN multiplier, so the rows have genuinely different collision sets
    (a shifted-seed single-multiplier family would be affine-related:
    two keys colliding in row 0 would collide in EVERY row and depth
    would buy nothing). Replayable in plain SQL, which is what makes the
    estimates oracle-checkable; swap in xxhash64 per row for
    production-grade independence at the cost of SQL portability.

    Plan: one explode (×depth) + one groupBy(d, bucket) whose map-side
    partial agg reduces each task's output to ≤ depth×width rows before
    the shuffle — the shuffle moves sketch-sized state, not data.
    """
    if not 1 <= depth <= len(_CMS_ALPHAS):
        raise ValueError(
            f"depth must be in [1, {len(_CMS_ALPHAS)}] "
            f"(one multiplier per hash row), got {depth}"
        )
    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                _cms_bucket(key_col, d, width, seed).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.d").alias("d"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the SAME (width, depth, seed):
    cell-wise sum — the linearity that makes sketches composable across
    shards, snapshots, or streaming micro-batches (build per partition of
    a 100 TB corpus, merge depth×width-sized results; or keep a running
    sketch via foreachBatch: merge each batch's sketch into the store).
    The merged estimate equals the estimate over the concatenated data
    exactly (same hash rows, sums commute)."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys_df: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Point-query the sketch for each key in ``keys_df``: the estimate
    is min over the depth rows of the key's bucket counts (width/depth/
    seed must match :func:`cms_build`). The sketch broadcasts (≤
    depth×width rows by construction) — the query side never shuffles."""
    probes = keys_df.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_bucket(key_col, d, width, seed).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.d", "p.bucket")
    return (
        # left join: a (d, bucket) absent from the sketch means NO key
        # hashed there — count 0, so unseen keys estimate to 0 instead
        # of silently dropping
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def ngram_topk(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Top-k token n-grams by DOCUMENT frequency (distinct grams per doc,
    so a gram repeated 1000× inside one spam page counts once).

    Plan shape: explode(distinct per-doc grams) → hash aggregate (partial
    map-side combine collapses each partition's gram counts before the
    shuffle) → TakeOrderedAndProject. The shuffled volume is bounded by
    |distinct grams per partition|, not corpus size."""
    trimmed = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(
        F.length(trimmed) == 0, F.expr("cast(array() as array<string>)")
    ).otherwise(F.split(trimmed, r"\s+"))
    # stage the split in its own projection — one tokenization per row
    # (the single-expression form re-evaluates split per reference; see
    # decontam.exploded_gram_hashes)
    grams = df.select(toks.alias("_tk")).select(
        F.explode(_gram_array_from_tokens("_tk", n)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(k)
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
    out_col: str = "change",
) -> DataFrame:
    """Row-level diff between two table snapshots (the CDC shape: what a
    re-crawl / re-curation changed): one FULL OUTER join on the keys,
    classifying each key as ``added`` (new only), ``removed`` (old only),
    ``changed`` (both sides, any compared column differs, null-safely) or
    ``unchanged``.

    Scale shape: exactly one key-shuffle join — and with both snapshots
    written bucketed on the keys (the ``table`` loader's ``bucketBy``)
    even that shuffle elides. Comparison uses null-safe equality
    (``<=>``), so a null→value transition counts as a change rather than
    vanishing. Output: keys + ``change`` + each compared column as an
    (old_, new_) pair; ``unchanged`` rows are dropped unless
    ``include_unchanged`` (at 100 TB the diff is the small output —
    don't materialize the unchanged bulk).
    """
    compare_cols = (
        compare_cols
        if compare_cols is not None
        else [c for c in new_df.columns if c in set(old_df.columns) and c not in keys]
    )
    o = old_df.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new_df.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(True).alias("_in_new"),
    )
    cond = None
    for k in keys:
        c = F.col(f"_ok_{k}").eqNullSafe(F.col(f"_nk_{k}"))
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    out = j.select(
        *[
            F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}")).alias(k)
            for k in keys
        ],
        change.alias(out_col),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )
    if not include_unchanged:
        out = out.filter(F.col(out_col) != "unchanged")
    return out


def approx_quantile_certificate(
    df: DataFrame,
    col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 100,
) -> DataFrame:
    """Accuracy certificate for the quantile sketch (percentile_approx,
    Greenwald-Khanna summaries): per probe p, the EXACT quantile next to
    whether the sketch's returned element truly sits within the 1/accuracy
    rank guarantee — checked tie-robustly against the data itself
    (count-below / count-at-or-below brackets), not against the exact
    value. Same role as :func:`approx_distinct_certificate`: at 100 TB
    you run the sketch alone; this row pins, falsifiably, that the sketch
    stays calibrated. One scan + one single-row aggregate (broadcast
    scalar attach), probes expanded by a 3-row explode of that scan.
    """
    plist = ", ".join(str(p) for p in probs)
    stats = df.agg(
        F.expr(f"percentile({col}, array({plist}))").alias("_ex"),
        F.expr(f"percentile_approx({col}, array({plist}), {accuracy})").alias("_ap"),
        # count the NON-NULL population: percentile ignores nulls, and the
        # rank brackets below never count null rows either — a count(1)
        # denominator would miscalibrate the certificate on dirty columns
        F.count(F.col(col)).alias("_n"),
    )
    eps = 1.0 / accuracy
    probed = (
        df.select(col)
        .join(F.broadcast(stats))
        .select(
            col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {len(probs) - 1}), "
                    f"i -> struct(element_at(array({plist}), i + 1) AS p, "
                    f"element_at(_ex, i + 1) AS ex, "
                    f"element_at(_ap, i + 1) AS ap, _n AS n))"
                )
            ).alias("_i", "_pr"),
        )
    )
    return (
        probed.groupBy("_i")
        .agg(
            F.first("_pr.p").alias("p"),
            F.first("_pr.ex").alias("exact_q"),
            F.first("_pr.n").alias("_n"),
            F.sum(
                F.when(F.col(col) < F.col("_pr.ap"), 1).otherwise(0)
            ).alias("_below"),
            F.sum(
                F.when(F.col(col) <= F.col("_pr.ap"), 1).otherwise(0)
            ).alias("_at_or_below"),
        )
        .select(
            F.col("p").cast("double").alias("p"),
            "exact_q",
            (
                (F.col("_below") / F.col("_n") <= F.col("p") + F.lit(eps))
                & (F.col("_at_or_below") / F.col("_n") >= F.col("p") - F.lit(eps))
            ).alias("rank_ok"),
        )
        .orderBy("p")
    )


def apply_snapshot_diff(
    old_df: DataFrame,
    diff_df: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    change_col: str = "change",
) -> DataFrame:
    """Apply a :func:`snapshot_diff` patch to the old snapshot,
    reconstructing the new one — the CDC apply/MERGE half of the pair
    (and the round-trip law the property tests pin:
    ``apply(old, diff(old, new)) == new`` on the diffed columns).

    Scale shape: one key-shuffle join of old against the (small) diff —
    ``removed``/``changed`` keys drop out of or rewrite the old side,
    ``added``/``changed`` rows come from the diff's ``new_*`` columns.
    The unchanged bulk streams through untouched, which is the point:
    the patch is sized by the change rate, not the table.
    """
    dropped = diff_df.filter(
        F.col(change_col).isin("removed", "changed")
    ).select(*keys)
    kept = old_df.select(*keys, *compare_cols).join(
        dropped, keys, "left_anti"
    )
    replaced = diff_df.filter(
        F.col(change_col).isin("added", "changed")
    ).select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in compare_cols]
    )
    return kept.unionByName(replaced)


# P(Poisson(1) <= k) thresholds in parts-per-million — the inverse-CDF
# ladder that turns a hash-uniform draw into a deterministic Poisson(1)
# weight (truncated at 5: P(>5) ≈ 6e-5/5!, documented). Shared verbatim
# with the SQL oracle generator.
_POISSON_PPM = [367879, 735759, 919699, 981012, 996340]


def _poisson_weight(id_col: str, b: int, seed: int) -> F.Column:
    from orientdb_etl_spark.functions.sampling import hash_bucket

    u = hash_bucket(id_col, 1_000_000, seed + 131 * b)
    w = F.lit(len(_POISSON_PPM))
    for k in reversed(range(len(_POISSON_PPM))):
        w = F.when(u < _POISSON_PPM[k], F.lit(k)).otherwise(w)
    return w


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    B: int = 32,
    alpha: float = 0.05,
    seed: int = 42,
    round_to: int = 4,
) -> DataFrame:
    """Percentile confidence interval for the MEAN via the Poisson
    bootstrap (Chamandy et al., Google 2012 — the bootstrap that
    distributes: each replica reweights every row by an independent
    Poisson(1) count, so no replica needs to know n or draw jointly).
    Randomness is the deterministic id-hash ladder, so replicas replay
    identically on any cluster layout and in the SQL twin.

    ONE aggregation pass: all B replicas' (Σwx, Σw) pairs are computed
    as 2B aggregate expressions over a single scan (map-side partials) —
    never B scans, never a B× row explosion. The B replica means then
    sort in-plan (array_sort over a 1-row array) and the CI bounds are
    element picks. Returns one row: (mean, ci_lo, ci_hi, n_replicas).

    NULL values contribute nothing (sum ignores them) — filter upstream
    if NULLs should invalidate the estimate. Poisson weights truncate at
    5 (P ≈ 6e-5 per draw), identically in both engines.

    Quantile granularity is 1/B: at the default B=32 the 95% bounds are
    the extreme order statistics (conservative — wider than nominal);
    raise B toward ~200 for tight quantiles. Cost is linear in B (2B
    aggregate expressions), still one scan.
    """
    if B < 4:
        raise ValueError(f"B must be >= 4, got {B}")
    v = F.col(value_col).cast("double")
    aggs = [F.avg(v).alias("_mean")]
    for b in range(B):
        w = _poisson_weight(id_col, b, seed).cast("double")
        aggs.append(F.sum(w * v).alias(f"_wx_{b}"))
        aggs.append(F.sum(w).alias(f"_w_{b}"))
    one = df.agg(*aggs)
    means = F.array_sort(
        F.array(*[F.col(f"_wx_{b}") / F.col(f"_w_{b}") for b in range(B)])
    )
    lo_i = int(alpha / 2 * B) + 1            # 1-based element_at
    hi_i = B - int(alpha / 2 * B)
    return one.select(
        F.round("_mean", round_to).alias("mean"),
        F.round(F.element_at(means, lo_i), round_to).alias("ci_lo"),
        F.round(F.element_at(means, hi_i), round_to).alias("ci_hi"),
        F.lit(B).alias("n_replicas"),
    )


def histogram(df: DataFrame, value_col: str, bins: int = 20) -> DataFrame:
    """Equi-width histogram: one scalar min/max aggregation broadcast
    back, then ``width_bucket`` as a pure expression and one grouped
    count — two passes, no sort, no window (the profiling counterpart of
    quantile_bucket's equi-DEPTH buckets). Returns only non-empty
    buckets: (bucket, lo, hi, n) with 1-based bucket ids; the max value
    folds into the top bucket (SQL width_bucket's bins+1 overflow is
    clamped). NULL values are excluded — they belong to no bin. A
    constant column degenerates to one bucket of zero width (handled
    in-plan: no driver-side peek, no extra scan).
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    v = F.col(value_col)
    stats = df.agg(
        F.min(v).cast("double").alias("_mn"), F.max(v).cast("double").alias("_mx")
    )
    joined = df.filter(v.isNotNull()).join(F.broadcast(stats))
    # explicit width_bucket arithmetic (floor((v-mn)/(mx-mn)*bins)+1,
    # clamped) instead of the builtin: the SQL twin replays the SAME
    # float expression, so boundary values bin identically in any engine
    bucket = F.when(F.col("_mn") == F.col("_mx"), F.lit(1)).otherwise(
        F.least(
            (
                F.floor(
                    (v.cast("double") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn"))
                    * bins
                )
                + 1
            ).cast("int"),
            F.lit(bins),
        )
    )
    width = (F.col("_mx") - F.col("_mn")) / bins
    return (
        joined.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.round(F.first("_mn") + (F.col("bucket") - 1) * F.first(width), 6)
            .alias("lo"),
            F.round(F.first("_mn") + F.col("bucket") * F.first(width), 6)
            .alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def correlation_matrix(
    df: DataFrame, cols: list[str], round_to: int = 6
) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` in ONE aggregation pass
    (all C(k,2) corr aggregates share the same scan and partial-agg
    shuffle; contrast k² separate .corr() calls = k² scans). Returns the
    upper triangle as rows: (col_a, col_b, corr)."""
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = [
        F.round(F.corr(a, b), round_to).alias(f"_c_{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{a}', '{b}', _c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return one.select(
        F.expr(
            f"stack({len(pairs)}, {stack}) AS (col_a, col_b, corr)"
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Zipf's-law fit of the corpus token frequency distribution: OLS of
    ``ln(freq)`` on ``ln(rank)`` over the whole vocabulary — one row
    ``(vocab, total_tokens, zipf_slope, intercept, r2)``. Natural
    language sits near slope −1; a corpus whose slope collapses toward 0
    (flat — template/boilerplate spam) or plunges steeply (tiny
    effective vocabulary) fails the plausibility audit. The corpus-level
    companion of the per-document quality scores in :mod:`text`.

    Rank assignment never uses a global ORDER BY window: tokens are
    ranked by (freq desc, token) via
    :func:`~orientdb_etl_spark.operators.relational.exclusive_prefix`
    over the VOCABULARY frame (already collapsed to one row per token by
    the count aggregate) — rank = exclusive running count + 1, range
    partitioned. The OLS uses ``covar_samp``/``var_samp`` closed forms
    (the :func:`~orientdb_etl_spark.functions.stats.group_trend`
    discipline) over (ln rank, ln freq).
    """
    from orientdb_etl_spark.operators.relational import exclusive_prefix

    tok = (
        df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("_tok")
        )
        .where(F.length("_tok") > 0)
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_negc", -F.col("_c"))
        .withColumn("_one", F.lit(1).cast("bigint"))
    )
    ranked = exclusive_prefix(
        tok, ["_negc", "_tok"], "_one", "sum", "_r0", "bigint"
    ).select(
        (F.coalesce(F.col("_r0"), F.lit(0)) + 1).alias("_rank"),
        "_c",
    )
    lx = F.log(F.col("_rank").cast("double"))
    ly = F.log(F.col("_c").cast("double"))
    g = ranked.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("_c").alias("total_tokens"),
        F.covar_samp(lx, ly).alias("_cov"),
        F.var_samp(lx).alias("_vx"),
        F.var_samp(ly).alias("_vy"),
        F.avg(lx).alias("_mx"),
        F.avg(ly).alias("_my"),
    )
    slope = F.col("_cov") / F.col("_vx")
    return g.select(
        "vocab",
        "total_tokens",
        F.round(slope, round_to).alias("zipf_slope"),
        F.round(F.col("_my") - slope * F.col("_mx"), round_to).alias("intercept"),
        F.round(
            F.when(
                F.col("_vy") > 0,
                (F.col("_cov") * F.col("_cov")) / (F.col("_vx") * F.col("_vy")),
            ),
            round_to,
        ).alias("r2"),
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the top-``top_k`` hottest
    keys with their share of all rows, each key's ratio to the mean key
    population, and a suggested salt factor — the pre-flight for "will
    this groupBy/join key melt one reducer at 100 TB?" (pairs with
    :func:`~orientdb_etl_spark.operators.skew.salted_join`, whose salt
    count this suggests). Returns ``(rank, key, n, share, ratio_to_mean,
    n_keys, total_rows, suggested_salt)`` — the last three repeated
    (scalar broadcast) so the frame is self-contained.

    ``suggested_salt = ceil(max_n / mean_n)`` — the factor that splits
    the hottest key into roughly mean-sized sub-keys; 1 means no salting
    needed. NULL keys count as a key (they hash to one reducer like any
    other value — the classic surprise skew source).

    Scale shape: one map-side-combinable count per key, a scalar
    aggregate over the (already collapsed) key frame, and a top-k that
    compiles to TakeOrderedAndProject — no global sort, no window.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("_max_n"),
    )
    top = counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(int(top_k))
    mean_n = F.col("total_rows") / F.col("n_keys")
    w = Window.orderBy(F.col("n").desc(), F.col("key").asc())
    return (
        top.crossJoin(F.broadcast(stats))
        # the rank window runs over <= top_k rows — bounded by the limit
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "key",
            "n",
            F.round(F.col("n") / F.col("total_rows"), round_to).alias("share"),
            F.round(F.col("n") / mean_n, round_to).alias("ratio_to_mean"),
            "n_keys",
            "total_rows",
            F.ceil(F.col("_max_n") / mean_n).cast("bigint").alias(
                "suggested_salt"
            ),
        )
        .orderBy("rank")
    )


def key_islands(df: DataFrame, key_col: str) -> DataFrame:
    """Gaps-and-islands over an integer key column: one row per maximal
    run of consecutive present keys, ``(island_start, island_end,
    n_keys)`` ordered by start — the completeness audit for sequence
    columns (missing id ranges = lost batches, holes in ingestion).
    The classic ``key - rank(key)`` island label, computed WITHOUT a
    global ORDER BY window: rank comes from
    :func:`~orientdb_etl_spark.operators.relational.exclusive_prefix`
    (range-partitioned running count over the distinct-key frame), so
    the plan scales to arbitrarily many keys — the tiny output frame is
    the only thing ever ordered.
    """
    from orientdb_etl_spark.operators.relational import exclusive_prefix

    keys = (
        df.select(F.col(key_col).cast("bigint").alias("_k"))
        .where(F.col(key_col).isNotNull())
        .distinct()
        .withColumn("_one", F.lit(1))
    )
    ranked = exclusive_prefix(keys, ["_k"], "_one", "sum", "_r", "bigint")
    islands = (
        ranked.withColumn(
            "_island", F.col("_k") - F.coalesce(F.col("_r"), F.lit(0))
        )
        .groupBy("_island")
        .agg(
            F.min("_k").alias("island_start"),
            F.max("_k").alias("island_end"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .select("island_start", "island_end", "n_keys")
        .orderBy("island_start")
    )
    return islands


def join_cardinality_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top_k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Pre-flight for a planned equi-join: EXACT output cardinality and
    the keys that dominate it, computed from per-key counts WITHOUT
    running the join — sum over matching keys of ``n_left * n_right``.
    At 100 TB this is the audit that catches the accidental
    many-to-many (a "unique" key that isn't) before it materializes
    10^12 rows; the answer costs two key-collapsed aggregates instead
    of the join itself. Returns the ``top_k`` fanout contributors:
    ``(rank, key, n_left, n_right, pairs, share_of_pairs,
    est_total_pairs, n_matching_keys)`` — the last two scalar-broadcast
    so the frame is self-contained. Pairs with
    :func:`key_skew_profile` (one-sided skew) the way a plan audit
    pairs with an EXPLAIN.

    Scale shape: one map-side-combinable count per side (frames
    collapse to |keys| rows), an equi-join of the two collapsed frames,
    a scalar aggregate, and a TakeOrderedAndProject top-k — no window
    over data-sized frames, no shuffle of the original tables.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    lc = (
        left.where(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_left"))
    )
    rc = (
        right.where(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    per_key = lc.join(rc, "key").select(
        "key",
        "n_left",
        "n_right",
        (F.col("n_left") * F.col("n_right")).alias("pairs"),
    )
    stats = per_key.agg(
        F.sum("pairs").alias("est_total_pairs"),
        F.count(F.lit(1)).alias("n_matching_keys"),
    )
    top = per_key.orderBy(
        F.col("pairs").desc(), F.col("key").asc()
    ).limit(int(top_k))
    w = Window.orderBy(F.col("pairs").desc(), F.col("key").asc())
    return (
        top.crossJoin(F.broadcast(stats))
        # rank window runs over <= top_k rows — bounded by the limit
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "key",
            "n_left",
            "n_right",
            "pairs",
            F.round(
                F.col("pairs") / F.col("est_total_pairs"), round_to
            ).alias("share_of_pairs"),
            "est_total_pairs",
            "n_matching_keys",
        )
        .orderBy("rank")
    )


def weighted_percentiles(
    df: DataFrame,
    keys: "str | list[str]",
    value_col: str,
    weight_col: str,
    percentiles: "list[int]" = (25, 50, 75),
    weight_scale: int = 1,
) -> DataFrame:
    """EXACT weighted percentiles per key (type-1 / lower quantile: the
    smallest value whose inclusive cumulative weight reaches p% of the
    key's total) — the survey-statistics / importance-weighted form of
    ``percentile`` that Spark only ships unweighted. Percentiles are
    INTEGER percents, so the selection predicate is pure BIGINT
    arithmetic (``cum * 100 >= p * total``) — no float threshold, both
    engines pick the identical row. Row weights are quantized to exact
    integers as ``floor(w · weight_scale)`` (the same explicit-scale
    discipline as the other exact-integer operators) — pass a scale when
    weights are fractional, or the default ``1`` silently floors them.
    Any negative ROW weight raises (checked per-row via a min folded
    into the first aggregation, so mixed-sign weights can't cancel to a
    non-negative group sum and slip through); zero-weight rows never
    satisfy the predicate ahead of mass, and a key whose weights sum to
    zero has no quantile (absent from the output).
    Returns ``(*keys, percentile, value, total_weight)``.

    Scale shape: rows collapse to one partial-aggregated weight per
    (key, value) first, so everything downstream runs on the distinct-
    value frame; the cumulative weight comes from
    :func:`~orientdb_etl_spark.operators.relational.exclusive_prefix`
    over the (keys, value) total order (range-partitioned running sum —
    bounded driver state, no per-key ORDER BY window, and the SAME path
    serves the unkeyed global median where a keyed window would funnel
    everything through one task); the per-key offset that turns the
    global prefix into a within-key one is a broadcastable min per key.
    Percentile fan-out is an array explode over the tiny grid.
    """
    from orientdb_etl_spark.operators.relational import (
        exclusive_prefix,
        join_back_null_safe,
    )

    keys = [keys] if isinstance(keys, str) else list(keys)
    ps = sorted({int(p) for p in percentiles})
    if not ps or ps[0] < 1 or ps[-1] > 100:
        raise ValueError(
            f"percentiles must be integers in [1, 100], got {percentiles}"
        )
    scale = int(weight_scale)
    if scale < 1:
        raise ValueError(f"weight_scale must be >= 1, got {weight_scale}")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    )
    qw = F.floor(F.col(weight_col) * F.lit(scale)).cast("long")
    agg = base.groupBy(*keys, F.col(value_col).alias("_v")).agg(
        F.sum(qw).alias("_w"),
        # row-level negativity witness: min over ROWS in the group, so a
        # -3/+5 mix can't cancel into a clean-looking group sum
        F.min(qw).alias("_minw"),
    )
    cum = exclusive_prefix(
        agg, [*keys, "_v"], "_w", "sum", "_excl", "bigint"
    ).withColumn("_excl", F.coalesce("_excl", F.lit(0)))
    # probe the CHECKPOINTED frame (exclusive_prefix materialized it) so
    # the validation doesn't recompute the collapse — one bounded row
    neg = cum.where(F.col("_minw") < 0).limit(1).collect()
    if neg:
        raise ValueError(
            "weights must be non-negative after quantization; group with "
            f"a negative row weight: {neg[0]}"
        )
    # within-key offset = the global prefix at the key's first value;
    # NULL-SAFE join-back so a NULL-keyed group keeps its quantiles
    offs = cum.groupBy(*keys).agg(
        F.min("_excl").alias("_off"), F.sum("_w").alias("total_weight")
    )
    within = join_back_null_safe(cum, offs, keys).select(
        *keys,
        "_v",
        (F.col("_excl") - F.col("_off") + F.col("_w")).alias("_cum"),
        "total_weight",
    )
    grid = F.explode(
        F.array(*[F.lit(p) for p in ps])
    ).alias("percentile")
    hits = within.select(*keys, "_v", "_cum", "total_weight", grid).where(
        # total_weight > 0: a key whose weights sum to zero has no
        # quantile (0 >= p*0 would otherwise admit every value)
        (F.col("total_weight") > 0)
        & (
            F.col("_cum") * 100
            >= F.col("percentile") * F.col("total_weight")
        )
    )
    return (
        hits.groupBy(*keys, "percentile", "total_weight")
        .agg(F.min("_v").alias("value"))
        .select(*keys, "percentile", "value", "total_weight")
        .orderBy(*keys, "percentile")
    )


def fd_audit(
    df: DataFrame,
    candidates: list[tuple[str, str]],
) -> DataFrame:
    """Functional-dependency audit: for each candidate ``det → dep``
    pair, exact violation statistics plus the TANE ``g3`` error measure
    (Huhtala et al., Comput. J. 1999): the minimum fraction of rows that
    must be removed for the FD to hold exactly —
    ``(rows − Σ_groups max dep-value count) / rows``. ``g3 = 0`` iff the
    FD holds. The data-profiling primitive behind key discovery, schema
    normalization checks, and "is this column derivable" questions.

    NULLs are values on both sides (a NULL determinant is its own group;
    two rows with NULL dep agree), the TANE convention — grouping, not
    ``count(distinct)``, is what makes that exact.

    Returns one row per candidate:
    ``(determinant, dependent, n_groups, n_violating, n_rows, exact,
    g3)``.

    Scale shape: per pair, ONE shuffle to ``(det, dep)`` counts, then a
    partial-aggregated regroup to per-determinant stats (the second
    exchange moves group-count rows, not data rows), then a scalar fold.
    Pairs are independent branches of a union — each is its own
    two-level aggregation; ``candidates`` is a bounded explicit list, so
    the plan width is user-controlled, never schema-quadratic by
    default (use :func:`fd_candidates` to enumerate)."""
    if not candidates:
        raise ValueError("candidates must be a non-empty list of (det, dep)")
    outs = []
    for det, dep in candidates:
        if det == dep:
            raise ValueError(f"determinant equals dependent: {det!r}")
        pair = df.groupBy(
            F.col(det).alias("_k"), F.col(dep).alias("_v")
        ).agg(F.count(F.lit(1)).alias("_n"))
        g = pair.groupBy("_k").agg(
            F.count(F.lit(1)).alias("_ndep"),
            F.max("_n").alias("_top"),
            F.sum("_n").alias("_rows"),
        )
        outs.append(
            g.agg(
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("_ndep") > 1).cast("long")).alias(
                    "n_violating"
                ),
                F.sum("_rows").alias("n_rows"),
                F.round(
                    (F.sum("_rows") - F.sum("_top"))
                    / F.sum("_rows").cast("double"),
                    6,
                ).alias("g3"),
            ).select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_groups",
                "n_violating",
                "n_rows",
                (F.col("n_violating") == 0).alias("exact"),
                "g3",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def fd_candidates(cols: list[str]) -> list[tuple[str, str]]:
    """All ordered pairs of ``cols`` — the bounded enumeration helper
    for :func:`fd_audit` (|cols|·(|cols|−1) branches; keep the list
    small on wide tables)."""
    return [(a, b) for a in cols for b in cols if a != b]


def fd_audit_sql(table: str, candidates: list[tuple[str, str]]) -> str:
    """DuckDB twin of :func:`fd_audit` — the same two-level aggregation
    per pair, unioned; sums cast to BIGINT so integer types agree
    cross-engine."""
    parts = []
    for det, dep in candidates:
        parts.append(
            f"(WITH p AS (SELECT {det} AS k, {dep} AS v, count(*) AS n "
            f"FROM {table} GROUP BY 1, 2), "
            "g AS (SELECT k, count(*) AS ndep, max(n) AS top, "
            "sum(n) AS rws FROM p GROUP BY 1) "
            f"SELECT '{det}' AS determinant, '{dep}' AS dependent, "
            "count(*) AS n_groups, "
            "CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_violating, "
            "CAST(sum(rws) AS BIGINT) AS n_rows, "
            "sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0 AS exact, "
            "round((sum(rws) - sum(top)) / (sum(rws) * 1.0), 6) AS g3 "
            "FROM g)"
        )
    return " UNION ALL ".join(parts)


def drift_report(
    ref: DataFrame,
    cur: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """Batch dataset-drift report between two snapshots: per shared
    column, both sides' row/null/distinct/min/max profile plus the
    comparison deltas — ``null_rate_delta`` (cur − ref),
    ``ndv_ratio`` (cur/ref, NULL when the reference column is all-NULL)
    and ``range_changed`` (either string-rendered extreme moved). The
    companion of the streaming PSI monitor for the batch re-train gate:
    PSI answers "did this one numeric distribution move", this answers
    "which columns changed shape at all" across a whole table.

    Scale shape: ONE single-pass aggregation per snapshot (the
    :func:`column_profile` machinery — all columns in one `agg`, exact
    distinct counts), then a column-name join of two |cols|-row frames;
    nothing data-sized ever joins or shuffles twice."""
    shared = cols or [c for c in ref.columns if c in set(cur.columns)]
    if not shared:
        raise ValueError("no shared columns to compare")
    pr = column_profile(ref, shared, exact=True).select(
        "column",
        F.col("n_rows").alias("n_ref"),
        F.col("n_null").alias("null_ref"),
        F.col("n_distinct").alias("ndv_ref"),
        F.col("min_value").alias("min_ref"),
        F.col("max_value").alias("max_ref"),
    )
    pc = column_profile(cur, shared, exact=True).select(
        "column",
        F.col("n_rows").alias("n_cur"),
        F.col("n_null").alias("null_cur"),
        F.col("n_distinct").alias("ndv_cur"),
        F.col("min_value").alias("min_cur"),
        F.col("max_value").alias("max_cur"),
    )
    rate = lambda n, d: F.when(  # noqa: E731
        F.col(d) > 0, F.col(n).cast("double") / F.col(d)
    )
    return (
        pr.join(pc, "column")
        .withColumn(
            "null_rate_delta",
            F.round(
                rate("null_cur", "n_cur") - rate("null_ref", "n_ref"), 6
            ),
        )
        .withColumn(
            "ndv_ratio",
            F.round(
                F.when(
                    F.col("ndv_ref") > 0,
                    F.col("ndv_cur").cast("double") / F.col("ndv_ref"),
                ),
                6,
            ),
        )
        .withColumn(
            "range_changed",
            ~(
                F.col("min_ref").eqNullSafe(F.col("min_cur"))
                & F.col("max_ref").eqNullSafe(F.col("max_cur"))
            ),
        )
    )


def drift_report_sql(ref_sql: str, cur_sql: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`drift_report` over two snapshot
    sub-selects — one exact profile aggregate per side per column,
    unioned; sums cast to BIGINT, deltas rounded to 6 like the engine."""
    parts = []
    for c in cols:
        prof = (
            "SELECT count(*) AS n, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " AS nn, "
            f"count(DISTINCT {c}) AS nd, "
            f"CAST(min({c}) AS VARCHAR) AS mn, "
            f"CAST(max({c}) AS VARCHAR) AS mx"
        )
        parts.append(
            f"(SELECT '{c}' AS column, r.n AS n_ref, r.nn AS null_ref, "
            "r.nd AS ndv_ref, r.mn AS min_ref, r.mx AS max_ref, "
            "c2.n AS n_cur, c2.nn AS null_cur, c2.nd AS ndv_cur, "
            "c2.mn AS min_cur, c2.mx AS max_cur, "
            "round((CASE WHEN c2.n > 0 THEN c2.nn / (c2.n * 1.0) END) - "
            "(CASE WHEN r.n > 0 THEN r.nn / (r.n * 1.0) END), 6) "
            "AS null_rate_delta, "
            "CASE WHEN r.nd > 0 THEN round(c2.nd / (r.nd * 1.0), 6) END "
            "AS ndv_ratio, "
            "NOT (r.mn IS NOT DISTINCT FROM c2.mn "
            "AND r.mx IS NOT DISTINCT FROM c2.mx) AS range_changed "
            f"FROM ({prof} FROM ({ref_sql})) r, "
            f"({prof} FROM ({cur_sql})) c2)"
        )
    return " UNION ALL ".join(parts)


def ams_f2_certificate(
    df: DataFrame,
    key_col: str,
    estimators: int = 9,
    seed: int = 31,
) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon, Matias & Szegedy,
    STOC'96) vs the exact F2 = Σ_k count(k)² — the self-join-size /
    skew-mass statistic behind join planning (F2 of the join key IS the
    self-join row count, and F2/n² is the collision mass a shuffle on
    that key will see).

    Sketch shape: each estimator j keeps ONE running counter
    S_j = Σ_rows sign_j(key) with sign_j ∈ {−1, +1}; F2 ≈ median_j S_j².
    All ``estimators`` counters ride a single global aggregation — the
    sketch state is O(estimators) numbers regardless of key cardinality,
    whereas the exact side shuffles one row per distinct key. That is
    the 100 TB trade: the sketch answers "how skewed is this key?" from
    one pass with constant state and is mergeable across
    shards/days (counters add), so pre-flight skew checks never need
    the full distinct-key aggregation the exact column performs here.

    Sign hashes come from the repo's portable Knuth-ladder parity
    (engine-replayable integer arithmetic), NOT a 4-wise-independent
    family — so the textbook variance bound is not assumed; the
    certificate reports the ACHIEVED relative error against the exact
    value instead. Returns one row:
    ``(exact_f2, est_f2, rel_err, n_estimators)``.
    """
    if estimators < 1 or estimators % 2 == 0:
        raise ValueError(
            f"estimators must be a positive odd count, got {estimators}"
        )
    knuth, mod = 2654435761, 1000003
    signs = [
        F.expr(
            f"sum(1 - 2 * ((({key_col} + {seed + 131 * j}) % {mod} "
            f"* {knuth} % {mod}) % 2))"
        ).alias(f"_s{j}")
        for j in range(estimators)
    ]
    sk = df.where(F.col(key_col).isNotNull()).agg(*signs)
    ests = F.array_sort(
        F.array(*[(F.col(f"_s{j}") * F.col(f"_s{j}")) for j in range(estimators)])
    )
    est = F.element_at(ests, (estimators + 1) // 2).cast("bigint")
    exact = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("exact_f2"))
    )
    return (
        sk.select(est.alias("est_f2"))
        .join(F.broadcast(exact))
        .select(
            "exact_f2",
            "est_f2",
            F.round(
                F.abs(F.col("est_f2") - F.col("exact_f2"))
                / F.col("exact_f2").cast("double"),
                6,
            ).alias("rel_err"),
            F.lit(estimators).alias("n_estimators"),
        )
    )


def ams_f2_sql(
    table: str, key_col: str, estimators: int = 9, seed: int = 31
) -> str:
    """Portable SQL twin of :func:`ams_f2_certificate` — one generator,
    both engines' constants (the certificate pattern of
    ``kmeans_rounds_sql``)."""
    knuth, mod = 2654435761, 1000003
    sums = ", ".join(
        f"sum(1 - 2 * ((({key_col} + {seed + 131 * j}) % {mod} "
        f"* {knuth} % {mod}) % 2)) AS s{j}"
        for j in range(estimators)
    )
    sq = ", ".join(f"s{j} * s{j}" for j in range(estimators))
    mid = (estimators + 1) // 2
    return (
        f"WITH sk AS (SELECT {sums} FROM {table} "
        f"WHERE {key_col} IS NOT NULL), "
        f"e AS (SELECT list_sort([{sq}]) AS ests FROM sk), "
        f"x AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM "
        f"(SELECT count(*) AS c FROM {table} "
        f"WHERE {key_col} IS NOT NULL GROUP BY {key_col})) "
        f"SELECT exact_f2, CAST(ests[{mid}] AS BIGINT) AS est_f2, "
        f"round(abs(CAST(ests[{mid}] AS BIGINT) - exact_f2) "
        f"/ CAST(exact_f2 AS DOUBLE), 6) AS rel_err, "
        f"{estimators} AS n_estimators FROM e, x"
    )


def kmv_distinct_certificate(
    df: DataFrame,
    key_col: str,
    group_col: str | None = None,
    k: int = 256,
    seed: int = 9,
    round_to: int = 6,
) -> DataFrame:
    """k-minimum-values distinct-count sketch (Bar-Yossef et al.
    RANDOM'02; AKMV of Beyer et al. SIGMOD'07), certified against the
    exact count — and, with ``group_col``, certified MERGEABLE: an
    ``ALL`` row whose estimate comes from unioning the per-group
    sketches (k smallest of the k-smallest sets), never from re-scanning
    the data.

    Estimator: hash every key with the repo's portable Knuth ladder
    (uniform-ish on [0, MOD)); if the scope holds ≤ k distinct hashes
    the sketch IS the distinct-hash set (estimate = its size — exact up
    to the bounded hash range's collisions, which the certificate
    surfaces rather than hides); otherwise ``est = (k − 1) · MOD /
    h_(k)`` with ``h_(k)`` the k-th smallest hash. Unlike HLL this
    sketch is EXACTLY engine-replayable — integer hashes, an integer
    order statistic, one double division — so the certificate
    hash-matches a SQL twin with no tolerance band, and the sketch
    state (k BIGINTs) merges by concatenate-and-retake-k.

    Scale shape: per scope, the sketch is the k-smallest slice of the
    distinct-hash frame (collected per scope — ≤ k kept; at real scale
    the identical order statistic comes from topk_per_group's partial
    WindowGroupLimit); the exact column is the one-row-per-distinct-key
    shuffle the sketch exists to avoid at 100 TB — it is here to make
    the certificate falsifiable. Returns ``(scope, n_exact, est,
    rel_err, sketch_k)`` rows.
    """
    knuth, mod = 2654435761, 1000003
    h = F.expr(f"({key_col} + {seed}) % {mod} * {knuth} % {mod}")
    gcol = (
        F.col(group_col).cast("string") if group_col else F.lit("ALL")
    ).alias("scope")
    keys = (
        df.where(F.col(key_col).isNotNull())
        .select(gcol, F.col(key_col).alias("_key"), h.alias("_h"))
        .distinct()
    )

    def _est(mins_col, n_hashes):
        return F.when(
            n_hashes <= k, n_hashes.cast("double")
        ).otherwise(
            F.lit(float(k - 1))
            * F.lit(float(mod))
            / F.element_at(mins_col, k).cast("double")
        )

    per_sketch = keys.groupBy("scope").agg(
        F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias("_mins"),
        F.size(F.collect_set("_h")).cast("bigint").alias("_nh"),
        F.count(F.lit(1)).alias("n_exact"),
    )

    def _rows(sk: DataFrame) -> DataFrame:
        est = _est(F.col("_mins"), F.col("_nh"))
        return sk.select(
            "scope",
            "n_exact",
            F.round(est, round_to).alias("est"),
            F.round(
                F.abs(est - F.col("n_exact")) / F.col("n_exact"), round_to
            ).alias("rel_err"),
            F.lit(k).alias("sketch_k"),
        )

    per = _rows(per_sketch)
    if not group_col:
        return per
    # union row: merge PER-GROUP sketches (k smallest of the union of
    # the k-smallest sets) — the estimate never touches raw data again;
    # the exact side is the global distinct-key count
    global_exact = keys.select("_key").distinct().count()
    merged = (
        per_sketch.select(F.explode("_mins").alias("_h"))
        .distinct()
        .agg(
            F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias("_mins"),
            F.size(F.collect_set("_h")).cast("bigint").alias("_nh"),
        )
        .select(
            F.lit("ALL").alias("scope"),
            F.lit(global_exact).alias("n_exact"),
            "_mins",
            # a merged set smaller than k certifies the union's
            # distinct-hash count is its size (standard KMV union rule)
            F.col("_nh"),
        )
    )
    return per.unionByName(_rows(merged))


def kmv_overlap_certificate(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    k: int = 256,
    seed: int = 9,
    round_to: int = 6,
) -> DataFrame:
    """KMV set-OVERLAP estimate (the theta-sketch intersection of Dasgupta
    et al., "Theta-Sketch Framework", and the AKMV resemblance estimator
    of Beyer et al. SIGMOD'07 §4): estimate ``|A ∩ B|`` and the Jaccard
    of two key sets from their k-minimum-values sketches alone — the
    "audience overlap" question answered WITHOUT the distinct-join the
    exact answer needs. One row: ``(n_a, n_b, n_inter, est_inter,
    jaccard_exact, jaccard_est, rel_err, sketch_k)`` where the exact
    columns certify the estimates (and exist only for that — at 100 TB
    a user keeps the sketch side and drops the certificate join).

    Estimator: hash both sides with the repo's portable Knuth ladder;
    ``K = k smallest of (mins_A ∪ mins_B)`` is the union sketch — a
    uniform distinct-hash sample of ``A ∪ B`` — so ``ρ = |K ∩ mins_A ∩
    mins_B| / |K|`` estimates the Jaccard and ``est_inter = ρ ·
    est_union`` the intersection size (``est_union`` by the standard
    KMV rule: exact when the union holds ≤ k distinct hashes, else
    ``(k−1)·MOD/h_(k)``). Integer hashes, integer order statistics,
    two double divisions — EXACTLY engine-replayable like
    :func:`kmv_distinct_certificate`, so the certificate hash-matches
    a SQL twin with no tolerance band.

    Scale shape: each side collapses to its ≤ k-hash sketch in one
    distinct-aggregate pass; every step after operates on ≤ 2k BIGINTs.
    The exact columns are one distinct-key aggregation per side plus
    the intersection join the sketch exists to avoid.
    """
    knuth, mod = 2654435761, 1000003
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")

    def _side(df: DataFrame, tag: str) -> DataFrame:
        h = F.expr(f"({key_col} + {seed}) % {mod} * {knuth} % {mod}")
        return (
            df.where(F.col(key_col).isNotNull())
            .select(F.col(key_col).alias("_key"), h.alias("_h"))
            .distinct()
            .agg(
                F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias(
                    f"_mins_{tag}"
                ),
                F.count(F.lit(1)).alias(f"n_{tag}"),
            )
        )

    a, b = _side(df_a, "a"), _side(df_b, "b")
    # exact intersection: distinct keys on both sides (certificate only)
    ka = (
        df_a.where(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("_key"))
        .distinct()
    )
    kb = (
        df_b.where(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("_key"))
        .distinct()
    )
    inter = ka.join(kb, "_key").agg(F.count(F.lit(1)).alias("n_inter"))

    both = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(inter))
    union_all = F.array_sort(
        F.array_union(F.col("_mins_a"), F.col("_mins_b"))
    )
    ksk = F.slice(union_all, 1, k)
    n_union_hashes = F.size(union_all).cast("bigint")
    est_union = F.when(
        n_union_hashes <= k, n_union_hashes.cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(float(mod))
        / F.element_at(ksk, k).cast("double")
    )
    shared = F.size(
        F.array_intersect(
            ksk, F.array_intersect(F.col("_mins_a"), F.col("_mins_b"))
        )
    )
    rho = F.when(
        F.size(ksk) > 0,
        shared.cast("double") / F.size(ksk).cast("double"),
    )
    est_inter = rho * est_union
    j_exact = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return both.select(
        "n_a",
        "n_b",
        "n_inter",
        F.round(est_inter, round_to).alias("est_inter"),
        F.round(j_exact, round_to).alias("jaccard_exact"),
        F.round(rho, round_to).alias("jaccard_est"),
        F.round(
            F.when(
                F.col("n_inter") > 0,
                F.abs(est_inter - F.col("n_inter"))
                / F.col("n_inter").cast("double"),
            ),
            round_to,
        ).alias("rel_err"),
        F.lit(k).alias("sketch_k"),
    )


def kmv_overlap_sql(
    table_a: str,
    table_b: str,
    key_col: str,
    k: int = 256,
    seed: int = 9,
    round_to: int = 6,
) -> str:
    """Portable SQL twin of :func:`kmv_overlap_certificate` —
    set algebra via joins/order statistics instead of array functions,
    same integers, same two double divisions."""
    knuth, mod = 2654435761, 1000003
    r = int(round_to)

    def _hashes(tag: str, table: str) -> str:
        return (
            f"h{tag} AS (SELECT DISTINCT ({key_col} + {seed}) % {mod} "
            f"* {knuth} % {mod} AS h FROM {table} "
            f"WHERE {key_col} IS NOT NULL)"
        )

    return (
        f"WITH {_hashes('a', table_a)}, {_hashes('b', table_b)}, "
        f"ma AS (SELECT h FROM ha ORDER BY h LIMIT {k}), "
        f"mb AS (SELECT h FROM hb ORDER BY h LIMIT {k}), "
        # union sketch: k smallest of the two min-sets
        f"ku AS (SELECT h FROM (SELECT h FROM ma UNION SELECT h FROM mb) "
        f"ORDER BY h LIMIT {k}), "
        f"nu AS (SELECT count(*) AS n FROM "
        f"(SELECT h FROM ma UNION SELECT h FROM mb)), "
        f"kk AS (SELECT max(h) AS hk, count(*) AS nk FROM ku), "
        f"sh AS (SELECT count(*) AS s FROM ku "
        f"JOIN ma USING (h) JOIN mb USING (h)), "
        f"na AS (SELECT count(DISTINCT {key_col}) AS n FROM {table_a} "
        f"WHERE {key_col} IS NOT NULL), "
        f"nb AS (SELECT count(DISTINCT {key_col}) AS n FROM {table_b} "
        f"WHERE {key_col} IS NOT NULL), "
        f"ni AS (SELECT count(*) AS n FROM "
        f"(SELECT DISTINCT {key_col} FROM {table_a} "
        f"WHERE {key_col} IS NOT NULL) ia JOIN "
        f"(SELECT DISTINCT {key_col} FROM {table_b} "
        f"WHERE {key_col} IS NOT NULL) ib USING ({key_col})), "
        f"est AS (SELECT CASE WHEN nu.n <= {k} "
        f"THEN CAST(nu.n AS DOUBLE) "
        f"ELSE {float(k - 1)!r} * {float(mod)!r} / CAST(kk.hk AS DOUBLE) "
        f"END AS eu, "
        f"CASE WHEN kk.nk > 0 THEN CAST(sh.s AS DOUBLE) / CAST(kk.nk AS DOUBLE) END AS rho "
        f"FROM nu, kk, sh) "
        f"SELECT CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b, "
        f"CAST(ni.n AS BIGINT) AS n_inter, "
        f"round(est.rho * est.eu, {r}) AS est_inter, "
        f"round(CAST(ni.n AS DOUBLE) / "
        f"CAST(na.n + nb.n - ni.n AS DOUBLE), {r}) AS jaccard_exact, "
        f"round(est.rho, {r}) AS jaccard_est, "
        f"round(CASE WHEN ni.n > 0 THEN abs(est.rho * est.eu - ni.n) / "
        f"CAST(ni.n AS DOUBLE) END, {r}) AS rel_err, "
        f"{k} AS sketch_k FROM na, nb, ni, est"
    )


def heaps_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: OLS of ``ln(cumulative
    vocabulary)`` on ``ln(cumulative tokens)`` over the corpus read in
    ``id_col`` order — one row ``(n_docs, total_tokens, vocab,
    heaps_beta, heaps_k, r2)``. Natural corpora grow V ≈ K·nᵝ with β in
    roughly [0.4, 0.6]; β near 1 means the vocabulary never saturates
    (ids/hashes/noise leaking into tokens), β collapsing toward 0 means
    template text. The growth-side companion of :func:`zipf_fit`'s
    frequency-side audit (the two laws are duals — Lü et al. 2010).

    Scale shape: token counts and first-occurrence docs are two hash
    aggregations; both cumulatives come from
    :func:`~orientdb_etl_spark.operators.relational.exclusive_prefix`
    (range-partitioned running sums — never a global ORDER BY window);
    the OLS is one closed-form aggregate over the per-doc points.
    """
    from orientdb_etl_spark.operators.relational import exclusive_prefix

    toks = (
        df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("_tok"),
        )
        .where(F.length("_tok") > 0)
    )
    per_doc = toks.groupBy("_doc").agg(F.count(F.lit(1)).alias("_n_tok"))
    first_doc = toks.groupBy("_tok").agg(F.min("_doc").alias("_fd"))
    new_types = first_doc.groupBy(F.col("_fd").alias("_doc")).agg(
        F.count(F.lit(1)).alias("_newt")
    )
    d = per_doc.join(new_types, "_doc", "left").select(
        "_doc",
        "_n_tok",
        F.coalesce(F.col("_newt"), F.lit(0)).cast("bigint").alias("_newt"),
    )
    d = exclusive_prefix(d, ["_doc"], "_n_tok", "sum", "_pt", "bigint")
    d = exclusive_prefix(d, ["_doc"], "_newt", "sum", "_pv", "bigint")
    pts = d.select(
        (F.coalesce(F.col("_pt"), F.lit(0)) + F.col("_n_tok")).alias("_ct"),
        (F.coalesce(F.col("_pv"), F.lit(0)) + F.col("_newt")).alias("_cv"),
        "_n_tok",
    )
    lx = F.log(F.col("_ct").cast("double"))
    ly = F.log(F.col("_cv").cast("double"))
    g = pts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n_tok").cast("bigint").alias("total_tokens"),
        F.max("_cv").alias("vocab"),
        F.covar_samp(lx, ly).alias("_cov"),
        F.var_samp(lx).alias("_vx"),
        F.var_samp(ly).alias("_vy"),
        F.avg(lx).alias("_mx"),
        F.avg(ly).alias("_my"),
    )
    beta = F.col("_cov") / F.col("_vx")
    return g.select(
        "n_docs",
        "total_tokens",
        "vocab",
        F.round(beta, round_to).alias("heaps_beta"),
        F.round(F.exp(F.col("_my") - beta * F.col("_mx")), round_to).alias(
            "heaps_k"
        ),
        F.round(
            F.when(
                F.col("_vy") > 0,
                (F.col("_cov") * F.col("_cov")) / (F.col("_vx") * F.col("_vy")),
            ),
            round_to,
        ).alias("r2"),
    )


_QD_SPLIT_BITS = 12  # subtree height for the grouped sweep phase


def _qdigest_sweep_arrays(lvl, idx, cnt, t: int, lo: int, hi: int):
    """The bottom-up sweeps for levels ``[lo, hi)`` over parallel int64
    numpy arrays — the exact per-level decision of the relational sweep
    (children-sum + existing-parent count vs ``t``), in exact integer
    arithmetic, so the result is bit-identical on any execution. Used
    per dyadic subtree inside :func:`_qdigest_compress`'s grouped pass
    and on the driver for the bounded top levels."""
    import numpy as np

    for l in range(lo, hi):
        curm = lvl == l
        if not curm.any():
            continue
        parm = lvl == (l + 1)
        child_idx, child_cnt = idx[curm], cnt[curm]
        pidx = child_idx >> 1
        order = np.argsort(pidx, kind="stable")
        sp, sc = pidx[order], child_cnt[order]
        uniq, starts = np.unique(sp, return_index=True)
        sums = np.add.reduceat(sc, starts)
        par_idx, par_cnt = idx[parm], cnt[parm]
        if len(par_idx):
            po = np.argsort(par_idx, kind="stable")
            psort, pcsort = par_idx[po], par_cnt[po]
            pos = np.searchsorted(psort, uniq)
            valid = pos < len(psort)
            match = np.zeros(len(uniq), dtype=bool)
            match[valid] = psort[pos[valid]] == uniq[valid]
            pc = np.where(match, pcsort[np.minimum(pos, len(psort) - 1)], 0)
        else:
            pc = np.zeros(len(uniq), dtype=np.int64)
        tot = sums + pc
        merged_m = tot < t
        merged_idx, merged_cnt = uniq[merged_m], tot[merged_m]
        keep_child = np.isin(pidx, uniq[~merged_m])
        kept_par = ~np.isin(par_idx, merged_idx)
        otherm = ~(curm | parm)
        lvl = np.concatenate(
            [
                lvl[otherm],
                np.full(int(keep_child.sum()), l, dtype=np.int64),
                np.full(int(kept_par.sum()), l + 1, dtype=np.int64),
                np.full(len(merged_idx), l + 1, dtype=np.int64),
            ]
        )
        idx = np.concatenate(
            [idx[otherm], child_idx[keep_child], par_idx[kept_par], merged_idx]
        )
        cnt = np.concatenate(
            [cnt[otherm], child_cnt[keep_child], par_cnt[kept_par], merged_cnt]
        )
    return lvl, idx, cnt


def _qdigest_compress(
    nodes: DataFrame, t: int, universe_bits: int
) -> DataFrame:
    """The bottom-up q-digest compression (Shrivastava et al., SenSys
    2004): for each level l ascending, a parent whose children-plus-self
    total is below the threshold ``t = floor(n/k)`` absorbs its
    children. All counts are integers and the level order is fixed, so
    the result is deterministic on any layout and replayable in SQL.

    Execution shape: a sweep at level ``l`` touches only levels ``l``
    and ``l+1`` of one dyadic subtree, so sweeps below a split level are
    embarrassingly parallel ACROSS subtrees. Phase 1 runs levels
    ``0..split-1`` inside one grouped Arrow pass (group = the height-
    ``split`` dyadic subtree, ``gid = idx >> (split - lvl)``) — exactly
    the global sweep restricted to each group. Phase 2 collects the
    surviving nodes at level >= ``split`` — at most
    ``2^(universe_bits - split + 1)`` rows BY CONSTRUCTION of the dyadic
    universe (8k for the default split), never data-dependent — and
    finishes the remaining sweeps driver-side in exact integers (the
    k-means-centroids bounded-state pattern). Nodes settled below the
    split level are final (no later sweep can touch them) and never
    leave the executors. One Spark job replaces ``universe_bits``
    sequential per-level jobs, each of which needed a
    ``localCheckpoint(eager=True)`` to stop the triply-self-referencing
    plan from growing 3^levels."""
    import numpy as np
    import pandas as pd

    spark = nodes.sparkSession
    split = max(universe_bits - _QD_SPLIT_BITS, 0)
    schema = "lvl int, idx long, cnt long"

    def _sweep_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        lvl, idx, cnt = _qdigest_sweep_arrays(
            pdf["lvl"].to_numpy(np.int64),
            pdf["idx"].to_numpy(np.int64),
            pdf["cnt"].to_numpy(np.int64),
            t,
            0,
            split,
        )
        return pd.DataFrame(
            {"lvl": lvl.astype("int32"), "idx": idx, "cnt": cnt}
        )

    if split > 0:
        low = nodes.filter(F.col("lvl") <= split)
        high = nodes.filter(F.col("lvl") > split)
        swept = low.groupBy(
            F.expr(f"shiftright(idx, {split} - lvl)").alias("_g")
        ).applyInPandas(_sweep_group, schema)
        # two consumers (final_low below, the collected top) — one
        # materialization, not two grouped passes
        swept = swept.localCheckpoint(eager=True)
        final_low = swept.filter(F.col("lvl") < split)
        rest = swept.filter(F.col("lvl") >= split).unionByName(high)
    else:
        final_low = None
        rest = nodes
    bound = 1 << (universe_bits - split + 1)
    rows = rest.limit(bound + 1).collect()
    if len(rows) > bound:
        # distinct (lvl, idx) nodes at levels >= split of a 2^ubits
        # dyadic universe cannot exceed the bound — exceeding it means
        # the input was not a valid node table; fail loud rather than
        # let a corrupt caller grow the driver finish unboundedly
        raise RuntimeError(
            f"q-digest top-level collect returned {len(rows)} rows, over "
            f"the construction bound {bound} "
            f"(universe_bits={universe_bits}, split={split}); "
            "the input node table violates the dyadic-universe contract"
        )
    lvl = np.fromiter((r.lvl for r in rows), dtype=np.int64, count=len(rows))
    idx = np.fromiter((r.idx for r in rows), dtype=np.int64, count=len(rows))
    cnt = np.fromiter((r.cnt for r in rows), dtype=np.int64, count=len(rows))
    lvl, idx, cnt = _qdigest_sweep_arrays(
        lvl, idx, cnt, t, split, universe_bits
    )
    top = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(lvl, idx, cnt)], schema
    )
    return top if final_low is None else final_low.unionByName(top)


def qdigest_build(
    df: DataFrame,
    value_col: str,
    k: int = 256,
    universe_bits: int = 24,
) -> DataFrame:
    """Q-digest mergeable quantile sketch (Shrivastava et al., SenSys
    2004) over a non-negative integer column — the quantile twin of the
    count-min sketch: FIXED-size state (≤ 3k nodes) regardless of row
    count, exact-integer construction (deterministic on any layout and
    oracle-replayable in SQL — no random compaction coin-flips, unlike
    KLL/t-digest), and mergeable by count-sum + recompression
    (:func:`qdigest_merge`). Rank guarantee: a quantile read from the
    sketch NEVER undershoots its target rank and overshoots by at most
    ``universe_bits · n/k`` (:func:`qdigest_quantiles` certifies both
    per query).

    Nodes are dyadic ranges: ``(lvl, idx)`` covers
    ``[idx·2^lvl, (idx+1)·2^lvl)``. Build: exact leaf counts (one hash
    aggregation — the only corpus-sized shuffle), then ``universe_bits``
    bottom-up compression sweeps over the node table, each one
    aggregation + two sketch-sized joins. Values must lie in
    ``[0, 2^universe_bits)`` — validated up front (scale the column to
    integer units first, e.g. price cents).

    The finished sketch is the low levels' ``localCheckpoint`` plus the
    driver-finished top levels as a literal table, so downstream
    consumers read materialized rows and no cache entry is left; the
    checkpoint blocks are released with the frame by the context
    cleaner.

    Cite: reference has no counterpart; SURVEY §2.8 sketch family
    (cms_build / hll_union_certificate's quantile sibling).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 1 <= universe_bits <= 40:
        raise ValueError(
            f"universe_bits must be in [1, 40], got {universe_bits}"
        )
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("long").alias("_v")
    )
    stats = vals.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("mn"),
        F.max("_v").alias("mx"),
    ).first()
    if stats.n == 0:
        raise ValueError(f"{value_col!r} has no non-null values")
    if stats.mn < 0 or stats.mx >= (1 << universe_bits):
        raise ValueError(
            f"values must lie in [0, 2^{universe_bits}); "
            f"got [{stats.mn}, {stats.mx}]"
        )
    t = max(stats.n // k, 1)
    leaves = vals.groupBy(F.col("_v").alias("idx")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    nodes = leaves.select(
        F.lit(0).alias("lvl"), "idx", "cnt"
    )
    return _qdigest_compress(nodes, t, universe_bits)


def qdigest_merge(
    a: DataFrame,
    b: DataFrame,
    k: int = 256,
    universe_bits: int = 24,
) -> DataFrame:
    """Merge two q-digests built with the same ``universe_bits``:
    count-sum on shared ``(lvl, idx)`` nodes, then one recompression
    sweep under the merged total's threshold. The result answers
    quantile queries over the UNION of the two inputs' data with the
    same never-undershoot / ``universe_bits·n/k`` guarantees — the
    distributed-aggregation property that lets per-partition or
    per-day sketches roll up without touching raw data again."""
    u = (
        a.unionByName(b)
        .groupBy("lvl", "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    n = u.agg(F.sum("cnt")).first()[0]
    t = max(int(n) // k, 1)
    return _qdigest_compress(u.select("lvl", "idx", "cnt"), t, universe_bits)


def qdigest_quantiles(
    sketch: DataFrame,
    qs: "list[float]",
    k: int = 256,
    universe_bits: int = 24,
) -> DataFrame:
    """Answer quantile queries from a q-digest: for each ``q`` return
    ``(q, target_rank, est)`` where ``est`` is the value at the first
    node (in the canonical ``(hi, lvl)``-ascending traversal — ``hi``
    the node range's inclusive upper bound) whose cumulative count
    reaches ``target_rank = ceil(q·n)``. The traversal runs as ONE
    JVM array fold over the collected sketch (1-row state — the sketch
    is ≤ 3k nodes by construction, the unigram-lattice bound): no
    window, no per-q shuffle."""
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not 0 < q <= 1 for q in qs):
        raise ValueError(f"each q must be in (0, 1], got {qs}")
    hi = F.expr("(idx + 1) * shiftleft(CAST(1 AS BIGINT), lvl) - 1")
    packed = sketch.select(
        F.struct(
            hi.alias("hi"), F.col("lvl").alias("lvl"), F.col("cnt").alias("cnt")
        ).alias("_s")
    ).agg(
        F.sort_array(F.collect_list("_s")).alias("gs"),
        F.sum(F.col("_s.cnt")).alias("n"),
    )
    rows = packed.select(
        "n",
        F.explode(
            F.array(*[F.lit(float(q)) for q in qs])
        ).alias("q"),
        "gs",
    ).select(
        "q",
        F.ceil(F.col("q") * F.col("n")).cast("long").alias("target_rank"),
        "gs",
    )
    # per-q O(|sketch|) fold: first hi whose running count >= target
    fold = F.expr(
        "aggregate(gs, struct(CAST(0 AS BIGINT) AS c, "
        "CAST(-1 AS BIGINT) AS ans), "
        "(a, x) -> struct(a.c + x.cnt AS c, "
        "IF(a.ans >= 0, a.ans, "
        "IF(a.c + x.cnt >= target_rank, x.hi, CAST(-1 AS BIGINT))) AS ans), "
        "a -> a.ans)"
    )
    return rows.select("q", "target_rank", fold.alias("est"))


def _qdigest_sweep_sql(suffix: str, k: int, ubits: int) -> str:
    """The ``ubits`` bottom-up q-digest compression sweeps as a CTE
    chain (trailing comma): per level ``l`` a decision table
    ``d{l}{suffix}`` (children-sum + existing-parent count vs the
    threshold from ``th{suffix}``) and the next node table
    ``r{l+1}{suffix}``. Every CTE is MATERIALIZED — each round
    references the previous THREE times, and default inlining would
    re-evaluate 3^ubits branches. Shared by the build, merge, and
    streaming oracles."""
    s = ""
    for l in range(ubits):
        s += (
            f"d{l}{suffix} AS MATERIALIZED (SELECT g.pidx, "
            "CAST(g.s + coalesce(p.cnt, 0) AS BIGINT) AS tot "
            "FROM (SELECT idx // 2 AS pidx, "
            f"CAST(sum(cnt) AS BIGINT) AS s FROM r{l}{suffix} "
            f"WHERE lvl = {l} GROUP BY 1) g "
            f"LEFT JOIN (SELECT idx, cnt FROM r{l}{suffix} "
            f"WHERE lvl = {l + 1}) p ON p.idx = g.pidx), "
            f"r{l + 1}{suffix} AS MATERIALIZED ("
            f"SELECT lvl, idx, cnt FROM r{l}{suffix} "
            f"WHERE lvl <> {l} AND lvl <> {l + 1} "
            f"UNION ALL SELECT c.lvl, c.idx, c.cnt FROM r{l}{suffix} c "
            f"JOIN d{l}{suffix} d ON c.idx // 2 = d.pidx "
            f"CROSS JOIN th{suffix} th "
            f"WHERE c.lvl = {l} AND d.tot >= th.t "
            f"UNION ALL SELECT p.lvl, p.idx, p.cnt FROM r{l}{suffix} p "
            f"CROSS JOIN th{suffix} th WHERE p.lvl = {l + 1} "
            f"AND NOT EXISTS (SELECT 1 FROM d{l}{suffix} d "
            "WHERE d.pidx = p.idx AND d.tot < th.t) "
            f"UNION ALL SELECT {l + 1} AS lvl, d.pidx AS idx, "
            f"d.tot AS cnt FROM d{l}{suffix} d CROSS JOIN th{suffix} th "
            "WHERE d.tot < th.t), "
        )
    return s


def qdigest_build_sql(
    src_select: str,
    k: int = 256,
    universe_bits: int = 24,
    suffix: str = "",
) -> str:
    """CTE chain (no leading WITH, trailing comma) replaying
    :func:`qdigest_build` over ``src_select`` — a SELECT yielding one
    BIGINT column ``c``. Exposes ``v{suffix}`` (values),
    ``th{suffix}`` (threshold t and total n) and the finished sketch
    ``r{universe_bits}{suffix}``."""
    s = (
        f"v{suffix} AS MATERIALIZED (SELECT c FROM ({src_select})), "
        f"th{suffix} AS (SELECT greatest(count(*) // {int(k)}, 1) AS t, "
        f"count(*) AS n FROM v{suffix}), "
        f"r0{suffix} AS MATERIALIZED (SELECT 0 AS lvl, c AS idx, "
        f"count(*) AS cnt FROM v{suffix} GROUP BY c), "
    )
    return s + _qdigest_sweep_sql(suffix, int(k), int(universe_bits))


def qdigest_merge_sql(
    a_nodes: str,
    b_nodes: str,
    k: int = 256,
    universe_bits: int = 24,
    suffix: str = "_m",
) -> str:
    """CTE chain (trailing comma) replaying :func:`qdigest_merge` of
    two finished sketch CTEs: count-sum on shared ``(lvl, idx)`` nodes,
    threshold from the merged total, then the same compression sweeps.
    Merge of two inputs is symmetric (union-sum), so epoch arrival
    order cannot change the replay."""
    s = (
        f"u{suffix} AS MATERIALIZED (SELECT lvl, idx, "
        "CAST(SUM(cnt) AS BIGINT) AS cnt FROM ("
        f"SELECT lvl, idx, cnt FROM {a_nodes} "
        f"UNION ALL SELECT lvl, idx, cnt FROM {b_nodes}) GROUP BY 1, 2), "
        f"th{suffix} AS (SELECT greatest(CAST((SELECT SUM(cnt) "
        f"FROM u{suffix}) AS BIGINT) // {int(k)}, 1) AS t, "
        f"CAST((SELECT SUM(cnt) FROM u{suffix}) AS BIGINT) AS n), "
        f"r0{suffix} AS MATERIALIZED (SELECT lvl, idx, cnt "
        f"FROM u{suffix}), "
    )
    return s + _qdigest_sweep_sql(suffix, int(k), int(universe_bits))
