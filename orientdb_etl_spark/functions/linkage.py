"""Record linkage: similarity joins on strings (entity resolution).

:func:`fuzzy_join` matches two tables on an edit-distance predicate
``levenshtein(left.col, right.col) <= d`` WITHOUT the cross join that a
naive similarity join implies. Blocking uses the PassJoin segment scheme
(Li, Deng, Feng — VLDB'11): partition every index-side string into
``d+1`` contiguous segments; by pigeonhole, any string within edit
distance ``d`` must contain at least one segment EXACTLY, at a position
shifted by at most ``d``. The probe side therefore enumerates only the
O(d²) substrings that could equal some segment, and the join runs on
``(candidate_length, segment_idx, segment_text)`` — an equi-join.

The blocking is LOSSLESS (every true pair survives to verification), so
the result is exactly the cross-join-with-filter semantics — which is
what lets the DuckDB oracle verify it with a brute-force join.

Scale shape: index side emits ``d+1`` rows per string, probe side
``O((2d+1)²·(d+1))`` rows per string — constants, not data-dependent
blow-up; ONE equi-join shuffle on the segment key, `distinct` on the
candidate pair stream, then verification with the engine-side
``levenshtein`` (threshold form: abandons a pair's DP early once the
distance exceeds ``d``). No UDFs; everything is generated SQL
expressions inside whole-stage codegen.

Degenerate keys: strings shorter than ``d+1`` produce zero-length
segments (join key ``''``) — they pair with every other short string of
a compatible length, which is bounded by the short-string count, and
losslessness requires keeping them (the untouched pigeonhole segment of
a short string can be the empty one).

The two exact token-set joins, :func:`set_similarity_join` (Jaccard)
and :func:`containment_join`, share one private prefix-filter core:
``_token_sets`` (distinct lower-cased whitespace tokens),
``_rarity_ordered`` (rarest-first order by the index side's document
frequency, and the prefix length, behind one explicit-width exchange on
the id), ``_candidates`` (the probe prefix equi-joined on the token with
the index tokens, deduplicated unless the prefix is one token) and
``_verify`` (``size(array_intersect)`` on the pair's two sets). Each
caller adds only its index side, its filters and its score. Neither
caches anything.

No counterpart in the reference (its `merge`/`link` lookups are exact
equi-joins, OMergeTransformer.java:61-101); §2.8 extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "containment_join",
    "jaro_winkler",
    "fuzzy_join",
    "set_similarity_join",
    "golden_record",
    "sorted_neighborhood_pairs",
    "fellegi_sunter",
    "fs_weight_sql",
    "resolve_entities",
    "soundex_sql",
    "phonetic_blocks",
]


def _index_segments(col: str, d: int) -> str:
    """Index-side segmentation: the even ``d+1``-way split of ``col``.
    base = L div (d+1), rem = L mod (d+1); the LAST ``rem`` segments get
    one extra character. Segment i starts (0-based) at
    ``i*base + max(0, i - k0)`` with ``k0 = d+1-rem``. Emits an array of
    struct(l_len, seg_i, seg)."""
    n = d + 1
    return (
        f"transform(sequence(0, {d}), i -> named_struct("
        f"'l_len', length({col}), "
        "'seg_i', i, "
        f"'seg', substring({col}, "
        f"i * (length({col}) div {n}) "
        f"+ greatest(0, i - ({n} - length({col}) % {n})) + 1, "
        f"(length({col}) div {n}) "
        f"+ if(i >= {n} - length({col}) % {n}, 1, 0))))"
    )


def _probe_segments(col: str, d: int) -> str:
    """Probe-side enumeration: for every candidate index-length
    L in [len-d, len+d] and segment i, the substrings of the segment's
    length at starts within ±d of the segment's home position (clamped
    to the probe string). Empty ranges yield empty arrays (Spark's
    ``sequence(a, b)`` with a > b would DESCEND, not empty — guard it).
    """
    n = d + 1
    m = f"length({col})"
    base = f"(L div {n})"
    k0 = f"({n} - L % {n})"
    seg_len = f"({base} + if(i >= {k0}, 1, 0))"
    start = f"(i * {base} + greatest(0, i - {k0}))"
    lo = f"greatest(0, {start} - {d})"
    hi = f"least({m} - {seg_len}, {start} + {d})"
    inner = (
        f"if({hi} < {lo} or {seg_len} < 0, "
        "array(), "
        f"transform(sequence({lo}, {hi}), p -> named_struct("
        "'l_len', L, 'seg_i', i, "
        f"'seg', substring({col}, p + 1, {seg_len}))))"
    )
    return (
        f"flatten(transform(sequence(greatest({m} - {d}, 0), {m} + {d}), L -> "
        f"flatten(transform(sequence(0, {d}), i -> {inner}))))"
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    max_dist: int = 1,
    dist_col: str = "dist",
) -> DataFrame:
    """Edit-distance similarity join: all ``(left_id, right_id,
    left_col, right_col, dist)`` with ``levenshtein <= max_dist``.
    Exactly equivalent to the cross join + filter, via lossless PassJoin
    segment blocking (see module docstring). NULL strings never match.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    d = int(max_dist)
    lt = left.select(
        F.col(left_id).alias("_lid"), F.col(left_col).alias("_ls")
    ).filter(F.col("_ls").isNotNull()).distinct()
    rt = right.select(
        F.col(right_id).alias("_rid"), F.col(right_col).alias("_rs")
    ).filter(F.col("_rs").isNotNull()).distinct()
    # Decide on DISTINCT STRINGS, expand to ids afterwards (guide-§8
    # proxy discipline): real entity-resolution inputs repeat strings
    # heavily (names, titles), and segment blocking keys collide per
    # string-PAIR, so running PassJoin over the raw id×string rows
    # multiplies every candidate by |ids(a)|·|ids(b)| — 38M hydrated
    # candidate rows from 584×64 distinct strings on the bench corpus.
    # Verifying once per distinct string pair makes the candidate
    # stream vocabulary-sized; the two trailing equi-joins re-attach
    # ids and are the only row-count-sized work (they produce exactly
    # the output rows, nothing is re-verified or re-shuffled per id).
    ls_d = lt.select("_ls").distinct()
    rs_d = rt.select("_rs").distinct()
    probe = ls_d.select(
        "_ls", F.explode(F.expr(_probe_segments("_ls", d))).alias("k")
    ).select("_ls", "k.l_len", "k.seg_i", "k.seg")
    index = rs_d.select(
        "_rs", F.explode(F.expr(_index_segments("_rs", d))).alias("k")
    ).select("_rs", "k.l_len", "k.seg_i", "k.seg")
    # duplicate candidates (a pair sharing several segments) re-verify
    # into duplicate rows, collapsed by the distinct over survivors;
    # thresholded levenshtein verifies INSIDE the join stage, so the
    # candidate stream itself is never shuffled
    matches = (
        probe.join(index, ["l_len", "seg_i", "seg"])
        .withColumn(dist_col, F.levenshtein(F.col("_ls"), F.col("_rs"), d))
        .filter(F.col(dist_col) >= 0)
        .select("_ls", "_rs", dist_col)
        .distinct()
    )
    return (
        matches.join(lt, "_ls")
        .join(rt, "_rs")
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            F.col("_ls").alias(left_col),
            F.col("_rs").alias(right_col),
            dist_col,
        )
    )


def _token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _set): each row's distinct lower-cased whitespace tokens;
    NULL and blank text give no row."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("_set"),
    ).where(F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0)


def _rarity_ordered(
    sets: DataFrame, index: DataFrame, threshold: float
) -> DataFrame:
    """(_id, _set, _s, _p): ``sets`` with each set's tokens sorted by
    ascending document frequency in the ``index`` sets (a token absent
    from them gets df 0; ties break on the token), its size ``_s`` and
    its prefix length ``_p = _s - ceil(t·_s) + 1``."""
    freq = (
        index.select(F.explode("_set").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    # the sets are grouped behind ONE explicit-width exchange on the id,
    # which AQE may not coalesce: the verify joins inherit this width, and
    # AQE would otherwise shrink the small ordered-set shuffle to one
    # partition and run the CPU-heavy array_intersect as one task
    # (set_sim_join at sf0.1 on 4 cores: 62 s against 14-19 s)
    width = int(sets.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        sets.select("_id", F.explode("_set").alias("_tok"))
        .join(freq, "_tok", "left")
        .withColumn("_df", F.coalesce("_df", F.lit(0)))
        .repartition(width, "_id")
        .groupBy("_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_df, _tok))), "
                "x -> x._tok)"
            ).alias("_set")
        )
        .withColumn("_s", F.size("_set"))
        .withColumn(
            "_p",
            F.col("_s") - F.ceil(F.lit(float(threshold)) * F.col("_s")) + 1,
        )
    )


def _prefix(ordered: DataFrame) -> DataFrame:
    """(_id, _s, _pos, _tok): each ordered set's prefix tokens with
    their 0-based positions."""
    return ordered.select(
        "_id",
        "_s",
        F.posexplode(F.slice("_set", 1, F.col("_p"))).alias("_pos", "_tok"),
    )


def _candidates(
    probe: DataFrame, index: DataFrame, keep, threshold: float
) -> DataFrame:
    """Candidate pairs (_ida, _idb): the probe's prefix tokens (alias
    ``l``: _id, _s, _pos, _tok) equi-joined on the token with the
    ``index`` tokens (alias ``r``), kept where ``keep`` holds."""
    pref = _prefix(probe).alias("l")
    cand = (
        pref.join(index.alias("r"), F.col("l._tok") == F.col("r._tok"))
        .where(keep)
        .select(F.col("l._id").alias("_ida"), F.col("r._id").alias("_idb"))
    )
    # a pair collides once per shared prefix token; at t = 1 the probe
    # prefix is one token (_s - ceil(_s) + 1) and set tokens are
    # distinct, so the distinct would be one more pass over the stream
    return cand.distinct() if threshold < 1.0 else cand


def _verify(cand: DataFrame, probe: DataFrame, index: DataFrame) -> DataFrame:
    """(_ida, _idb, _sa, _sb, _ov): each candidate with its two sets'
    sizes and overlap ``size(array_intersect)``. The probe's ordered
    sets join last, so the verify runs at their explicit width."""
    fb = index.select(F.col("_id").alias("_idb"), F.col("_set").alias("_tb"))
    fa = probe.select(F.col("_id").alias("_ida"), F.col("_set").alias("_ta"))
    return cand.join(fb, "_idb").join(fa, "_ida").select(
        "_ida",
        "_idb",
        F.size("_ta").alias("_sa"),
        F.size("_tb").alias("_sb"),
        F.expr("size(array_intersect(_ta, _tb))").alias("_ov"),
    )


def _jaccard_candidates(ordered: DataFrame, threshold: float) -> DataFrame:
    """Jaccard candidate pairs (_ida < _idb): prefix against prefix, with
    the size filter and the PPJoin positional filter (Xiao et al.
    WWW'08) — both LOSSLESS: for the MINIMAL shared token (0-based
    positions i, j) the true overlap is at most 1 + min(sx-(i+1),
    sy-(j+1)), and a true pair's minimal shared token sits in both
    prefixes at positions where that bound >= the equivalent-overlap
    threshold ceil(t/(1+t)·(sx+sy)); keeping a pair when ANY shared
    prefix occurrence passes therefore keeps every true pair while
    pruning candidates whose shared tokens all sit too deep."""
    t = float(threshold)
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("l._s") + F.col("r._s")))
    ubound = 1 + F.least(
        F.col("l._s") - (F.col("l._pos") + 1),
        F.col("r._s") - (F.col("r._pos") + 1),
    )
    keep = (
        (F.col("l._id") < F.col("r._id"))
        # size filter: J >= t implies t·|x| <= |y| <= |x|/t
        & (F.col("r._s") * t <= F.col("l._s"))
        & (F.col("l._s") * t <= F.col("r._s"))
        & (ubound >= alpha)
    )
    return _candidates(ordered, _prefix(ordered), keep, threshold)


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    round_to: int = 6,
) -> DataFrame:
    """Exact token-set Jaccard self-join: every pair ``(id_a < id_b)``
    whose DISTINCT whitespace-token sets satisfy ``jaccard >=
    threshold`` — with the score — via LOSSLESS prefix filtering
    (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07 "All-Pairs";
    Xiao et al. WWW'08 PPJoin). The exact counterpart of the
    MinHash/SimHash dedup family: same candidate-blocking philosophy,
    but the guarantee is equality with the cross-join-plus-filter
    semantics, which is what lets a brute-force oracle verify it.

    Why lossless: order every document's tokens by ascending global
    frequency (rarest first, ties by token). If ``J(x, y) >= t`` then
    ``|x ∩ y| >= ceil(t·max(|x|,|y|))``, and the classic prefix-filter
    theorem says two sets with overlap >= α must share a token within
    their first ``|·| - α + 1`` tokens under any common total order.
    Using per-set ``α = ceil(t·|·|) <= true overlap`` keeps prefixes at
    least that long, so every qualifying pair collides on some prefix
    token. The size filter ``t·|x| <= |y| <= |x|/t`` is implied by
    ``J >= t`` and prunes candidates before verification.

    Scale shape: rarest-first ordering makes hot (stopword) tokens sit
    at the END of each ordered set, so prefixes are built from RARE
    tokens — the candidate join key distribution is anti-skewed by
    construction (the opposite of joining on raw tokens). One exchange
    for the global token counts (AQE decides broadcast vs shuffle for
    the attach — a web-scale vocabulary is not reliably
    broadcastable), one explicit-width id exchange to assemble ordered
    sets, one prefix-token equi-join for candidates, then verification
    computes exact Jaccard on the pair's two full arrays (JVM
    ``array_intersect``, no UDF).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sets = _token_sets(df, id_col, text_col)
    ordered = _rarity_ordered(sets, sets, threshold)
    pairs = _verify(_jaccard_candidates(ordered, threshold), ordered, ordered)
    jaccard = F.col("_ov") / (F.col("_sa") + F.col("_sb") - F.col("_ov"))
    return pairs.where(jaccard >= threshold).select(
        F.col("_ida").alias("id_a"),
        F.col("_idb").alias("id_b"),
        F.round(jaccard, round_to).alias("jaccard"),
    )


def golden_record(
    df: DataFrame,
    key_col: str,
    rules: "dict[str, tuple[str, str]]",
    order_col: str | None = None,
) -> DataFrame:
    """Survivorship merge (MDM "golden record"): collapse every entity
    cluster to ONE row, choosing each output field by an explicit rule —
    the step after :func:`fuzzy_join` +
    :func:`~orientdb_etl_spark.functions.dedup.connected_component_labels`
    have decided which rows ARE the same entity.

    ``rules`` maps output name → ``(rule, field)`` with rules:

    * ``latest`` / ``earliest`` — the non-NULL value at max/min
      ``order_col`` (required; make it a deterministic total order, e.g.
      epoch·10^6 + sequence, or ties pick an engine-dependent winner)
    * ``max`` / ``min`` — extreme value (NULLs ignored)
    * ``mode`` — most frequent non-NULL value, ties to the smallest
      value (deterministic)

    Always includes ``n_records`` (cluster size).

    Scale shape: latest/earliest/max/min all fold into ONE hash
    aggregate on the entity key (``max_by``/``min_by`` are ordinary
    map-side-combinable aggregates — survivorship needs no window and
    no self-join). Each ``mode`` field adds one (key, value) count +
    per-key arg-max, re-aggregating on the SAME key so AQE coalesces
    the exchanges; mode frames join back broadcast-free on the key.
    """
    plain_aggs: list = [F.count(F.lit(1)).alias("n_records")]
    mode_fields: list[tuple[str, str]] = []
    for out, (rule, field) in rules.items():
        f = F.col(field)
        if rule in ("latest", "earliest"):
            if order_col is None:
                raise ValueError(f"rule {rule!r} for {out!r} needs order_col")
            ordv = F.when(f.isNotNull(), F.col(order_col))
            agg = F.max_by(f, ordv) if rule == "latest" else F.min_by(f, ordv)
            plain_aggs.append(agg.alias(out))
        elif rule == "max":
            plain_aggs.append(F.max(f).alias(out))
        elif rule == "min":
            plain_aggs.append(F.min(f).alias(out))
        elif rule == "mode":
            mode_fields.append((out, field))
        else:
            raise ValueError(
                f"unknown survivorship rule {rule!r} for {out!r} "
                "(latest|earliest|max|min|mode)"
            )
    out_df = df.groupBy(F.col(key_col)).agg(*plain_aggs)
    for out, field in mode_fields:
        counted = (
            df.where(F.col(field).isNotNull())
            .groupBy(key_col, field)
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w = Window.partitionBy(key_col).orderBy(
            F.col("_c").desc(), F.col(field).asc()
        )
        top = (
            counted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(key_col, F.col(field).alias(out))
        )
        out_df = out_df.join(top, key_col, "left")
    return out_df


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD'95):
    order records by a fuzzy sort key (e.g. a name prefix or phonetic
    code) and emit every pair within ``window`` positions of each other
    — the third blocking scheme in this module's entity-resolution kit
    (PassJoin segments = edit-distance-lossless, prefix filter =
    Jaccard-lossless, sorted neighborhood = recall-tuned-by-window).
    Returns ``(id_a, id_b, rank_dist)`` with ``id_a < id_b`` ordered
    ids and ``rank_dist < window``.

    The global rank NEVER uses a global ORDER BY window: rows rank via
    the range-partitioned exclusive prefix over the deterministic total
    order ``(key, id)``. A pair at rank distance < window spans at most
    one boundary of the ``window``-sized rank buckets, so the left side
    probes its own and the next bucket (the 1-D
    :func:`~orientdb_etl_spark.functions.spatial.grid_radius_join`
    scheme) and every qualifying pair is found exactly once — no
    distinct on the pair stream.
    """
    from orientdb_etl_spark.operators.relational import exclusive_prefix

    if window < 2:
        raise ValueError(f"window must be >= 2 positions, got {window}")
    w = int(window)
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_k"))
        .where(F.col(key_col).isNotNull())
        .withColumn("_one", F.lit(1).cast("bigint"))
    )
    ranked = exclusive_prefix(base, ["_k", "_id"], "_one", "sum", "_r0", "bigint")
    ranked = ranked.select(
        "_id", (F.coalesce(F.col("_r0"), F.lit(0)) + 1).alias("_rn")
    ).withColumn("_b", F.floor((F.col("_rn") - 1) / w))
    probe = ranked.select(
        F.col("_id").alias("_ida"),
        F.col("_rn").alias("_ra"),
        F.explode(F.array(F.col("_b"), F.col("_b") + 1)).alias("_b"),
    )
    index = ranked.select(
        F.col("_id").alias("_idb"), F.col("_rn").alias("_rb"), "_b"
    )
    return (
        probe.join(index, "_b")
        .where(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") < w)
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            (F.col("_rb") - F.col("_ra")).alias("rank_dist"),
        )
    )


def fs_weight_sql(i: int, m: float, n_expr: str, s2_expr: str) -> str:
    """ONE generator emits the per-field Fellegi–Sunter weight term for
    BOTH engines (the lpa_rounds_sql discipline): agree → ``ln(m/u)``,
    disagree → ``ln((1-m)/(1-u))`` with the u-probability ``s2/n²``
    left SYMBOLIC — the Spark path passes exact-integer literals, the
    oracle passes column references to the same aggregates, and every
    double op runs in the same order, so the scores replay
    bit-identically. Compared fields are the string-cast columns
    ``_a_{i}`` / ``_b_{i}``; agreement means both non-NULL and equal.
    """
    agree = f"(_a_{i} IS NOT DISTINCT FROM _b_{i} AND _a_{i} IS NOT NULL)"
    nn = f"(CAST({n_expr} AS DOUBLE) * CAST({n_expr} AS DOUBLE))"
    mm = f"CAST({m!r} AS DOUBLE)"
    wa = f"ln({mm} * {nn} / CAST({s2_expr} AS DOUBLE))"
    wd = (
        f"ln((CAST(1 AS DOUBLE) - {mm}) / "
        f"(CAST(1 AS DOUBLE) - CAST({s2_expr} AS DOUBLE) / {nn}))"
    )
    return f"CASE WHEN {agree} THEN {wa} ELSE {wd} END"


def fellegi_sunter(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    fields,
    m: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Probabilistic record-linkage scoring (Fellegi & Sunter, JASA
    1969): given candidate pairs from ANY blocking scheme in this
    module (:func:`sorted_neighborhood_pairs`, the PassJoin segments of
    :func:`fuzzy_join`, :func:`set_similarity_join` prefixes), score
    each pair with the sum of per-field log-likelihood weights —
    ``ln(m/u)`` when the field agrees, ``ln((1-m)/(1-u))`` when it
    disagrees. ``m`` (P(agree | same entity)) is supplied — per field
    via ``fields={"col": m, ...}`` or one value for a plain list;
    ``u`` (P(agree | random pair)) is ESTIMATED from the data as the
    frequency-match probability ``Σ_v count(v)² / n²`` — the standard
    value-frequency estimate, so rare-value agreement weighs more.

    Returns ``(id_a, id_b, agree_<field>..., score)``.

    Scale shape: the u statistics come from ONE posexplode →
    (field, value) count shuffle over k·n rows (k = field count), then
    k+1 exact integers reach the driver (the bounded-driver
    discipline) and are embedded as literals — scoring itself is two
    co-partitioned equi-joins of the pair stream against the record
    table plus pure JVM CASE/ln expressions, no window, no UDF.
    Degenerate fields fail loudly: all-NULL (u = 0) and constant
    (u = 1) columns have infinite weights and raise ``ValueError``.
    Counts square inside BIGINT — exact up to ~3·10⁹ rows per value,
    beyond which the u estimate needs a sampled pass (document, don't
    silently overflow).
    """
    items = (
        list(fields.items())
        if isinstance(fields, dict)
        else [(f, m) for f in fields]
    )
    if not items:
        raise ValueError("fellegi_sunter needs at least one field")
    k = len(items)
    arr = F.array(*[F.col(f).cast("string") for f, _ in items])
    kv = df.select(F.posexplode(arr).alias("_fi", "_v")).where(
        F.col("_v").isNotNull()
    )
    srow = (
        kv.groupBy("_fi", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy()
        .agg(
            *[
                F.sum(
                    F.when(F.col("_fi") == i, F.col("_c") * F.col("_c"))
                ).alias(f"_s2_{i}")
                for i in range(k)
            ]
        )
        .first()
    )
    n = df.count()
    weights: list[str] = []
    for i, (fld, mi) in enumerate(items):
        s2 = srow[f"_s2_{i}"] or 0
        if not (0 < s2 < n * n):
            raise ValueError(
                f"field {fld!r} is degenerate for linkage (sum of squared "
                f"counts {s2} vs n²={n * n}): all-NULL or constant columns "
                "carry infinite Fellegi-Sunter weight"
            )
        if not (0.0 < mi < 1.0):
            raise ValueError(f"m for {fld!r} must be in (0, 1), got {mi}")
        weights.append(fs_weight_sql(i, mi, str(n), str(int(s2))))
    a = df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f).cast("string").alias(f"_a_{i}") for i, (f, _) in enumerate(items)],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f).cast("string").alias(f"_b_{i}") for i, (f, _) in enumerate(items)],
    )
    j = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    agree_cols = [
        F.expr(
            f"CAST((_a_{i} IS NOT DISTINCT FROM _b_{i} "
            f"AND _a_{i} IS NOT NULL) AS INT)"
        ).alias(f"agree_{f}")
        for i, (f, _) in enumerate(items)
    ]
    score = F.expr(" + ".join(weights))
    return j.select(
        "id_a", "id_b", *agree_cols, F.round(score, round_to).alias("score")
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    block_key: str,
    fields,
    rules: "dict[str, tuple[str, str]]",
    m: float = 0.95,
    threshold: float = 0.0,
    window: int = 5,
    order_col: str | None = None,
) -> DataFrame:
    """End-to-end entity resolution — the ER counterpart of
    ``curate_corpus``: sorted-neighborhood blocking on ``block_key`` →
    :func:`fellegi_sunter` pair scoring → keep pairs with
    ``score >= threshold`` (default 0: net positive evidence) →
    star-contraction connected components → :func:`golden_record`
    survivorship per entity. Returns one golden row per entity with
    ``entity_id`` = the minimum member id and ``n_records``.

    Every stage is a bounded-shuffle plan audited elsewhere: blocking
    emits O(window·n) pairs via the exclusive-prefix rank buckets,
    scoring is two equi-joins plus literal-weight expressions, the
    component rounds touch only the thresholded match edges
    (logarithmic in cluster size, never the corpus), and survivorship
    folds into one hash aggregate per rule family. Records that match
    nothing keep themselves as singleton entities (left join +
    coalesce — no row is dropped).
    """
    from orientdb_etl_spark.functions.dedup import connected_component_labels

    pairs = sorted_neighborhood_pairs(df, id_col, block_key, window=window)
    scored = fellegi_sunter(df, id_col, pairs, fields, m=m)
    edges = scored.where(F.col("score") >= threshold).select(
        F.col("id_a").alias("keep_id"), F.col("id_b").alias("dup_id")
    )
    labels = connected_component_labels(edges)
    labeled = df.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("entity_id", F.coalesce(F.col("label"), F.col(id_col)))
    return golden_record(labeled.drop("label"), "entity_id", rules, order_col)


def containment_join(
    left: DataFrame,
    left_id: str,
    left_text: str,
    right: DataFrame,
    right_id: str,
    right_text: str,
    threshold: float = 0.8,
    round_to: int = 6,
) -> DataFrame:
    """Exact token-set CONTAINMENT join — the ASYMMETRIC complement of
    :func:`set_similarity_join`: every (left, right) pair with
    ``|L ∩ R| / |L| >= threshold`` (how much of the LEFT set sits
    inside the right one) — quote/excerpt detection, "is this snippet
    lifted from that document", subsumption dedup. Jaccard misses these
    pairs when the two documents differ in length; containment is the
    predicate that catches them.

    Why lossless: if ``|L ∩ R| >= ceil(t·|L|)`` then at most
    ``|L| - ceil(t·|L|)`` of L's tokens are missing from R, so among
    L's first ``|L| - ceil(t·|L|) + 1`` tokens (under ANY fixed order)
    at least one is in R — the prefix-filter pigeonhole with the
    overlap bound depending on |L| only. The prefix joins against
    R's FULL token postings (not R's prefix — containment has no lower
    bound on R's missing tokens), plus the implied size filter
    ``|R| >= ceil(t·|L|)``. Ordering L's tokens by ascending
    document-frequency IN THE RIGHT FRAME anti-skews the join key and
    lets prefix tokens absent from R produce zero candidates.

    Scale shape: one exchange for R's token frequencies, one
    explicit-width id exchange to assemble L's ordered sets, ONE
    prefix-vs-postings equi-join for candidates (distinct pair stream),
    verification as JVM ``array_intersect`` on the pair's two arrays —
    no UDFs, no cross join, and the brute-force oracle can verify
    equality.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    lsets = _token_sets(left, left_id, left_text)
    rsets = _token_sets(right, right_id, right_text)
    # L's tokens ordered by R-frame rarity (absent-from-R tokens get
    # df 0 -> front of the order -> zero-candidate prefix slots)
    ordered = _rarity_ordered(lsets, rsets, threshold)
    # R's postings carry |R| so the size filter runs ON the join output,
    # before the pair dedup
    postings = rsets.select(
        "_id", F.size("_set").alias("_s"), F.explode("_set").alias("_tok")
    )
    t = float(threshold)
    keep = F.col("r._s") >= F.ceil(F.lit(t) * F.col("l._s"))
    cand = _candidates(ordered, postings, keep, threshold)
    return (
        _verify(cand, ordered, rsets)
        .where(F.col("_ov") >= F.ceil(F.lit(t) * F.col("_sa")))
        .select(
            F.col("_ida").alias("left_id"),
            F.col("_idb").alias("right_id"),
            F.round(
                F.col("_ov").cast("double") / F.col("_sa"), round_to
            ).alias("containment"),
        )
    )


def _jaro_py(a: str, b: str) -> float:
    """Scalar Jaro similarity, semantics pinned to DuckDB's
    ``jaro_similarity`` (the gate oracle): empty-either → 0.0, match
    window ``max(|a|,|b|)//2 - 1`` clamped at 0, transpositions =
    half the order-mismatched matched pairs."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    a_match = [False] * la
    b_match = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo = i - window if i > window else 0
        hi = i + window + 1
        if hi > lb:
            hi = lb
        for j in range(lo, hi):
            if not b_match[j] and b[j] == ca:
                a_match[i] = b_match[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if a_match[i]:
            while not b_match[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def _jaro_winkler_py(a: str, b: str) -> float:
    """Scalar Jaro–Winkler, DuckDB-pinned: the prefix boost (p=0.1,
    prefix capped at 4) applies only when jaro > 0.7 — the original
    Winkler '90 threshold, which DuckDB also honors."""
    j = _jaro_py(a, b)
    if j <= 0.7:
        return j
    l = 0
    for ca, cb in zip(a, b):
        if ca != cb or l == 4:
            break
        l += 1
    return j + 0.1 * l * (1.0 - j)


def jaro_winkler(col_a, col_b):
    """Column expression: Jaro–Winkler similarity of two string columns
    (NULL if either side is NULL). Arrow-batched pandas UDF — string
    similarity has no JVM builtin (Spark ships only levenshtein), and
    the per-row automaton is short-string bounded, so the Arrow batch
    transfer dominates and per-row Python cost is nanoscale. Semantics
    are pinned byte-for-byte to DuckDB's ``jaro_winkler_similarity``
    (fuzz-tested), which is what makes a hash-checked oracle possible.

    Scale shape: a scoring expression, not a blocker — compose with any
    candidate generator in this module (PassJoin segments,
    prefix-filter, sorted-neighborhood) so it only ever runs on the
    blocked pair stream, never n²."""
    import pandas as pd

    # no type hints: quoted-forward-ref hints are rejected by the
    # pandas_udf signature inspector (same workaround as decontam.py)
    def _jw_batch(a, b):
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(_jaro_winkler_py(x, y))
        return pd.Series(out, dtype="float64")

    _jw = F.pandas_udf(_jw_batch, "double")
    return _jw(col_a, col_b)


# ---------------------------------------------------------------- soundex

#: Per-letter Soundex digit codes (Russell/US-Census scheme as given in
#: Knuth TAOCP vol. 3 §6.x): vowels+Y → 0 (separators), H/W → 9
#: (transparent), labials 1, gutturals/sibilants 2, dentals 3, L 4,
#: nasals 5, R 6. One table drives BOTH engines' expression chains.
_SOUNDEX_CODES = "01230129022455012623019202"  # A..Z


def soundex_sql(col_sql: str) -> str:
    """Engine-portable Soundex expression (one generator, both engines —
    the ``html_to_text`` discipline): uppercase, strip non-letters, map
    letters to digit codes, delete the H/W markers (they are transparent
    — codes separated only by h/w collapse, Knuth's rule), collapse
    digit runs (per-digit ``regexp_replace`` chain — no backreferences,
    so the same pattern runs on Java regex and RE2), drop the leading
    run (it belongs to the retained first letter), delete the vowel
    separators, pad to 4. Variant note (documented, both engines
    identical by construction): for names STARTING with H/W the dropped
    leading run is the second letter's — the classic tables leave this
    case unspecified.

    Everything is ``translate``/``replace``/``regexp_replace``/
    ``rpad`` — present and identically-specified in Spark SQL and
    DuckDB, evaluated inside whole-stage codegen (no UDF).
    """
    u = f"regexp_replace(upper({col_sql}), '[^A-Z]', '')"
    m = f"translate({u}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SOUNDEX_CODES}')"
    s = f"replace({m}, '9', '')"
    for dgt in "0123456":
        s = f"regexp_replace({s}, '{dgt}{dgt}+', '{dgt}')"
    digits = f"substr(replace(substr({s}, 2), '0', ''), 1, 3)"
    return (
        f"CASE WHEN length({u}) > 0 "
        f"THEN rpad(substr({u}, 1, 1) || {digits}, 4, '0') END"
    )


def phonetic_blocks(
    df, name_col: str, id_col: str, min_names: int = 2
):
    """Soundex blocking for record linkage: group names by phonetic
    code, keep blocks where ≥ ``min_names`` DISTINCT surface forms
    collide (the candidate blocks a downstream scorer — e.g.
    :func:`jaro_winkler` or :func:`fellegi_sunter` — would pair up).
    Returns ``(code, n_names, n_rows, names)`` with ``names`` the
    sorted distinct surface forms, ordered by code.

    Scale shape: the block key is a per-row expression (scan-fused);
    ONE hash aggregation on the code; block membership lists are
    bounded by the phonetic space (≤ 26·7³ codes), not by data volume —
    this is the cheap O(n) blocking pass that replaces the O(n²) pair
    stream, exactly like :func:`sorted_neighborhood_pairs` but
    key-equality-based (Newcombe 1959; the original linkage blocking).
    """
    from pyspark.sql import functions as F

    coded = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_nm"),
        F.expr(soundex_sql(name_col)).alias("code"),
    ).where(F.col("code").isNotNull())
    return (
        coded.groupBy("code")
        .agg(
            F.count_distinct("_nm").alias("n_names"),
            F.count(F.lit(1)).alias("n_rows"),
            F.array_sort(F.collect_set("_nm")).alias("names"),
        )
        .where(F.col("n_names") >= int(min_names))
        .orderBy("code")
    )
