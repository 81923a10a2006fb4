"""Deduplication operators.

Design for 100 TB: every variant avoids the O(n²) all-pairs comparison by
construction — exact dedup is a hash aggregate; MinHash/SimHash restrict
comparisons to LSH-bucket collisions; the candidate-pair verification joins
are self-joins on bucket keys (AQE handles skewed buckets).

Published techniques used (public literature): MinHash resemblance
sketches (Broder, "On the resemblance and containment of documents",
1997), built in the JVM as one-permutation hashing (Li, Owen & Zhang,
NIPS 2012) with rotation densification (Shrivastava & Li, ICML 2014),
banded LSH for near-duplicate candidate generation (Leskovec/
Rajaraman/Ullman, *Mining of Massive Datasets* ch. 3), SimHash random
hyperplane rounding (Charikar, STOC 2002; Manku et al., WWW 2007 for
web-scale near-dup detection).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orientdb_etl_spark.functions.iterate import fixpoint, materialize


_MAX_STATS = 64  # file sizes read per width estimate; more files are sampled


def ensure_parallelism(
    df: DataFrame,
    min_parts: int | None = None,
    min_bytes_per_part: int = 0,
) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-bound stages.

    Small single-file inputs arrive as 1-2 partitions, which serializes
    the per-document signature stages onto 1-2 cores. At real scale the
    source has many splits and this is a no-op; the repartition only fires
    when the input is under-partitioned (and the shuffled payload is by
    construction small — that is why it was under-partitioned).

    The width comes from the LEAF FILE RELATIONS (``df.inputFiles()`` +
    file sizes, packed the way Spark's own FilePartition logic packs
    splits), never from ``df.rdd.getNumPartitions()`` — under AQE,
    ``.rdd`` materializes every upstream shuffle stage, so the old probe
    was an execution hazard for any non-scan call site. The file count
    alone does not decide: many small files pack into few splits. At
    most ``_MAX_STATS`` file sizes are read; a longer file list is
    sampled evenly and each sampled size stands for its share of the
    list. Frames with no file-backed leaves (literal/in-memory test
    frames) are returned unchanged: there is nothing to read in
    parallel, and the caller's downstream shuffles restore width anyway.

    ``min_bytes_per_part`` is the per-call-site work gate (guide §2.4 —
    don't add an exchange a cheap stage can't amortize): when the spread
    would leave less than this many input bytes per partition, the
    repartition is skipped. 0 (default) keeps the historical behavior
    for the signature-stage call sites whose per-row work is heavy
    enough to win even on tiny inputs."""
    n = _spread_width(df, min_parts, min_bytes_per_part)
    return df.repartition(n) if n else df


def _spread_width(df: DataFrame, min_parts=None, min_bytes_per_part=0) -> int:
    """The width :func:`ensure_parallelism` spreads ``df`` to; 0 to keep it."""
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files:
        return 0
    jvm = spark._jvm  # noqa: SLF001
    hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    jconf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
    max_split = int(jconf.filesMaxPartitionBytes())
    open_cost = int(jconf.filesOpenCostInBytes())
    # the scan packs toward its own minimum partition count, not ours
    min_num = jconf.filesMinPartitionNum()
    scan_parts = (
        int(min_num.get()) if min_num.isDefined()
        else int(spark.conf.get(
            "spark.sql.leafNodeDefaultParallelism",
            str(spark.sparkContext.defaultParallelism),
        ))
    )
    stride = -(-len(files) // _MAX_STATS)
    sizes = []
    for f in files[::stride]:
        p = jvm.org.apache.hadoop.fs.Path(f)
        sizes.append(int(p.getFileSystem(hconf).getFileStatus(p).getLen()))
    sizes = [sz for sz in sizes for _ in range(stride)][: len(files)]
    # replicate FilePartition's split-size rule and greedy packing:
    # split = min(maxPartitionBytes, max(openCost, bytesPerCore)); each
    # file is cut into <= split chunks, chunks pack (size + openCost per
    # chunk) into partitions closed at the split budget
    total = sum(sizes)
    padded = total + len(sizes) * open_cost
    split = min(max_split, max(open_cost, padded // max(scan_parts, 1)))
    chunks: list[int] = []
    for sz in sizes:
        while sz > split:
            chunks.append(split)
            sz -= split
        if sz > 0:
            chunks.append(sz)
    chunks.sort(reverse=True)
    est_tasks, cur = 0, 0
    for c in chunks:
        if cur + c > split and cur > 0:
            est_tasks += 1
            cur = 0
        cur += c + open_cost
    if cur > 0:
        est_tasks += 1
    if est_tasks >= max(2, target // 2):
        return 0
    if min_bytes_per_part and total < min_bytes_per_part * target:
        return 0
    return target


def _agreement_sql(left: str, right: str) -> str:
    """Fraction of equal MinHash components of two signature columns (the
    Jaccard estimate) as a JVM expression, evaluated where the candidate
    pairs are joined to their signatures. A pandas UDF here was slower at
    every measured size: each of its tasks pays a fixed Python-worker
    set-up (see SCALE.md, "Python stages") that is larger than the whole
    comparison in the JVM. Both signatures are ``num_perm`` wide: NULL
    text has no signature row (:func:`_minhash_banded`)."""
    return (
        f"aggregate(zip_with({left}, {right}, (x, y) -> IF(x = y, 1, 0)), 0, "
        f"(s, v) -> s + v) / size({left})"
    )


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, cols: list[str] | None = None, tie_break: str | None = None
) -> DataFrame:
    """Exact duplicate removal by content hash — one hash-aggregate shuffle.

    With ``tie_break``, the kept row per duplicate group is deterministic
    (min of the tie-break column — usually the id), which matters for
    reproducible training-data builds; otherwise ``dropDuplicates``
    (first-seen, nondeterministic under parallelism) is used.
    """
    cols = cols or df.columns
    if tie_break is None:
        return df.dropDuplicates(cols)
    from pyspark.sql import Window

    w = Window.partitionBy(*cols).orderBy(F.col(tie_break).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def corpus_dedup_pipeline(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """The production 100-TB dedup composition: exact hash dedup FIRST,
    then MinHash-LSH near-dedup over the exact survivors.

    Why staged: the LSH bucket cap (see :func:`_cap_bucket_size`) drops
    degenerate buckets to bound quadratic candidate work, which means a
    boilerplate hot key above the cap would survive LSH-only dedup
    intact. The exact stage collapses every exact-dup group — including
    arbitrarily hot ones — in ONE hash shuffle (linear work, no pairs),
    leaving at most one member per text for the near-dup stage, so the
    cap then only ever guards genuine near-dup (non-identical) pile-ups.
    This is the composition published corpus pipelines use (exact/sharded
    dedup before MinHash, e.g. Lee et al. ACL'22).
    """
    exact = exact_dedup(df, [text_col], tie_break=id_col)
    return minhash_lsh_dedup(
        exact,
        text_col,
        id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str,
    num_perm: int = 16,
    shingle_k: int = 5,
    out_col: str = "minhash",
) -> DataFrame:
    """Cross-engine-checkable MinHash signatures, pure expression.

    Character k-shingles, each hashed once, then ``num_perm`` affine maps
    over a prime field; the per-shingle hash is a base-31 polynomial over
    character codepoints, so the identical recurrence is expressible in
    any ANSI-ish SQL dialect (the DuckDB oracle mirrors it with
    list_reduce). That makes the MinHash recurrence itself
    hash-verifiable end-to-end; the production signatures
    (:func:`_minhash_banded`, xxhash64-based) stay for bench/scale.

    h(s)   = fold(chars(s), 0, (acc, c) -> acc*31 + code(c)) mod p
    sig[j] = min over distinct shingle hashes h of (h*(2j+1) + j) mod p
    with p = 4294967291 (largest 32-bit prime); all intermediates fit
    comfortably in int64 under ANSI arithmetic.

    Execution shape: the identical math evaluated ROW-WISE so it stays
    inside whole-stage codegen — shingle positions explode to rows, the
    base-31 fold unrolls to a scalar expression for full-width shingles
    (the rare shorter-than-k shingle of a short document falls back to
    the interpreted fold in a CASE arm), and the ``num_perm`` mins are
    one hash aggregation over distinct texts, joined back on the text.
    The prior formulation ran the whole recurrence through
    higher-order-function lambdas, which Spark evaluates interpreted
    per element — measured 8× slower at the bench corpus. Documents
    with no shingle evidence (NULL/empty text) carry a NULL signature
    (previously an array of NULL mins — both drop under the documented
    no-evidence contract and in the oracle replay).
    """
    prime = 4294967291
    k = int(shingle_k)
    cols = df.columns
    texts = df.select(F.col(text_col).alias("_t")).distinct()
    # shingle rows; dedup per text mirrors the old array_distinct; the
    # length(_s) > 0 filter mirrors the old empty-shingle drop
    shingles = (
        texts.withColumn(
            "_i",
            F.explode(
                F.expr(f"sequence(1, greatest(length(_t) - {k} + 1, 1))")
            ),
        )
        .select("_t", F.expr(f"substring(_t, _i, {k})").alias("_s"))
        .filter(F.length("_s") > 0)
        .distinct()
    )
    # unrolled fold for |s| = k (codegen); interpreted fold only for the
    # short-document edge (|s| < k happens only at position 1 of a text
    # shorter than k). No intermediate mod — identical to the fold.
    acc = "cast(0 as bigint)"
    for i in range(1, k + 1):
        acc = f"({acc} * 31 + ascii(substring(_s, {i}, 1)))"
    hashed = shingles.select(
        "_t",
        F.expr(
            f"CASE WHEN length(_s) = {k} THEN {acc} % {prime} "
            f"ELSE aggregate(sequence(1, length(_s)), cast(0 as bigint), "
            f"(acc, i) -> acc * 31 + ascii(substring(_s, i, 1))) % {prime} "
            "END"
        ).alias("_h"),
    )
    sig = hashed.groupBy("_t").agg(
        *[
            F.min(
                (F.col("_h") * (2 * j + 1) + F.lit(j)) % F.lit(prime)
            ).alias(f"_m{j}")
            for j in range(num_perm)
        ]
    )
    sig = sig.select(
        "_t", F.array(*[f"_m{j}" for j in range(num_perm)]).alias(out_col)
    )
    return df.join(
        sig, F.col(text_col).eqNullSafe(F.col("_t")), "left"
    ).select(*cols, out_col)


def _cap_bucket_size(
    banded: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop degenerate LSH buckets before candidate generation.

    A bucket of B rows yields B² candidate pairs, so one boilerplate/empty-
    document bucket can dominate the whole stage at scale (AQE splits the
    shuffle partitions but cannot reduce the quadratic pair count). Web-
    scale near-dup setups drop over-full buckets outright (Manku et al.,
    WWW'07 §5): members of a bucket that big are near-identical boilerplate
    whose pairs carry no ranking signal, or hash-degenerate rows whose
    pairs are spurious.
    """
    if max_bucket_size is None:
        return banded
    # aggregate → tiny over-full list → broadcast anti-join: the count
    # pass map-side-combines to ~one row per bucket and never materializes
    # a degenerate bucket's members anywhere (unlike folding the cap into
    # the collect_list grouping, which would build the giant array first)
    # the anti-join reads only the keys of `over`; its count is pruned
    over = (
        banded.groupBy(*keys)
        .agg(F.expr("count(1) AS _bsz"))
        .where(f"_bsz > {int(max_bucket_size)}")
    )
    return banded.join(F.broadcast(over), keys, "left_anti")


def _bucket_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    payload_col: str | None = None,
) -> DataFrame:
    """Candidate pairs (keep_id < dup_id) from LSH buckets in ONE shuffle.

    A bucket self-join shuffles the banded table twice (once per join
    side) and then probes a hash table; grouping each bucket into a sorted
    id list and emitting the i<j combinations in-place needs a single
    grouped shuffle and no join. Bucket sizes are bounded by
    :func:`_cap_bucket_size`, so the per-group array (8 B/id, or 16 B with
    a fingerprint payload) and the quadratic emit are both capped.

    With ``payload_col`` (a scalar carried per row, e.g. a SimHash
    fingerprint), each pair also exposes ``_pl``/``_pr`` — the payloads of
    the two sides — so verification can run inline on the pair stream
    without joining signatures back.
    """
    if payload_col is None:
        collected = f"sort_array(collect_list({id_col}))"
        emit = "y -> struct(x AS keep_id, y AS dup_id)"
    else:
        collected = f"sort_array(collect_list(struct({id_col} AS i, {payload_col} AS p)))"
        emit = "y -> struct(x.i AS keep_id, y.i AS dup_id, x.p AS _pl, y.p AS _pr)"
    groups = (
        banded.groupBy(*keys)
        .agg(F.expr(f"{collected} AS _ids"))
        .where("size(_ids) >= 2")
    )
    return groups.selectExpr(
        "inline(flatten(transform(_ids, (x, i) -> "
        f"transform(slice(_ids, i + 2, size(_ids) - i - 1), {emit}))))"
    )


def _by_node(edges: DataFrame) -> DataFrame:
    """Group directed child→parent rows ``(c, p)`` with ``p <= c`` by
    node: ``(n, parents, has_child)``. A row with ``p == c`` only says
    that node ``c`` exists, so a vertex without edges (one whose only
    pair is a self-loop) stays in the state as a parentless node."""
    return (
        edges.selectExpr(
            "inline(array(named_struct('n', c, 'p', p, 'k', false), "
            "named_struct('n', p, 'p', p, 'k', p != c)))"
        )
        .where("n IS NOT NULL")
        .groupBy("n")
        .agg(
            F.expr("collect_set(CASE WHEN p != n THEN p END) AS parents"),
            F.expr("max(k) AS has_child"),
        )
    )


def _star_round(state: DataFrame, changed) -> DataFrame:
    """One large-star + small-star round (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) over the node-grouped
    state, in three exchanges:

    - large star, a window by ``a`` over the symmetrized edges: every
      node u points each LARGER neighbor at ``m(u)``, the minimum of its
      neighborhood including u, so long chains collapse geometrically;
    - small star, a window by ``a`` after re-keying: every node u points
      itself and all its parents at its minimum parent;
    - :func:`_by_node` on the small-star edges.

    The round's change count is the number of output nodes that break
    the star-forest property: two or more parents, or both a parent and
    a child. A round whose output is a set of stars is the last one."""
    # a lone node's only row is (n, n): it maps to itself in both stars
    large = (
        state.selectExpr(
            "inline(CASE WHEN size(parents) = 0 AND NOT has_child "
            "THEN array(named_struct('a', n, 'b', n)) "
            "ELSE flatten(transform(parents, p -> array("
            "named_struct('a', n, 'b', p), named_struct('a', p, 'b', n)))) END)"
        )
        .selectExpr("a", "b", "least(a, min(b) OVER (PARTITION BY a)) AS _m")
        .where("b >= a")
        .selectExpr("b AS a", "_m AS b")
    )
    out = _by_node(
        large.selectExpr("a", "b", "min(b) OVER (PARTITION BY a) AS _m").selectExpr(
            "inline(array(named_struct('c', a, 'p', _m), named_struct('c', b, 'p', _m)))"
        )
    )
    return changed(
        out, F.expr("size(parents) > 1 OR (size(parents) = 1 AND has_child)")
    )


def connected_component_labels(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Connected components over verified duplicate pairs: (id, label)
    with label = min id of the component.

    Alternating large-star/small-star contraction (Kiveris et al., SoCC
    2014) — the round count is O(log² n) in the worst case and ~log in
    practice, INDEPENDENT of cluster diameter, unlike plain min-label
    propagation whose round count is the component diameter (a
    pathological chain of near-dups — doc A ~ B ~ C ~ … — needs one round
    per hop there, but collapses geometrically here). Every round touches
    only the PAIRS table (candidate collisions), never the corpus.

    The loop state is grouped by node, ``(n, parents, has_child)``, with
    every parent smaller than its child. The pairs feed the first
    grouping directly, in either orientation; duplicate pairs collapse
    there, a self-loop makes its vertex a parentless node and a NULL
    endpoint is no vertex. ``iterate.fixpoint`` runs :func:`_star_round`
    and stops at the first round whose output is a star forest: each
    star is one component, rooted at its minimum, so a vertex's label is
    its parent, or itself when it has none. A graph that is already a
    set of stars takes one round; no round only confirms the last.

    ``max_iter`` is a hard cap with a CONVERGENCE ASSERTION: 25 doubling
    rounds cover any graph that fits in storage (2^25 diameter), so
    hitting the cap means something is wrong — the function raises rather
    than silently returning partially-merged clusters (which would
    under-dedup without a trace).
    """
    state = _by_node(
        pairs.selectExpr(
            "greatest(keep_id, dup_id) AS c", "least(keep_id, dup_id) AS p"
        )
    )
    stars = fixpoint(
        state, _star_round, max_iter, "connected components (star contraction)"
    )
    return stars.selectExpr("n AS id", "coalesce(array_min(parents), n) AS label")


def _drop_duplicates_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    survivor: str,
    score_col: str | None = None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """Resolve verified duplicate pairs into survivors.

    ``bucket_min`` (default): drop every ``dup_id`` — single pass, no
    iteration; documented bias: a doc is kept iff no smaller-id pair
    partner exists, so transitive clusters keep one doc per *local*
    minimum. ``connected_components``: transitive clustering, exactly one
    keeper (the min id) per duplicate component.
    ``best_of_component``: transitive clustering, keeper = the member
    with the highest ``score_col`` (ties → min id) — the keep-the-best-
    quality policy of published corpus curation (RefinedWeb, FineWeb keep
    the longest/highest-quality member, not an arbitrary one). Only the
    clustered ids (docs appearing in a verified pair) are scored or
    windowed, and their scores are read from ``scores`` (an
    ``(id_col, score_col)`` frame, ``df`` by default), so a caller that
    already holds them cached need not recompute ``df`` for them.

    Every rule materializes its drop set (ids only, at most one row per
    clustered doc) with :func:`~orientdb_etl_spark.functions.iterate.materialize`
    before returning ``df`` anti-joined with it, so the caller may
    release its caches on return. The set is broadcast when its observed
    row count fits the session's broadcast threshold; the result then
    reads the corpus once, with no shuffle.
    """
    if survivor == "bucket_min":
        drop = pairs.selectExpr(f"dup_id AS {id_col}").distinct()
    elif survivor == "connected_components":
        drop = (
            connected_component_labels(pairs)
            .where("id != label")
            .selectExpr(f"id AS {id_col}")
        )
    elif survivor == "best_of_component":
        if score_col is None:
            raise ValueError("survivor='best_of_component' needs score_col")
        scored = connected_component_labels(pairs).join(
            (df if scores is None else scores).selectExpr(
                f"{id_col} AS id", f"{score_col} AS _score"
            ),
            "id",
        )
        drop = (
            scored.selectExpr(
                "id",
                "first(id) OVER (PARTITION BY label ORDER BY _score DESC, id ASC) AS _keep",
            )
            .where("id != _keep")
            .selectExpr(f"id AS {id_col}")
        )
    else:
        raise ValueError(f"unknown survivor rule {survivor!r}")
    drop, n = materialize(drop)
    # the checkpoint's size estimate is the pre-checkpoint plan's (a
    # product over its joins), so size it from the observed row count
    # at the planner's own per-row width
    spark = df.sparkSession
    jconf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
    width = 8 + drop._jdf.schema().apply(0).dataType().defaultSize()  # noqa: SLF001
    if n * width <= jconf.autoBroadcastJoinThreshold():
        drop = F.broadcast(drop)
    return df.join(drop, id_col, "left_anti")


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Shared signature + banding stage: (signatures, exploded
    (id, band, bucket) rows), so :func:`minhash_lsh_dedup` and
    :func:`lsh_bucket_stats` see the same banding. The signatures are
    ``(id, minhash)`` plus the ``carry`` columns, one row per non-NULL
    text. Caching them is the CALLER's decision: a stats-only caller
    caching a corpus-sized frame would pin storage for the session.

    One-permutation MinHash (Li, Owen & Zhang, NIPS 2012) in SQL text:
    each byte ``shingle_k``-shingle is hashed once, ``h = xxhash64``; the
    bin ``pmod(h, num_perm)`` keeps the least ``h >>> 7``, one aggregate
    update per shingle. Rotation densification (Shrivastava & Li, ICML
    2014) gives an empty bin the value of the next filled bin to its
    right, wrapping around, tagged with the distance in the top 7 bits.
    A text shorter than ``shingle_k`` bytes, ``''`` too, is one shingle,
    so every signature is ``num_perm`` wide with no NULL component.

    Every step groups by the id: a narrow input that
    :func:`ensure_parallelism` would spread is repartitioned by the id,
    the only exchange of the stage. A wide input keeps its partitions;
    the bin minimum combines map-side, so at most ``num_perm`` partial
    rows per document cross its exchange."""
    k, n = int(shingle_k), int(num_perm)
    keys = [id_col, *carry]
    if width := _spread_width(df):
        df = df.repartition(width, id_col)
    mins = (
        df.where(f"{text_col} IS NOT NULL")
        .selectExpr(*keys, f"cast({text_col} AS binary) AS _b")
        .selectExpr(*keys, "_b", f"explode(sequence(1, greatest(length(_b) - {k} + 1, 1))) AS _i")
        .selectExpr(*keys, f"xxhash64(substring(_b, _i, {k})) AS _h")
        .groupBy(*keys, F.expr(f"pmod(_h, {n}) AS _bin"))
        .agg(F.expr("min(shiftrightunsigned(_h, 7)) AS _v"))
    )
    # the filled bins of a document in order; the first one also covers
    # the empty bins past the last one, wrapping around
    order = f"PARTITION BY {id_col} ORDER BY _bin"
    sigs = (
        mins.selectExpr(
            *keys, "_bin", "_v",
            f"coalesce(lag(_bin) OVER ({order}), max(_bin) OVER ({order} ROWS "
            f"BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) - {n}) AS _prev",
        )
        .selectExpr(*keys, "_bin", "_v", "explode(sequence(_prev + 1, _bin)) AS _j")
        .groupBy(*keys)
        .agg(F.expr(
            f"array_sort(collect_list(struct(pmod(_j, {n}) AS j, "
            "_v | shiftleft(_bin - _j, 57) AS v))).v AS minhash"
        ))
    )
    rows_per_band = num_perm // bands
    banded = sigs.selectExpr(
        id_col,
        f"posexplode(transform(sequence(0, {bands - 1}), b -> xxhash64(b, "
        f"slice(minhash, b * {rows_per_band} + 1, {rows_per_band})))) AS (band, bucket)",
    )
    return sigs, banded


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Operational observability for the LSH banding: one row of bucket
    statistics — bucket count, max/mean occupancy, how many buckets
    exceed ``max_bucket_size`` (i.e. would be dropped by the degenerate-
    bucket cap) and how many banded rows sit in them. At 100 TB this is
    the pre-flight check that tells you whether a boilerplate hot key is
    about to hit the cap (Manku WWW'07 practice) before the dedup runs."""
    _, banded = _minhash_banded(df, text_col, id_col, num_perm, bands, shingle_k)
    sizes = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_bsz")
    )
    cap = max_bucket_size if max_bucket_size is not None else 2**62
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_bsz").alias("max_bucket"),
        F.round(F.avg("_bsz"), 2).alias("mean_bucket"),
        F.sum((F.col("_bsz") > cap).cast("long")).alias("n_over_cap"),
        F.sum(
            F.when(F.col("_bsz") > cap, F.col("_bsz")).otherwise(F.lit(0))
        ).alias("rows_in_capped"),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
    survivor: str = "bucket_min",
    score_col: str | None = None,
) -> DataFrame:
    """Near-duplicate removal: shingle → minhash → band → bucket-join.

    Scale shape: signatures are built in the JVM behind one id exchange
    (see :func:`_minhash_banded`); candidate pairs
    come from exploding ``bands`` band-hashes per row and self-joining on
    the (band, hash) bucket — only colliding rows are ever compared. A row
    is dropped iff some candidate with a smaller id estimates Jaccard ≥
    threshold (estimate = fraction of equal signature components). This
    "survivor = bucket-min" rule is a single pass; it approximates
    connected-component clustering without iteration (documented bias:
    chains A~B~C with A<B<C drop B and C even if A!~C).

    ``max_bucket_size`` guards the quadratic candidate blow-up from
    degenerate buckets (see :func:`_cap_bucket_size`); ``None`` disables.
    ``survivor="connected_components"`` replaces the single-pass rule with
    transitive clustering over verified pairs (one keeper per component —
    the shape used by published corpus-dedup pipelines; see
    :func:`connected_component_labels`); ``"best_of_component"`` keeps
    the member with the highest ``score_col`` instead.

    The corpus is read once for the survivor choice: the cached
    signature frame ``(id, minhash[, score_col])`` feeds the banding, the
    verify join and the scoring of clustered ids. The drop set is
    materialized and the cache released before the return (see
    :func:`_drop_duplicates_by_pairs`), so the returned frame reads the
    corpus once more and pins no storage.
    """
    carry = (score_col,) if survivor == "best_of_component" and score_col else ()
    sigs, banded = _minhash_banded(
        df, text_col, id_col, num_perm, bands, shingle_k, carry
    )
    # sigs feed the banding, the verify join and the survivor scores —
    # cache here (the reuse site), not inside _minhash_banded, so
    # stats-only callers never pin a corpus-sized frame
    sigs.cache()
    banded = _cap_bucket_size(banded, ["band", "bucket"], max_bucket_size)
    # ids only in the grouped shuffle (8 B/row); the 1 KB signatures are
    # joined back below onto the sparse verified-candidate stream instead
    # of being carried through every one of the `bands` bucket copies
    cand = _bucket_pairs(banded, ["band", "bucket"], id_col).distinct()
    # verify candidates on the full signature (estimate of Jaccard)
    sl = sigs.selectExpr(f"{id_col} AS keep_id", "minhash AS _sig_l")
    sr = sigs.selectExpr(f"{id_col} AS dup_id", "minhash AS _sig_r")
    verified = (
        cand.join(sl, "keep_id")
        .join(sr, "dup_id")
        .where(f"{_agreement_sql('_sig_l', '_sig_r')} >= {float(threshold)!r}D")
        .selectExpr("keep_id", "dup_id")
    )
    # cand is already distinct, and every survivor rule collapses
    # repeated pairs itself, so verified needs no distinct of its own
    try:
        return _drop_duplicates_by_pairs(
            df, verified, id_col, survivor, score_col, scores=sigs
        )
    finally:
        sigs.unpersist()


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_fast(text_col: str, seed: int = 0) -> F.Column:
    """64-bit SimHash via Arrow/numpy (FNV-1a token hashes → per-bit vote
    matrix → sign bits). A pure-expression form would evaluate its
    per-token × per-bit lambdas interpreted — measured ~5× slower; this
    path does the same votes as one vectorized matmul."""

    import hashlib

    skey = seed.to_bytes(8, "little")

    @F.pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        def one(t: str | None):
            if t is None:
                return None
            toks = set(t.lower().split())
            if not toks:
                return 0
            hs = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(
                            tok.encode("utf-8"), digest_size=8, key=skey
                        ).digest(),
                        "little",
                    )
                    for tok in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            bits = (
                (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            ).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            fp = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                fp |= np.uint64(1) << np.uint64(b)
            return int(fp.astype(np.int64))

        return texts.map(one)

    return _sh(F.col(text_col))


def simhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    survivor: str = "bucket_min",
    score_col: str | None = None,
) -> DataFrame:
    """SimHash near-dedup: 64-bit fingerprints, banded into ``bands``
    16-bit chunks (pigeonhole: hamming ≤ bands-1 ⇒ ≥1 identical band),
    candidates verified with bit_count(xor) ≤ max_hamming.
    ``max_bucket_size`` drops degenerate buckets (:func:`_cap_bucket_size`);
    ``survivor`` as in :func:`minhash_lsh_dedup`.
    """
    width = 64 // bands
    # cache: the banded frame derived from fp is traversed TWICE by the
    # default bucket cap (the groupBy size count and the anti-join probe
    # stream), so an uncached fp would run the SimHash UDF over the
    # corpus twice
    fp = (
        ensure_parallelism(df)
        .select(id_col, simhash_fast(text_col).alias("_simhash"))
        .cache()
    )
    band_arr = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> struct(b AS band, shiftright(_simhash, b * {width}) & {(1 << width) - 1} AS chunk))"
    )
    banded = fp.select(F.col(id_col), F.col("_simhash"), F.explode(band_arr).alias("bb")).select(
        id_col, "_simhash", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
    )
    banded = _cap_bucket_size(banded, ["band", "chunk"], max_bucket_size)
    # fingerprint is one BIGINT → carry it as the pair payload and verify
    # hamming distance inline on the pair stream: one grouped shuffle,
    # zero joins (vs. self-join + per-side signature lookups)
    verified = (
        _bucket_pairs(banded, ["band", "chunk"], id_col, payload_col="_simhash")
        .filter(F.expr(f"bit_count(_pl ^ _pr) <= {max_hamming}"))
        .select("keep_id", "dup_id")
        .distinct()
    )
    try:
        return _drop_duplicates_by_pairs(df, verified, id_col, survivor, score_col)
    finally:
        fp.unpersist()


# --------------------------------------------------------------------------
# n-gram Jaccard candidate pairs
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    band_col: F.Column | None = None,
) -> DataFrame:
    """Exact token n-gram Jaccard over candidate pairs.

    Candidates are restricted by a blocking key (default: document length
    bucket — near-dups have near-equal lengths) so the self-join never goes
    all-pairs. Returns (id_a, id_b, jaccard) with id_a < id_b.

    The intersection is counted through a gram-postings join inside each
    block — ``|A∩B|`` = the number of ``(block, gram)`` postings the pair
    shares, ``|A∪B| = |A|+|B|−|A∩B|`` from the per-doc distinct-gram
    sizes — instead of a per-pair ``array_intersect``: identical results
    (a pair sharing zero grams has Jaccard 0 and can never pass a
    positive ``threshold``; the double-probe duplicate rows collapse in
    the same trailing ``distinct``), but the work is whole-stage-codegen
    hash-join + count rows rather than interpreted per-pair array
    kernels — ~10× on the bench corpus, and at scale the shuffle carries
    (block, gram, id) postings with map-side pair-count combining, never
    gram arrays through a blocked cross product.
    """
    grams = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(_toks) - {n} + 1, 1)), "
        f"i -> concat_ws(' ', slice(_toks, i, {n}))))"
    )
    block = band_col if band_col is not None else F.floor(F.length(text_col) / F.lit(32))
    base = (
        ensure_parallelism(
            df.select(F.col(id_col), F.col(text_col), block.alias("_block"))
        )
        .select(
            F.col(id_col),
            F.split(F.lower(F.col(text_col)), r"\s+").alias("_toks"),
            "_block",
        )
        .withColumn("_grams", grams)
        .drop("_toks")
    )
    # near-equal lengths can straddle a bucket boundary. ASYMMETRIC
    # emission: the index side posts only its own block, the probe side
    # its own ±1 — the same pair set (|block diff| <= 1) as emitting
    # own+next on both sides, but each candidate pair now collides in
    # exactly ONE block group (the index doc's own), so same-block pairs
    # are verified once instead of twice. Posting volume is unchanged
    # (3x + 1x vs 2x + 2x); join output halves.
    probe = base.select(
        F.col(id_col),
        F.size("_grams").alias("_sz"),
        F.explode(
            F.array(F.col("_block") - 1, "_block", F.col("_block") + 1)
        ).alias("_bk"),
        "_grams",
    ).select(
        id_col, "_sz", "_bk", F.explode("_grams").alias("_g")
    )
    index = base.select(
        F.col(id_col),
        F.size("_grams").alias("_sz"),
        F.col("_block").alias("_bk"),
        F.explode("_grams").alias("_g"),
    )
    l_, r_ = probe.alias("l"), index.alias("r")
    inter = (
        l_.join(
            r_,
            (F.col("l._bk") == F.col("r._bk"))
            & (F.col("l._g") == F.col("r._g"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col("l._bk").alias("_bk"),
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l._sz").alias("_sza"),
            F.col("r._sz").alias("_szb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            (
                F.col("_inter")
                / (F.col("_sza") + F.col("_szb") - F.col("_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def shared_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
    guard: int = 1,
    max_group: int | None = 1000,
) -> DataFrame:
    """Exact shared token-SPAN detection — the second dedup axis of
    Lee et al. ACL'22 ("Deduplicating Training Data Makes Language
    Models Better"): document pairs sharing at least one verbatim run of
    ``window`` whitespace tokens, with the count of distinct shared
    windows per pair. MinHash answers "are these documents mostly the
    same"; this answers "does this document contain a lifted passage"
    — the two miss each other's positives (a 50-token quote inside a
    5,000-token article has negligible Jaccard).

    ``guard=1`` indexes EVERY window (exact, the oracle-checkable
    configuration). ``guard=g > 1`` applies winnowing (Schleimer et al.
    SIGMOD'03): per sliding run of ``g`` consecutive window hashes, only
    the minimum is kept, shrinking the posting stream ~g× with the
    published guarantee — any shared span of at least ``window + g - 1``
    tokens contains one full guard run on BOTH sides, whose minimum is
    the same value, so the pair is still caught (shorter spans become
    best-effort). Selection is by hash VALUE, so tie-handling never
    affects cross-document agreement.

    Scale shape: fingerprints are pure JVM expressions fused into the
    scan (``transform``/``slice``/``xxhash64`` — no Python), the posting
    stream is ``rows × windows/g`` longs, candidate pairs come from the
    shared single-shuffle grouped emitter (:func:`_bucket_pairs`) with
    the degenerate-group cap (:func:`_cap_bucket_size`) guarding
    boilerplate spans exactly as it guards LSH buckets, and the final
    per-pair count is one hash aggregate. Nothing is quadratic in corpus
    size; work is quadratic only within a capped fingerprint group.

    Sibling surface: ``functions/passages.py`` profiles and strips at
    the same hash-gram granularity per-document
    (:func:`~orientdb_etl_spark.functions.passages.
    duplicate_passage_stats` /
    :func:`~orientdb_etl_spark.functions.passages.
    strip_duplicate_passages`); THIS function is the corpus-level PAIR
    view those don't expose (which documents share spans with which),
    plus the winnowing posting-compression knob. Reference has no analog
    (its transformers are row-local); this is an extensions-tier corpus
    operator.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if guard < 1:
        raise ValueError(f"guard must be >= 1, got {guard}")
    min_toks = window + guard - 1
    base = (
        ensure_parallelism(df)
        .where(F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0)
        .select(
            F.col(id_col),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_t"),
        )
        .where(F.size("_t") >= min_toks)
    )
    hashed = base.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(1, size(_t) - {window} + 1), "
            f"i -> xxhash64(concat_ws(' ', slice(_t, i, {window}))))"
        ).alias("_h"),
    )
    if guard > 1:
        sel = F.expr(
            f"array_distinct(transform(sequence(1, size(_h) - {guard} + 1), "
            f"i -> array_min(slice(_h, i, {guard}))))"
        )
    else:
        sel = F.expr("array_distinct(_h)")
    spans = hashed.select(F.col(id_col), F.explode(sel).alias("_fp"))
    spans = _cap_bucket_size(spans, ["_fp"], max_group)
    pairs = _bucket_pairs(spans, ["_fp"], id_col)
    # fingerprints are distinct per document, so each shared fingerprint
    # contributes exactly one pair row — the count IS the distinct count
    return (
        pairs.groupBy("keep_id", "dup_id")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .select(
            F.col("keep_id").alias("id_a"),
            F.col("dup_id").alias("id_b"),
            "shared_windows",
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
) -> DataFrame:
    """The Lee et al. ACL'22 exact-substring REMEDIATION: rewrite each
    document with cross-document duplicated spans removed from every doc
    except one canonical owner. A ``window``-token run (lowercased
    fingerprint) occurring in >= 2 distinct documents is owned by the
    doc with the MINIMUM id containing it; in every other doc, all token
    positions covered by that run are dropped and the text is rebuilt
    from the surviving ORIGINAL-case tokens (single-space joined). The
    owner keeps all its occurrences, so every duplicated span survives
    exactly once corpus-wide per owning document — deterministic,
    engine-independent, and idempotent (re-running removes nothing new).

    This is the ALL-BUT-ONE semantics — the deliberate complement of
    :func:`~orientdb_etl_spark.functions.passages.
    strip_duplicate_passages`, which removes EVERY occurrence (the
    content disappears from the corpus entirely, the behavior of the
    published ExactSubstr cutter). Pick by goal: remove-everywhere
    maximally suppresses memorization; all-but-one preserves exactly
    one trainable copy of the shared content. Implementation also
    differs: this rebuild is pure JVM expressions (oracle replays it
    byte-for-byte); the passages strip is an Arrow-batched mask.

    Output: ``(id, text-col rebuilt, n_toks, removed_tokens)``. Docs
    shorter than the window pass through unchanged (normalized to the
    same single-space token join so the output column is uniformly
    canonical). Empty/null docs are excluded, matching the other span
    operators.

    Scale shape: fingerprints stay scan-fused JVM expressions; ownership
    is ONE aggregate (min doc id per duplicated fingerprint); removal is
    an equi-join of postings to owned fingerprints; the rebuild shuffles
    (id, pos, token) rows once and reassembles per doc with
    ``array_sort(collect_list(struct(pos, tok)))`` — per-doc bounded
    state, no Python, no posting self-join.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    base = (
        ensure_parallelism(df)
        .where(F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0)
        .select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_t"),
        )
    )
    wins = base.where(F.size("_t") >= window).select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(_t) - {window} + 1), "
                f"i -> xxhash64(lower(concat_ws(' ', slice(_t, i, {window})))))"
            )
        ).alias("_pos", "_fp"),
    )
    owners = (
        wins.groupBy("_fp")
        .agg(
            F.count_distinct(F.col(id_col)).alias("_nd"),
            F.min(F.col(id_col)).alias("_owner"),
        )
        .where(F.col("_nd") >= 2)
        .select("_fp", "_owner")
    )
    # token positions to drop: covered by a duplicated window this doc
    # does NOT own ( _pos is 0-based from posexplode → covers
    # [_pos+1, _pos+window] in 1-based token coordinates )
    drops = (
        wins.join(owners, "_fp")
        .where(F.col(id_col) != F.col("_owner"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(f"sequence(_pos + 1, _pos + {window})")
            ).alias("_tp"),
        )
        .distinct()
    )
    toks = base.select(
        F.col(id_col),
        F.size("_t").alias("n_toks"),
        F.posexplode("_t").alias("_p0", "_tok"),
    ).withColumn("_tp", F.col("_p0") + 1)
    kept = toks.join(drops, [id_col, "_tp"], "left_anti")
    assembled = kept.groupBy(id_col).agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(_tp, _tok))), x -> x._tok))"
        ).alias("_new_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    # a doc whose EVERY token was dropped has no kept rows — join back to
    # the base so it still appears, as empty text with full removal
    return (
        base.select(id_col, F.size("_t").alias("n_toks"))
        .join(assembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_new_text", F.lit("")).alias(text_col),
            F.col("n_toks").cast("long").alias("n_toks"),
            (F.col("n_toks") - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("removed_tokens"),
        )
    )


# --------------------------------------------------------------------------
# incremental (cross-snapshot) dedup
# --------------------------------------------------------------------------


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    seen_text_col: str | None = None,
    broadcast_seen: bool | None = None,
    mode: str = "filter",
) -> DataFrame:
    """Dedup a NEW batch of documents against an already-curated corpus —
    the incremental-crawl pattern: the reference corpus is fingerprinted
    once, new snapshots are checked against it without re-shuffling the
    old data.

    Both sides reduce to canonical-content fingerprints
    (:func:`orientdb_etl_spark.functions.text.doc_fingerprint` — lowercase
    / collapse-whitespace / strip-punct / md5), so the join key is 32
    bytes per OLD document regardless of document size. When the seen side
    is a fingerprint snapshot small enough to broadcast (billions of
    documents at 32 B/doc still fit typical executor memory in the tens of
    millions; beyond that leave ``broadcast_seen=False`` for a shuffled
    anti-join — at that scale a Bloom filter pre-pass
    [`F.bloom_filter_agg`-style] in front of the anti-join is the standard
    refinement), the new batch never shuffles at all: scan → fingerprint
    → broadcast anti-join, fully pipelined.

    ``mode='filter'`` drops previously-seen docs; ``mode='flag'`` appends
    a ``seen_before`` boolean instead (audit view).
    """
    if mode not in ("filter", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    from orientdb_etl_spark.functions.text import doc_fingerprint

    seen_fps = (
        seen_df.select(
            doc_fingerprint(seen_text_col or text_col).alias("_fp")
        )
        .distinct()
    )
    if broadcast_seen or broadcast_seen is None:
        seen_fps = F.broadcast(seen_fps)
    new_fp = new_df.withColumn("_fp", doc_fingerprint(text_col))
    if mode == "filter":
        return new_fp.join(seen_fps, "_fp", "left_anti").drop("_fp")
    return (
        new_fp.join(
            seen_fps.withColumn("_hit", F.lit(True)), "_fp", "left"
        )
        .withColumn("seen_before", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_fp", "_hit")
    )


def incremental_near_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    seen_text_col: str | None = None,
    num_perm: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
    mode: str = "filter",
) -> DataFrame:
    """NEAR-duplicate stage of cross-snapshot dedup: drop new documents
    whose MinHash-estimated Jaccard against ANY already-curated document
    reaches ``threshold`` — the incremental complement of
    :func:`minhash_lsh_dedup` (which dedups within one corpus) and of
    :func:`incremental_dedup` (which only catches byte-canonical matches
    across snapshots).

    Scale shape: both sides go through the SAME signature + banding stage
    (:func:`_minhash_banded`), candidates are an equi-join of the two
    banded tables on (band, bucket) — new×seen pairs only, never
    seen×seen (the curated corpus is already deduped; re-pairing it would
    redo quadratic work every snapshot) — and verification joins the full
    signatures back onto the sparse candidate stream. At 100 TB the seen
    side's signatures/banding are computed ONCE and persisted partitioned
    by (band, bucket); each new crawl only signs its own documents and
    joins against that index. The degenerate-bucket cap is applied to the
    UNION of both sides' banded rows, since a boilerplate bucket hot on
    either side makes the cross join quadratic all the same.

    The seen side needs no id column: an internal ``xxhash64(text)`` key
    links its banded rows to its signatures (hash collisions would only
    merge two seen docs' candidate lists — harmless for a drop decision).
    ``mode='filter'`` drops matched new docs; ``mode='flag'`` appends a
    ``near_seen`` boolean instead (audit view).
    """
    if mode not in ("filter", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    stc = seen_text_col or text_col
    seen_keyed = seen_df.selectExpr(
        f"xxhash64({stc}) AS _seen_key", f"{stc} AS _stext"
    ).dropDuplicates(["_seen_key"])
    sigs_new, banded_new = _minhash_banded(
        new_df, text_col, id_col, num_perm, bands, shingle_k
    )
    sigs_seen, banded_seen = _minhash_banded(
        seen_keyed, "_stext", "_seen_key", num_perm, bands, shingle_k
    )
    # each side's signatures feed the banding, the bucket-cap passes AND
    # the verify join — cache them once per side or the signature stage
    # re-runs over the full corpus for every consumer (same reuse-site
    # rule as minhash_lsh_dedup)
    sigs_new.cache()
    sigs_seen.cache()
    # cap on the COMBINED occupancy: a bucket's pair count is |new side| ×
    # |seen side|, so the guard sums both sides' counts (map-side-combined
    # to ~one row per bucket) and anti-joins the tiny over-full list away
    # from each side — no union of differently-typed id columns needed
    bn, bs = banded_new, banded_seen
    over = None
    if max_bucket_size is not None:
        sizes = (
            bn.groupBy("band", "bucket").agg(F.expr("count(1) AS _c"))
            .unionByName(bs.groupBy("band", "bucket").agg(F.expr("count(1) AS _c")))
            .groupBy("band", "bucket")
            .agg(F.expr("sum(_c) AS _bsz"))
        )
        over = (
            sizes.where(f"_bsz > {int(max_bucket_size)}")
            .selectExpr("band", "bucket")
            .cache()  # tiny by definition
        )
        bn = bn.join(F.broadcast(over), ["band", "bucket"], "left_anti")
        bs = bs.join(F.broadcast(over), ["band", "bucket"], "left_anti")
    cand = bn.join(bs, ["band", "bucket"]).selectExpr(id_col, "_seen_key").distinct()
    sn = sigs_new.selectExpr(id_col, "minhash AS _sig_n")
    ss = sigs_seen.selectExpr("_seen_key", "minhash AS _sig_s")
    hits = (
        cand.join(sn, id_col)
        .join(ss, "_seen_key")
        .where(f"{_agreement_sql('_sig_n', '_sig_s')} >= {float(threshold)!r}D")
        .selectExpr(id_col)
        .distinct()
        # materialize the (small) hit set NOW so the signature caches can
        # be released immediately — this runs once per snapshot in a
        # long-lived session, and leaving two corpus-sized cached frames
        # pinned per call would accumulate exactly the session-long
        # storage cost the stats-only-cache fix removed elsewhere
        .localCheckpoint(eager=True)
    )
    sigs_new.unpersist()
    sigs_seen.unpersist()
    if over is not None:
        over.unpersist()
    if mode == "filter":
        return new_df.join(hits, id_col, "left_anti")
    return (
        new_df.join(hits.withColumn("_hit", F.lit(True)), id_col, "left")
        .withColumn("near_seen", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_hit")
    )


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------


def embedding_near_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding near-duplicate removal via random-hyperplane LSH.

    Sign-of-projection signatures bucket similar vectors; only bucket
    collisions are verified with exact cosine. Signature and verification
    both run on the Arrow path (numpy matmul / vectorized pair cosine) —
    the interpreted higher-order-function variants are the measured
    anti-pattern (see simhash_fast). Hyperplanes re-derive from ``seed``
    on every executor — no driver state, reproducible across runs.

    ``max_bucket_size`` drops degenerate signature buckets (e.g. all-zero
    embeddings collapsing to one signature) before the pair join, same
    rationale as the MinHash/SimHash guard: B² pairs from one bucket of
    boilerplate vectors carry no dedup signal. The candidate stage keeps
    the two-sided bucket join (not the grouped pair-emit used for
    MinHash): here each row carries its full vector, and a grouped
    collect_list would materialize an entire bucket's vectors in one
    aggregation row, while the join streams them through a hash probe.
    """
    from orientdb_etl_spark.functions.similarity import (
        _cosine_pairs,
        add_lsh_buckets,
    )

    base = add_lsh_buckets(
        df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        ),
        "_v",
        planes=planes,
        seed=seed,
        out_col="_sig",
    )
    base = _cap_bucket_size(base, ["_sig"], max_bucket_size)
    l_, r_ = base.alias("l"), base.alias("r")
    dups = (
        l_.join(
            r_,
            (F.col("l._sig") == F.col("r._sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .withColumn("_cos", _cosine_pairs(F.col("l._v"), F.col("r._v")))
        .filter(F.col("_cos") >= threshold)
        .select(F.col(f"r.{id_col}").alias(id_col))
        .distinct()
    )
    return df.join(dups, id_col, "left_anti")


# --------------------------------------------------------------------------
# semantic dedup (embedding k-means clusters)
# --------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int = 64,
    threshold: float = 0.95,
    seed: int = 42,
    sample_size: int = 10_000,
    iters: int = 5,
    max_cluster_size: int | None = None,
    survivor: str = "semdedup",
    score_col: str | None = None,
    centroids=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540, 2023): k-means-cluster the embeddings, compare pairs
    only WITHIN a cluster, and inside each duplicate group keep the member
    LEAST similar to its cluster centroid (the boundary example carries
    the most training signal; centroid-hugging copies are redundant).

    Scale shape: centroids train on a bounded, layout-independent driver
    sample (:func:`~orientdb_etl_spark.functions.similarity.ivf_index` —
    hash-prefix TakeOrderedAndProject, k-means++ init); assignment is one
    Arrow matmul map stage; the pair join is an equi-join on the cell id,
    so candidate work is Σ|cell|² instead of N² — size ``nlist`` ≈
    N / target_cluster_size to bound it (the paper uses ~100k clusters at
    web scale). Pairs never cross cells by construction — that recall
    trade IS the published algorithm, not an approximation of it. At
    100 TB, store the table partitioned by cell and this becomes an
    embarrassingly parallel per-partition sweep.

    ``survivor``: ``"semdedup"`` (default, keep-farthest-from-centroid
    per connected component, ties → min id) or any policy accepted by
    :func:`_drop_duplicates_by_pairs` (``bucket_min`` /
    ``connected_components`` / ``best_of_component`` + ``score_col``).
    ``max_cluster_size`` drops degenerate cells before the pair join
    (same guard + rationale as the LSH bucket cap).
    """
    from orientdb_etl_spark.functions.similarity import (
        _cosine_pairs,
        ivf_assign,
        ivf_index,
    )

    if centroids is None:
        centroids = ivf_index(
            df, vec_col, nlist=nlist, sample_size=sample_size, iters=iters, seed=seed
        )
    base = ivf_assign(
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")),
        "_v",
        centroids,
        out_col="_cell",
        sim_col="_ccos" if survivor == "semdedup" else None,
    )
    # cache at the reuse site: base feeds BOTH sides of the pair join
    # (and the semdedup survivor scoring) — uncached, the full-corpus
    # centroid-assignment matmul would run three times per call
    base.cache()
    base = _cap_bucket_size(base, ["_cell"], max_cluster_size)
    # two-sided equi-join on the cell id (not grouped pair-emit): each row
    # carries its full vector, and collect_list would materialize a whole
    # cell's vectors in one aggregation row — the join streams them
    # through a hash probe (same reasoning as embedding_near_dedup)
    l_, r_ = base.alias("l"), base.alias("r")
    pairs = (
        l_.join(
            r_,
            (F.col("l._cell") == F.col("r._cell"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .withColumn("_cos", _cosine_pairs(F.col("l._v"), F.col("r._v")))
        .filter(F.col("_cos") >= threshold)
        .select(
            F.col(f"l.{id_col}").alias("keep_id"),
            F.col(f"r.{id_col}").alias("dup_id"),
        )
        .distinct()
    )
    if survivor != "semdedup":
        return _drop_duplicates_by_pairs(df, pairs, id_col, survivor, score_col)
    # keep-farthest-from-centroid per duplicate component: only the
    # clustered subset (docs in a verified pair) is labelled or windowed;
    # the corpus sees one broadcast-able anti-join, as everywhere else
    labels = connected_component_labels(pairs)
    scored = labels.join(
        base.select(F.col(id_col).alias("id"), "_ccos"), "id"
    )
    w = Window.partitionBy("label").orderBy(F.asc("_ccos"), F.asc("id"))
    drop = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


def split_leakage(
    df: DataFrame,
    split_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-duplicate leakage across train/val/test splits: canonical
    fingerprints (case/whitespace/punctuation-invariant) whose documents
    appear in MORE THAN ONE split — the eval-integrity check every split
    assignment should pass before a benchmark number is trusted (a doc
    memorized from train and echoed in val inflates eval silently;
    complement of `decontaminate`, which checks against an EXTERNAL eval
    set).

    Returns one row per leaking fingerprint: (fingerprint, n_docs,
    splits sorted, doc_ids sorted). Plan: ONE groupBy on the fingerprint
    (map-side partial agg); no pair materialization — a fingerprint
    duplicated k times across splits costs one k-sized group, never k²
    pairs. An empty result is the passing state.
    """
    from orientdb_etl_spark.functions.text import doc_fingerprint

    return (
        df.select(
            doc_fingerprint(text_col).alias("fingerprint"),
            F.col(split_col).alias("_split"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_set("_split")).alias("splits"),
            F.array_sort(F.collect_list("_id")).alias("doc_ids"),
        )
        .filter(F.size("splits") > 1)
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Soft deduplication: instead of REMOVING duplicates, downweight
    them — each document gets sampling weight ``1 / dup_count^alpha``
    so a k-fold duplicated document contributes (for ``alpha=1``) one
    document's worth of expected training mass in aggregate. This is the
    duplicate-aware reweighting studied for data-constrained pretraining
    (Muennighoff et al., NeurIPS 2023, show repeated data decays in
    value rather than dropping to zero — removal throws away that
    residual value; downweighting keeps it priced correctly). Feed the
    weights to :func:`~orientdb_etl_spark.functions.sampling.
    weighted_sample` to realize the draw.

    ``dup_count`` groups on ``md5(text)`` — exact content identity, and
    the engine-portable twin of grouping on the text itself with the
    shuffle carrying a 32-hex key instead of whole documents (at crawl
    scale the narrow key is the difference between shuffling 100 TB of
    text and 3 TB of digests). One hash aggregation + one narrow join
    back; no windows.

    Returns ``(id_col, dup_count, weight)``; NULL text ⇒ no row (no
    content to weight).

    Cite: reference has no counterpart; SURVEY §2.8 dedup family
    (exact_dedup's keep-don't-drop sibling).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    keyed = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_fp")
    )
    counts = keyed.groupBy("_fp").agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    return keyed.join(counts, "_fp").select(
        id_col,
        "dup_count",
        F.round(
            F.lit(1.0)
            / F.pow(F.col("dup_count").cast("double"), F.lit(float(alpha))),
            round_to,
        ).alias("weight"),
    )
