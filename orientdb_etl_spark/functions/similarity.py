"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — one narrow scan + TakeOrderedAndProject
(per-partition top-k, single merge; no global sort shuffle). Scale path:
LSH / IVF bucketing so only a fraction of partitions are scanned per query.
Dot products use built-in higher-order functions (zip_with + aggregate),
entirely JVM-side; a vectorized Pandas-UDF matrix path exists for batched
multi-query workloads where BLAS beats per-row expressions.

Published techniques used (public literature): random-hyperplane LSH
(Charikar, STOC 2002) with multi-probe bit-flips (Lv et al., VLDB 2007),
inverted-file coarse quantization / IVF (Sivic & Zisserman ICCV 2003;
Jégou et al. PAMI 2011 — the nlist/nprobe trade popularized by FAISS).
Top-k orchestration follows the incremental/per-partition top-k pattern
(cf. EDBT 2020 incremental top-k, PAPERS.md).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.DoubleType())
def _cosine_pairs(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine for candidate PAIRS. Spark's higher-order
    functions evaluate lambdas per element in interpreted mode — measured
    ~10× slower than this vstack+BLAS path on the k-NN join's candidate
    set. Used wherever both sides of the dot product are columns; the
    column-vs-literal case stays as a JVM expression (codegen folds the
    literal)."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    ma = np.vstack(a.to_numpy())
    mb = np.vstack(b.to_numpy())
    dots = np.einsum("ij,ij->i", ma, mb)
    norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return pd.Series(np.where(norms > 0, dots / norms, 0.0))


def cosine_sim_expr(vec_col: str, query: Sequence[float]) -> F.Column:
    """cosine(vec_col, literal query) as a pure JVM expression."""
    q = [float(x) for x in query]
    q_lit = "array(" + ", ".join(f"cast({x!r} as double)" for x in q) + ")"
    q_norm = sum(x * x for x in q) ** 0.5
    dot = (
        f"aggregate(zip_with(cast({vec_col} as array<double>), {q_lit}, "
        f"(a, b) -> a * b), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    vnorm = (
        f"sqrt(aggregate(transform(cast({vec_col} as array<double>), x -> x * x), "
        f"cast(0.0 as double), (acc, x) -> acc + x))"
    )
    return F.expr(f"({dot}) / (({vnorm}) * cast({q_norm!r} as double))")


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k. orderBy+limit compiles to TakeOrderedAndProject:
    each partition keeps k rows, the driver merges — O(n) scan, O(k) result,
    no shuffle. This is the correctness baseline for the ANN variants."""
    return (
        df.select(
            F.col(id_col), cosine_sim_expr(vec_col, query).alias("cosine_sim")
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _plane_matrix(planes: int, dim: int, seed: int) -> "np.ndarray":
    """Deterministic gaussian hyperplanes: re-derived identically from the
    seed on the driver and every executor — no broadcast state, stable
    across runs and cluster layouts."""
    return np.random.RandomState(seed).standard_normal((planes, dim))


def add_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    planes: int = 8,
    seed: int = 7,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane signature (one int bucket per row), Arrow-batched:
    one (batch × dim) @ (dim × planes) numpy matmul per Arrow batch. The
    previous pure-expression variant evaluated its per-plane × per-dim
    lambdas interpreted (aggregate/zip_with) — measured ~3× slower on the
    ann_lsh_topk contract query at sf0.1; wide-array math belongs on the
    Arrow path (same call as the simhash signature stage)."""

    @F.pandas_udf(T.IntegerType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype="int32")
        m = np.vstack([np.asarray(v, dtype="float64") for v in vecs])
        pl = _plane_matrix(planes, m.shape[1], seed)
        bits = m @ pl.T > 0
        weights = (1 << np.arange(planes - 1, -1, -1)).astype("int64")
        return pd.Series((bits @ weights).astype("int32"))

    return df.withColumn(out_col, _bucket(F.col(vec_col)))


def add_lsh_buckets_portable(
    df: DataFrame,
    vec_col: str,
    planes: int = 8,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Sign-random-projection buckets with ±1 hyperplanes derived from
    pure integer arithmetic — cross-engine replayable (the DuckDB oracle
    mirrors the identical expression), unlike the gaussian/numpy planes of
    :func:`add_lsh_buckets`. Binary ±1 projections are a standard
    simhash-style variant of Charikar's scheme (random signs suffice for
    sign-LSH; only the projection distribution changes).

    plane sign s(p, d) = +1 iff bit_count((p·73856093) xor (d·19349663))
    is even (spatial-hash mixing constants); bucket = the planes-bit
    integer of projection signs, MSB = plane 0. Everything runs as one
    JVM expression per row — no Python, no driver state.
    """
    sign = (
        "CASE WHEN bit_count(cast(p as bigint) * 73856093 ^ "
        "cast(d as bigint) * 19349663) % 2 = 0 "
        "THEN cast(1.0 as double) ELSE cast(-1.0 as double) END"
    )
    proj = (
        f"aggregate(sequence(0, size(_pv) - 1), cast(0.0 as double), "
        f"(s, d) -> s + element_at(_pv, d + 1) * ({sign}))"
    )
    bucket = (
        f"aggregate(sequence(0, {planes - 1}), 0, "
        f"(acc, p) -> acc * 2 + CASE WHEN ({proj}) > 0 THEN 1 ELSE 0 END)"
    )
    return (
        df.withColumn("_pv", F.col(vec_col).cast("array<double>"))
        .withColumn(out_col, F.expr(bucket))
        .drop("_pv")
    )


def lsh_bucketed_topk_portable(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id,
    k: int = 10,
    planes: int = 8,
) -> DataFrame:
    """ANN top-k over portable sign-LSH buckets, multi-probe within
    Hamming distance 1 of the query's bucket (``bit_count(b ^ qb) <= 1``
    — the same pruning a bucket-partitioned table gives via partition
    pruning at scale). Fully expression-based, so the complete pipeline —
    signature, probe set, candidate cosine ordering — is hash-checkable
    against a relational oracle. The query vector is addressed by id so
    both engines derive its bucket the same way."""
    bucketed = add_lsh_buckets_portable(df, vec_col, planes=planes, out_col="_bk")
    qrow = bucketed.filter(F.col(id_col) == query_id).select(
        F.col("_bk").alias("_qbk"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    cand = bucketed.crossJoin(F.broadcast(qrow)).filter(
        F.expr("bit_count(_bk ^ _qbk) <= 1")
    )
    dot = (
        "aggregate(zip_with(cast({v} as array<double>), _qv, (a, b) -> a * b), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    ).format(v=vec_col)
    nrm = (
        "sqrt(aggregate(transform(cast({c} as array<double>), x -> x * x), "
        "cast(0.0 as double), (acc, x) -> acc + x))"
    )
    cos = f"({dot}) / ({nrm.format(c=vec_col)} * {nrm.format(c='_qv')})"
    return (
        cand.select(
            F.col(id_col), F.expr(cos).alias("cosine_sim")
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _bucket_of(
    query: Sequence[float], planes: int, seed: int, spark=None, hamming: int = 1
) -> list[int]:
    """Compute the query's bucket and all multi-probe neighbors within
    the given Hamming radius (Lv et al. VLDB'07 probe sequence; radius 2
    for planes=8 is 37 of 256 buckets ≈ 14% scan) driver-side with the
    SAME plane matrix the table used. Any radius 0..planes is honored
    exactly (radius = planes probes every bucket — a validity bound, not
    a silent cap)."""
    import itertools

    if not (0 <= hamming <= planes):
        raise ValueError(
            f"hamming radius must be in [0, planes={planes}], got {hamming}"
        )
    q = np.asarray([float(x) for x in query], dtype="float64")
    pl = _plane_matrix(planes, len(q), seed)
    bits = pl @ q > 0
    bucket = 0
    for b in bits:
        bucket = bucket * 2 + int(b)
    probes = [bucket]
    for r in range(1, hamming + 1):
        for flip_bits in itertools.combinations(range(planes), r):
            flip = 0
            for i in flip_bits:
                flip |= 1 << i
            probes.append(bucket ^ flip)
    return probes


def lsh_bucketed_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    planes: int = 8,
    seed: int = 7,
    hamming: int = 1,
) -> DataFrame:
    """ANN top-k: scan only the query's LSH bucket plus its multi-probe
    neighbors within the Hamming radius. At 100 TB the bucketed table is
    written partitioned by bucket (partition pruning turns this into a
    ~2^-planes fraction scan); here the filter achieves the same pruning
    on the fly. Recall is approximate by construction — the exact
    baseline is :func:`brute_force_topk`.
    """
    spark = df.sparkSession
    probes = _bucket_of(query, planes, seed, spark, hamming=hamming)
    bucketed = add_lsh_buckets(df, vec_col, planes, seed)
    return (
        bucketed.filter(F.col("lsh_bucket").isin(probes))
        .select(F.col(id_col), cosine_sim_expr(vec_col, query).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_index(
    df: DataFrame,
    vec_col: str,
    nlist: int = 16,
    sample_size: int = 10_000,
    iters: int = 5,
    seed: int = 42,
    sample: "np.ndarray | None" = None,
) -> "np.ndarray":
    """Train IVF coarse centroids: k-means on a bounded driver-side sample.

    The sample is capped (10k vectors ≈ a few MB) so driver memory is
    bounded regardless of table size; assignment of the full table happens
    distributed via :func:`ivf_assign`. Deterministic AND layout-
    independent: the sample is the ``sample_size`` smallest rows by
    seeded content hash (xxhash64 of the vector + seed, vector itself as
    tie-break), which compiles to TakeOrderedAndProject — each partition
    keeps ≤ sample_size rows, the driver merges; no full sort, no shuffle.
    Unlike ``limit()`` (first partitions in layout order — biased on
    sorted/clustered inputs) or ``sample()`` (per-partition RNG — changes
    under repartition), a content-hash prefix is a uniform pseudo-random
    subset that is identical across runs, partition layouts, and cluster
    sizes."""
    if sample is None:
        sample = _hash_prefix_sample(df, vec_col, sample_size, seed)
    rng = np.random.RandomState(seed)
    k = min(nlist, len(sample))
    sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    # k-means++ seeding (Arthur & Vassilvitskii, SODA 2007) over cosine
    # distance: spreads the initial centers, which uniform random init
    # does not — a bad random draw costs real recall at fixed nprobe.
    # Deterministic: seeded RNG over the hash-ordered sample.
    chosen = [int(rng.randint(len(sample)))]
    d = 1.0 - sn @ sn[chosen[0]]
    for _ in range(1, k):
        probs = np.maximum(d, 0.0)
        total = probs.sum()
        if total <= 1e-12:
            nxt = int(rng.randint(len(sample)))
        else:
            nxt = int(rng.choice(len(sample), p=probs / total))
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - sn @ sn[nxt])
    centroids = sample[chosen].copy()
    for _ in range(iters):
        # cosine k-means: normalize, assign to max dot, recenter
        cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
        assign = (sn @ cn.T).argmax(axis=1)
        for j in range(len(centroids)):
            members = sample[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: "np.ndarray",
    out_col: str = "ivf_cell",
    sim_col: str | None = None,
) -> DataFrame:
    """Distributed cell assignment: argmax cosine against the broadcast
    centroid matrix, Arrow-batched. At scale, write the table partitioned
    by ``ivf_cell`` so queries prune to nprobe partitions.

    With ``sim_col``, also emits the cosine to the assigned centroid from
    the SAME matmul (no second pass) — the keep-score SemDeDup's survivor
    policy needs (:func:`orientdb_etl_spark.functions.dedup.semantic_dedup`).
    """
    c = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    bc = df.sparkSession.sparkContext.broadcast(c)

    if sim_col is None:

        @F.pandas_udf(T.IntegerType())
        def _cell(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype="int32")
            m = np.vstack(vecs.to_numpy()).astype("float64")
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return pd.Series((m @ bc.value.T).argmax(axis=1).astype("int32"))

        return df.withColumn(out_col, _cell(F.col(vec_col)))

    @F.pandas_udf("cell int, ccos double")
    def _cell_sim(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "ccos": pd.Series([], dtype="float64")})
        m = np.vstack(vecs.to_numpy()).astype("float64")
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ bc.value.T
        cells = sims.argmax(axis=1)
        return pd.DataFrame(
            {"cell": cells.astype("int32"),
             "ccos": sims[np.arange(len(cells)), cells]}
        )

    tagged = df.withColumn("_cs", _cell_sim(F.col(vec_col)))
    return (
        tagged.withColumn(out_col, F.col("_cs.cell"))
        .withColumn(sim_col, F.col("_cs.ccos"))
        .drop("_cs")
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    centroids: "np.ndarray | None" = None,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` cells whose centroids are
    nearest the query; exact cosine inside the probed cells only. With the
    table stored partitioned by cell this scans nprobe/nlist of the data —
    the classic inverted-file trade (recall vs fraction scanned)."""
    if centroids is None:
        centroids = ivf_index(df, vec_col, nlist=nlist, seed=seed)
    q = np.asarray(list(query), dtype="float64")
    qn = q / max(np.linalg.norm(q), 1e-12)
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    probes = [int(i) for i in (cn @ qn).argsort()[::-1][:nprobe]]
    assigned = ivf_assign(df, vec_col, centroids)
    return (
        assigned.filter(F.col("ivf_cell").isin(probes))
        .select(F.col(id_col), cosine_sim_expr(vec_col, query).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hash_prefix_sample(
    df: DataFrame, vec_col: str, sample_size: int, seed: int
) -> "np.ndarray":
    """Bounded, seeded, layout-independent driver sample (shared by IVF
    and PQ training): smallest ``sample_size`` rows by content hash —
    TakeOrderedAndProject, no shuffle, identical across partitionings."""
    rows = (
        df.select(F.col(vec_col).cast("array<double>").alias("_v"))
        .orderBy(F.xxhash64(F.col("_v"), F.lit(seed)).asc(), F.col("_v").asc())
        .limit(sample_size)
        .collect()
    )
    return np.vstack([np.asarray(r[0], dtype="float64") for r in rows])


def _kmeans_pp(
    data: "np.ndarray", k: int, iters: int, rng: "np.random.RandomState"
) -> "np.ndarray":
    """Seeded k-means with k-means++ init (Arthur & Vassilvitskii, SODA
    2007) under squared-L2 — the subspace trainer for PQ codebooks."""
    k = min(k, len(data))
    first = int(rng.randint(len(data)))
    chosen = [first]
    d = ((data - data[first]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = d.sum()
        nxt = (
            int(rng.randint(len(data)))
            if total <= 1e-12
            else int(rng.choice(len(data), p=d / total))
        )
        chosen.append(nxt)
        d = np.minimum(d, ((data - data[nxt]) ** 2).sum(axis=1))
    cents = data[chosen].copy()
    for _ in range(iters):
        d2 = ((data[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(cents)):
            members = data[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 10_000,
    iters: int = 5,
    seed: int = 42,
    sample: "np.ndarray | None" = None,
) -> "np.ndarray":
    """Train product-quantization codebooks (Jégou/Douze/Schmid, "Product
    Quantization for Nearest Neighbor Search", PAMI 2011): split each
    vector into ``m`` subspaces, k-means each subspace to ``ksub``
    centroids. Returns (m, ksub, dim/m).

    Scale shape: training is a bounded driver-side k-means over the same
    seeded content-hash sample IVF uses (layout-independent,
    deterministic); encoding and search are fully distributed. A PQ code
    is ``m`` small ints (m bytes at ksub ≤ 256) instead of 4·dim bytes of
    float — at 100 TB the ANN scan reads the skinny code table (32× less
    I/O at dim=64, m=8) and never touches the raw vectors. Vectors are
    L2-normalized first so squared-L2 ranking matches cosine ranking
    (the engine's similarity metric elsewhere)."""
    if sample is None:
        sample = _hash_prefix_sample(df, vec_col, sample_size, seed)
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
    )
    dsub = dim // m
    rng = np.random.RandomState(seed)
    return np.stack(
        [
            _kmeans_pp(sample[:, j * dsub : (j + 1) * dsub], ksub, iters, rng)
            for j in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: "np.ndarray",
    out_col: str = "pq_code",
) -> DataFrame:
    """Distributed PQ encoding: per subspace, the index of the nearest
    codebook centroid — Arrow-batched, one (batch × ksub) distance matmul
    per subspace. Output: ``array<int>`` of length m (store this skinny
    column — plus the id — as the scan table; raw vectors stay in cold
    storage for optional exact re-ranking)."""
    bc = df.sparkSession.sparkContext.broadcast(codebooks)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        cb = bc.value
        m_, _, dsub = cb.shape
        if vecs.empty:
            return pd.Series([], dtype="object")
        mat = np.vstack([np.asarray(v, dtype="float64") for v in vecs])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(mat), m_), dtype="int32")
        for j in range(m_):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            # ||x - c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
            d2 = -2.0 * (sub @ cb[j].T) + (cb[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def pq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    codebooks: "np.ndarray | None" = None,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    rerank: int | None = None,
) -> DataFrame:
    """PQ ANN top-k via asymmetric distance computation (ADC): the query
    stays exact; each database vector's distance is approximated as the
    sum of m lookup-table entries indexed by its code. The per-query LUT
    (m × ksub floats) broadcasts; the scan reads codes only and the
    result merges through TakeOrderedAndProject — no shuffle, no raw
    vectors touched.

    ``rerank=r`` adds the standard second stage (Jégou PAMI'11 §V):
    ADC shortlists r·k candidates from codes alone, then ONLY those ids
    fetch their raw vectors for exact cosine ordering — the shortlist is
    tiny, broadcast as an id filter, so the full table still pays code-
    scan I/O only. This recovers the recall that pure ADC loses when
    true similarities are nearly tied (quantization error ≈ the gaps).
    Certificate = overlap@k vs :func:`brute_force_topk`."""
    if codebooks is None:
        codebooks = pq_train(df, vec_col, m=m, ksub=ksub, seed=seed)
    m_, _, dsub = codebooks.shape
    q = np.asarray(list(query), dtype="float64")
    q = q / max(np.linalg.norm(q), 1e-12)
    lut = np.stack(
        [
            ((codebooks[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
            for j in range(m_)
        ]
    )  # (m, ksub) squared-L2 contributions
    encoded = pq_encode(df, vec_col, codebooks)
    bc = df.sparkSession.sparkContext.broadcast(lut)

    @F.pandas_udf(T.DoubleType())
    def _adc(codes: pd.Series) -> pd.Series:
        tbl = bc.value
        if codes.empty:
            return pd.Series([], dtype="float64")
        cm = np.vstack(codes.to_numpy())
        return pd.Series(tbl[np.arange(tbl.shape[0])[None, :], cm].sum(axis=1))

    shortlist_k = k * rerank if rerank else k
    adc = (
        encoded.select(F.col(id_col), _adc(F.col("pq_code")).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(shortlist_k)
    )
    if not rerank:
        return adc
    return (
        df.join(F.broadcast(adc.select(id_col)), id_col)
        .select(F.col(id_col), cosine_sim_expr(vec_col, query).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    rerank: int | None = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the composition billion-scale ANN actually deploys
    (Jégou et al. PAMI'11 §VI — the FAISS ``IVFx,PQy`` shape). The IVF
    coarse quantizer prunes to ``nprobe``/``nlist`` of the table
    (partition pruning when stored partitioned by cell); inside the
    probed cells the scan reads m-byte PQ codes under a broadcast ADC
    LUT; an optional exact re-rank of the tiny shortlist restores
    ordering. Both training stages are bounded driver-side k-means over
    the shared layout-independent sample; everything else is
    distributed. Combined I/O story at 100 TB: (nprobe/nlist) of the
    rows × (m / 4·dim) of the bytes."""
    # ONE driver sample feeds both trainers ("the shared layout-
    # independent sample" — previously each trainer re-ran the full-table
    # TakeOrdered+collect for the identical seeded sample)
    shared = _hash_prefix_sample(df, vec_col, 10_000, seed)
    centroids = ivf_index(df, vec_col, nlist=nlist, seed=seed, sample=shared)
    codebooks = pq_train(df, vec_col, m=m, ksub=ksub, seed=seed, sample=shared)
    q = np.asarray(list(query), dtype="float64")
    qn = q / max(np.linalg.norm(q), 1e-12)
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    probes = [int(i) for i in (cn @ qn).argsort()[::-1][:nprobe]]
    # cache the probed slice: with rerank set, pq_topk consumes it twice
    # (code scan + exact-rerank join) — uncached, the full-table centroid-
    # assignment matmul would run twice
    cells = (
        ivf_assign(df, vec_col, centroids)
        .filter(F.col("ivf_cell").isin(probes))
        .cache()
    )
    return pq_topk(
        cells, vec_col, id_col, query, k=k, codebooks=codebooks, rerank=rerank
    )


def embedding_centroids(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    scale: int = 7,
) -> DataFrame:
    """Per-label mean vector, computed DISTRIBUTED and DETERMINISTIC:
    posexplode to (label, dim, value) → exact integer sums per (label,
    dim) → reassemble the sorted dim array per label.

    Why integer sums: float/double addition is order-dependent, and
    shuffle reduction order is nondeterministic — double sums give a
    slightly different centroid every run. Each element is first
    quantized to a 10^-scale integer unit (from its exact double value —
    all engines widen float32 identically and round() halves away from
    zero identically), then summed as BIGINT: exact, order-independent,
    bit-identical across runs, partition layouts, and engines — which is
    what makes this oracle-checkable and what you want for reproducible
    IVF re-centering / class prototypes. Quantization error ≤ 0.5·10⁻⁷
    per element is far below float32 input noise.

    Two shuffles: the (label × dim) partial-aggregated sum (cardinality
    |labels| × dim, tiny after map-side combine regardless of row count)
    and the per-label reassembly of |labels| rows. The vectors themselves
    cross no Python boundary.

    Output: ``label, n_vecs, centroid (array<double>)``.
    """
    unit = float(10**scale)
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(
            F.expr(
                f"transform(cast({vec_col} as array<double>), "
                f"x -> cast(round(x * {unit!r}D) as bigint))"
            )
        ).alias("dim", "iv"),
    )
    per_dim = (
        ex.groupBy("label", "dim")
        .agg(F.sum("iv").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "mean", F.col("s").cast("double") / (F.col("cnt") * F.lit(unit))
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mean"))).alias("_sm"),
            F.max("cnt").alias("n_vecs"),
        )
        .select(
            "label",
            "n_vecs",
            F.expr("transform(_sm, x -> x.mean)").alias("centroid"),
        )
    )


def pairwise_topk_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    left_id: str,
    right_id: str,
    k: int = 5,
    planes: int = 6,
    seed: int = 7,
) -> DataFrame:
    """k-NN join: for each left row, its top-k cosine neighbors from right,
    restricted to LSH bucket collisions (multi-probe via 1-bit flips on the
    left side).

    Shape: cogroup-by-bucket, NOT pair materialization. An earlier version
    exploded (left, right) candidate PAIRS and ran a pair-cosine UDF — each
    64-dim vector crossed the Arrow boundary once per pair (~500 MB at a
    mere 457k candidates) and the top-k window shuffled rows still carrying
    both vectors. Here each vector crosses Arrow once per probe (left) or
    once (right): the two sides are cogrouped on the bucket id, one numpy
    (nl × nr) matmul per bucket computes all cosines, and only skinny
    (lid, rid, cosine) rows — at most k per (left, bucket) — leave Python.
    A final window merges each left row's ≤ (planes+1)·k bucket-local
    winners. Measured 4× faster cold at sf0.1; the gap widens with bucket
    occupancy since pair counts grow quadratically but row transfer stays
    linear.

    Scale: one shuffle per side (the cogroup exchange, ~vector width per
    row), one skinny window. Lefts are chunked inside each bucket group so
    the candidate matrix is bounded at 4096 × |bucket| regardless of
    degenerate buckets."""
    from pyspark.sql import Window

    from orientdb_etl_spark.functions.dedup import ensure_parallelism

    same = right is left
    lb = add_lsh_buckets(
        ensure_parallelism(left), vec_col, planes, seed, "_bk"
    ).select(
        F.col(left_id).alias("_lid"),
        F.col(vec_col).cast("array<double>").alias("_lv"),
        "_bk",
    )
    if same:
        rb = lb.select(
            F.col("_lid").alias("_rid"), F.col("_lv").alias("_rv"), "_bk"
        )
    else:
        rb = add_lsh_buckets(
            ensure_parallelism(right), vec_col, planes, seed, "_bk"
        ).select(
            F.col(right_id).alias("_rid"),
            F.col(vec_col).cast("array<double>").alias("_rv"),
            "_bk",
        )
    probe = lb.select(
        "_lid",
        "_lv",
        F.explode(
            F.expr(f"transform(sequence(0, {planes}), i -> "
                   f"CASE WHEN i = 0 THEN _bk ELSE cast(_bk ^ shiftleft(1, i - 1) AS int) END)")
        ).alias("_bk2"),
    )

    def _bucket_topk(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"_lid": [], "_rid": [], "cosine_sim": []}).astype(
                {"_lid": "int64", "_rid": "int64", "cosine_sim": "float64"}
            )
        # deterministic input order → deterministic argpartition tie-breaks
        rpdf = rpdf.sort_values("_rid")
        mr = np.vstack(rpdf["_rv"].to_numpy())
        rn = np.maximum(np.linalg.norm(mr, axis=1), 1e-300)
        rid = rpdf["_rid"].to_numpy()
        out_l, out_r, out_c = [], [], []
        for start in range(0, len(lpdf), 4096):
            chunk = lpdf.iloc[start : start + 4096]
            ml = np.vstack(chunk["_lv"].to_numpy())
            ln = np.maximum(np.linalg.norm(ml, axis=1), 1e-300)
            sims = (ml @ mr.T) / np.outer(ln, rn)
            kk = min(k, sims.shape[1])
            # top-k per row: argpartition bounds the sort to k columns
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = np.repeat(chunk["_lid"].to_numpy(), kk)
            out_l.append(rows)
            out_r.append(rid[idx].ravel())
            out_c.append(np.take_along_axis(sims, idx, axis=1).ravel())
        return pd.DataFrame(
            {
                "_lid": np.concatenate(out_l),
                "_rid": np.concatenate(out_r),
                "cosine_sim": np.concatenate(out_c),
            }
        )

    local = (
        probe.groupBy("_bk2")
        .cogroup(rb.groupBy("_bk"))
        .applyInPandas(_bucket_topk, "_lid long, _rid long, cosine_sim double")
    )
    w = Window.partitionBy("_lid").orderBy(F.col("cosine_sim").desc(), F.col("_rid").asc())
    out_right = right_id if right_id != left_id else f"{right_id}_nn"
    return (
        local.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(out_right),
            "cosine_sim",
        )
    )


def cosine_cols_expr(x_col: str, y_col: str) -> F.Column:
    """cosine(x_col, y_col) between two array columns as a pure JVM
    expression (sequential zip_with/aggregate folds — the
    :func:`cosine_sim_expr` shape generalized to column-column)."""
    def dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with(cast({a} as array<double>), "
            f"cast({b} as array<double>), (p, q) -> p * q), "
            f"cast(0.0 as double), (acc, v) -> acc + v)"
        )

    return F.expr(
        f"({dot(x_col, y_col)}) / "
        f"(sqrt({dot(x_col, x_col)}) * sqrt({dot(y_col, y_col)}))"
    )


def _margin_intersect(
    fwd: DataFrame,
    bwd: DataFrame,
    threshold: float,
    round_to: int,
) -> DataFrame:
    """Shared margin-scoring tail of the bitext miners (Artetxe &
    Schwenk ACL'19 "max" strategy): ``fwd``/``bwd`` carry k-NN rows
    ``(_x, _y, _nano)`` (cosine as INTEGER MICROS — quantization makes
    every downstream mean/ratio order-free, and the 1e-6 grain leaves
    ~9 orders of magnitude between the two engines' dot-product ulp
    drift and the nearest rounding boundary, so both sides land on the
    SAME integer; nanos would sit 1e-6 from boundaries — too close). margin(x,y) = cos(x,y) / (½·(avgₖ(x) + avgₖ(y)));
    a pair survives if it is BOTH x's argmax-margin forward candidate
    and y's argmax-margin backward candidate, and clears ``threshold``.
    """
    from pyspark.sql import Window

    ax = fwd.groupBy("_x").agg(
        F.sum("_nano").alias("_sx"), F.count(F.lit(1)).alias("_nx")
    )
    ay = bwd.groupBy("_y").agg(
        F.sum("_nano").alias("_sy"), F.count(F.lit(1)).alias("_ny")
    )
    cand = fwd.unionByName(bwd).distinct()
    scored = (
        cand.join(ax, "_x")
        .join(ay, "_y")
        .select(
            "_x",
            "_y",
            "_nano",
            (
                F.col("_nano").cast("double")
                / (
                    F.lit(0.5)
                    * (
                        F.col("_sx") / F.col("_nx").cast("double")
                        + F.col("_sy") / F.col("_ny").cast("double")
                    )
                )
            ).alias("_margin"),
        )
    )
    wf = Window.partitionBy("_x").orderBy(
        F.col("_margin").desc(), F.col("_y").asc()
    )
    wb = Window.partitionBy("_y").orderBy(
        F.col("_margin").desc(), F.col("_x").asc()
    )
    return (
        scored.withColumn("_rf", F.row_number().over(wf))
        .withColumn("_rb", F.row_number().over(wb))
        .filter(
            (F.col("_rf") == 1)
            & (F.col("_rb") == 1)
            & (F.col("_margin") >= float(threshold))
        )
        .select(
            F.col("_x").alias("src_id"),
            F.col("_y").alias("tgt_id"),
            F.round(F.col("_nano") / F.lit(1e6), round_to).alias(
                "cosine_sim"
            ),
            F.round("_margin", round_to).alias("margin"),
        )
    )


def bitext_mine_exact(
    src: DataFrame,
    tgt: DataFrame,
    vec_col: str,
    src_id: str,
    tgt_id: str,
    k: int = 4,
    threshold: float = 1.05,
    round_to: int = 4,
) -> DataFrame:
    """Margin-based parallel-pair mining, EXACT variant (Artetxe &
    Schwenk, ACL'19; the CCMatrix/LASER alignment rule): for every
    cross-side candidate pair, score the cosine against the mean of
    each side's k-NN cosines — margin(x,y) = cos(x,y) /
    (½·(avgₖ(x)+avgₖ(y))) — and keep pairs that are MUTUAL argmax
    above ``threshold``. Absolute-cosine thresholds misfire because
    hub vectors have uniformly high similarities; the margin
    normalizes by each point's neighborhood density.

    This variant computes the full |src|×|tgt| similarity matrix —
    quadratic, the correctness baseline/certificate for
    :func:`bitext_mine` (the LSH-bucketed production path), same role
    :func:`brute_force_topk` plays for the ANN family. Cosines are
    quantized to integer micros before any mean/ratio, so every
    aggregate is addition-order-free and a SQL oracle replays the
    selection exactly (micro — not nano — grain; see
    :func:`_margin_intersect`).
    """
    a = src.select(
        F.col(src_id).alias("_x"),
        F.col(vec_col).cast("array<double>").alias("_xv"),
    )
    b = tgt.select(
        F.col(tgt_id).alias("_y"),
        F.col(vec_col).cast("array<double>").alias("_yv"),
    )
    pairs = a.crossJoin(b).select(
        "_x",
        "_y",
        F.round(cosine_cols_expr("_xv", "_yv") * F.lit(1e6))
        .cast("bigint")
        .alias("_nano"),
    )
    from orientdb_etl_spark.operators.relational import topk_per_group

    fwd = topk_per_group(
        pairs, "_x", ["_nano DESC", "_y ASC"], int(k)
    ).select("_x", "_y", "_nano")
    bwd = topk_per_group(
        pairs, "_y", ["_nano DESC", "_x ASC"], int(k)
    ).select("_x", "_y", "_nano")
    return _margin_intersect(fwd, bwd, threshold, round_to)


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    vec_col: str,
    src_id: str,
    tgt_id: str,
    k: int = 4,
    threshold: float = 1.05,
    planes: int = 6,
    seed: int = 7,
    round_to: int = 4,
) -> DataFrame:
    """Margin-based parallel-pair mining, PRODUCTION variant: candidate
    k-NN lists come from :func:`pairwise_topk_join` (LSH bucket
    collisions + per-bucket matmul — one shuffle per side, never the
    quadratic matrix), then the same mutual-argmax margin rule as
    :func:`bitext_mine_exact`. At 100 TB this is the scale path: the
    margin stage is purely relational over k-bounded candidate lists
    (two sums, one distinct union, two partitioned — never global —
    rank windows)."""
    fwd = pairwise_topk_join(
        src, tgt, vec_col, src_id, tgt_id, k=int(k),
        planes=int(planes), seed=int(seed),
    ).select(
        F.col(src_id).alias("_x"),
        F.col(tgt_id if tgt_id != src_id else f"{tgt_id}_nn").alias("_y"),
        F.round(F.col("cosine_sim") * F.lit(1e6)).cast("bigint").alias("_nano"),
    )
    bwd = pairwise_topk_join(
        tgt, src, vec_col, tgt_id, src_id, k=int(k),
        planes=int(planes), seed=int(seed),
    ).select(
        F.col(src_id if src_id != tgt_id else f"{src_id}_nn").alias("_x"),
        F.col(tgt_id).alias("_y"),
        F.round(F.col("cosine_sim") * F.lit(1e6)).cast("bigint").alias("_nano"),
    )
    return _margin_intersect(fwd, bwd, threshold, round_to)
