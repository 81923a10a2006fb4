"""Hashed-n-gram logistic-regression quality classifier — the
fastText-style filter (Joulin et al., EACL 2017) that GPT-3 (Brown et
al. 2020, App. A), LLaMA, and Falcon used to keep web pages that "look
like" a high-quality seed corpus: train a linear classifier on hashed
bag-of-n-gram features with positive = seed corpus, negative = random
crawl, then keep documents the classifier scores high.

Everything is relational and DETERMINISTIC — the same full-batch
gradient-descent trajectory replays bit-for-bit on any cluster layout
and in the DuckDB oracle, via the integer-pinning discipline of
:mod:`~orientdb_etl_spark.functions.dsir`:

- **Features**: word unigrams+bigrams hashed into ``buckets`` slots with
  the portable base-31 polynomial (dsir._features / dsir._bucket_expr),
  counted per (doc, bucket) → ``k``; per-doc total ``n``; tf = k/n.
  A bias slot ``b = buckets`` with ``k = n`` (tf ≡ 1) closes the affine
  term so weights and bias update through one table.
- **Weights** live as exact integers in nano-units (``w_nano``; the real
  weight is ``w_nano / 1e9``).
- **Margin** of a doc: ``Σ_b w_nano·k`` is an INTEGER inner product
  (order-free across engines); the only float steps are the final
  ``margin = Σ/(1e9·n)`` and ``p = σ(margin)`` — scalar double ops on
  deterministic inputs.
- **Gradient**: each doc's per-bucket contribution is pinned to an
  integer, ``g_nano = round((p−y)·k/n·1e9)``, summed as integers; the
  update ``w_nano −= round(lr·ΣG/n_docs)`` is one scalar double op per
  bucket. Full-batch, ``iters`` unrolled iterations — no RNG anywhere
  (w₀ = 0, so iteration 1's p is exactly 0.5 for every doc).

Scale shape at 100 TB: the corpus's feature table is built ONCE and
reused every iteration (cached, and released before the trainer
returns); each iteration folds the corpus against the 1-row broadcast
weight array and runs one per-bucket gradient aggregation,
partial-combining map-side. Weight state is buckets-sized, never
corpus-sized: it is the only thing collected, once per iteration.
Scoring a new corpus is one map-side fold against the weight literal.

No counterpart in the reference; training-data-pipeline extension per
SURVEY §2.8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.dsir import _bucket_expr, _features
from orientdb_etl_spark.functions.iterate import pin


def hashed_doc_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    seed: int = 11,
    n_max: int = 2,
    label_col: str | None = None,
) -> DataFrame:
    """(id, [y,] b, k, n) hashed bag-of-n-grams with the bias slot
    ``b = buckets`` carrying ``k = n``. Docs with no features (empty
    text) emit no rows — they carry no evidence and score σ(bias) only
    via the caller's convention (absent from train/score output)."""
    feats = _features(df, text_col, id_col, n_max)
    kb = (
        feats.select(
            "_id", F.expr(_bucket_expr("_f", buckets, seed)).alias("b")
        )
        .groupBy("_id", "b")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    n = kb.groupBy("_id").agg(F.sum("k").alias("n"))
    bias = n.select("_id", F.lit(buckets).alias("b"), F.col("n").alias("k"))
    out = kb.unionByName(bias).join(n, "_id")
    if label_col is not None:
        lab = df.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).cast("int").alias("y"),
        )
        out = out.join(lab, "_id")
    return out


def _doc_feature_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    seed: int = 11,
    n_max: int = 2,
    label_col: str | None = None,
    extra: "tuple[str, str] | None" = None,
) -> DataFrame:
    """Doc-major twin of :func:`hashed_doc_features`: ONE row per
    feature-bearing doc — ``(_id, [y,] [extra,] n, fs)`` with ``fs`` the
    array of ``(b, k)`` bucket counts INCLUDING the bias slot
    ``(buckets, n)``. Built with one gram explode + two hash
    aggregations keyed by the doc id and ZERO joins (label/domain
    columns ride the group keys through the explode), so per-iteration
    consumers can take the integer inner product ``Σ w_nano·k`` as a
    map-side array fold against a literal weight vector instead of a
    corpus-sized join + re-aggregation per pass."""
    keys: list = ["_id"]
    pt = []
    if label_col is not None:
        pt.append(F.col(label_col).cast("int").alias("y"))
        keys.append("y")
    if extra is not None:
        pt.append(F.col(extra[0]).alias(extra[1]))
        keys.append(extra[1])
    grams = _features(df, text_col, id_col, n_max, passthrough=tuple(pt))
    kb = (
        grams.select(
            *keys, F.expr(_bucket_expr("_f", buckets, seed)).alias("b")
        )
        .groupBy(*keys, "b")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        kb.groupBy(*keys)
        .agg(
            F.collect_list(F.struct("b", "k")).alias("_fs0"),
            F.sum("k").alias("n"),
        )
        .select(
            *keys,
            "n",
            F.concat(
                F.col("_fs0"),
                F.array(
                    F.struct(
                        F.lit(buckets).cast("int").alias("b"),
                        F.col("n").alias("k"),
                    )
                ),
            ).alias("fs"),
        )
    )


def _w_literal(values: "list[int]"):
    """The weight table as a TRUE array literal (index = slot ``b``,
    1-based via element_at). ``F.lit(list)`` builds one
    Literal(ArrayData) — a CreateArray of per-slot literals is NOT
    constant-folded inside a lambda body and re-evaluates all
    ``buckets+1`` children per fold step (measured 2x on the gradient
    pass)."""
    return F.lit([int(v) for v in values]).cast("array<bigint>")


def _dot_expr(wlit) -> "F.Column":
    """Integer inner product ``Σ_b w_nano[b]·k`` over a doc's feature
    array — order-free exact arithmetic, the same value the broadcast
    join + hash re-aggregation produced, with zero shuffle."""
    return F.aggregate(
        "fs",
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.element_at(wlit, x["b"] + 1) * x["k"],
    )


def _margin_expr(wlit) -> "F.Column":
    """``margin = Σ w_nano·k / (1e9·n)`` — the only float step."""
    return _dot_expr(wlit).cast("double") / (F.lit(1e9) * F.col("n"))


def _w_row(spark, wl: "list[int]") -> DataFrame:
    """The weight vector as a 1-row broadcastable frame (``_warr``).

    Iterative trainers attach it with ``crossJoin(broadcast(...))`` and
    fold against ``F.col("_warr")`` instead of a fresh 1025-wide
    literal: the literal form regenerates (and recompiles) the stage's
    code every iteration because the constants are inlined, ~0.25 s per
    corpus pass at the fixtures — the broadcast form keeps the
    generated code literal-free so codegen caches across iterations.
    The fold arithmetic is identical (same bigints via element_at)."""
    return spark.createDataFrame([(list(wl),)], "_warr array<bigint>")


def train_quality_classifier(
    train: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    seed: int = 11,
    n_max: int = 2,
    iters: int = 4,
    lr: float = 0.5,
    _docf: DataFrame | None = None,
) -> DataFrame:
    """Train the classifier; returns the final weight table
    ``(b, w_nano)`` with ``buckets + 1`` rows (slot ``buckets`` is the
    bias). ``label_col`` must be 0/1 (castable). The gradient-descent
    trajectory is exact integer arithmetic between the per-doc sigmoid
    evaluations — see the module docstring for the pinning scheme.

    Cache discipline: the corpus feature table feeds every iteration,
    so it is cached once and, when this call built it, released before
    returning. Each iteration's weight table is buckets-sized by
    construction and pinned driver-side through ``iterate.pin`` (the
    k-means-centroids pattern), so the returned weights are a literal
    table and nothing stays persisted."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if lr <= 0:
        raise ValueError(f"lr must be > 0, got {lr}")
    spark = train.sparkSession
    owns_docf = _docf is None
    docf = (
        _doc_feature_arrays(
            train, text_col, id_col, buckets, seed, n_max, label_col=label_col
        )
        if owns_docf
        else _docf
    ).cache()  # `iters` gradient consumers below — one materialization
    n_docs = docf.count()  # one row per feature-bearing doc
    if n_docs == 0:
        raise ValueError("train corpus has no feature-bearing documents")

    grid = spark.range(buckets + 1).select(
        F.col("id").cast("int").alias("b")
    )
    w = grid.select("b", F.lit(0).cast("bigint").alias("w_nano"))
    wl = [0] * (buckets + 1)
    for _ in range(iters):
        # per-doc sigmoid from the map-side integer dot product against
        # the 1-row BROADCAST weight array — no per-doc shuffle; the
        # one corpus-sized exchange per iteration is the gradient's
        # groupBy(b) with map-side partial sums (see _w_row for why
        # this beats the literal form in a loop)
        sig = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-_margin_expr(F.col("_warr")))
        )
        grads = (
            docf.crossJoin(F.broadcast(_w_row(spark, wl)))
            .select(
                "y", "n", sig.alias("_p"), F.explode("fs").alias("x")
            )
            .select(
                F.col("x.b").alias("b"),
                F.round(
                    (F.col("_p") - F.col("y"))
                    * F.col("x.k").cast("double")
                    / F.col("n")
                    * F.lit(1e9)
                )
                .cast("bigint")
                .alias("_g"),
            )
            .groupBy("b")
            .agg(F.sum("_g").alias("_G"))
        )
        w = (
            grid.join(F.broadcast(w), "b")
            .join(F.broadcast(grads), "b", "left")
            .select(
                "b",
                (
                    F.col("w_nano")
                    - F.round(
                        F.lit(lr)
                        * F.coalesce(F.col("_G"), F.lit(0)).cast("double")
                        / F.lit(float(n_docs))
                    ).cast("bigint")
                ).alias("w_nano"),
            )
        )
        rows, w = pin(w, buckets + 1, "quality-classifier weight table")
        if len(rows) != buckets + 1:
            # the grid join pins one row per bucket slot (+ bias) by
            # construction — fewer means the weight table was corrupted
            # upstream; raise before the next literal drops slots
            raise RuntimeError(
                f"weight table collected {len(rows)} rows, expected "
                f"{buckets + 1} (buckets={buckets} + bias slot)"
            )
        by_b = {r.b: r.w_nano for r in rows}
        wl = [by_b[b] for b in range(buckets + 1)]
    if owns_docf:
        docf.unpersist()
    return w


def score_quality(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    seed: int = 11,
    n_max: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Score documents under a trained weight table: returns
    ``(id_col, n_feats, prob, keep)`` with ``prob = round(σ(margin), 6)``
    and ``keep = prob >= threshold``. The margin is a map-side integer
    array fold against the literal weight vector (the weight table is
    buckets-sized by contract, so collecting it is bounded) — no join;
    feature-less docs emit no row. ``buckets``/``seed``/
    ``n_max`` must match the training call (the weight table's bias slot
    pins ``buckets`` — mismatches raise)."""
    wrows = weights.collect()  # buckets-sized by contract — bounded
    if len(wrows) != buckets + 1:
        raise ValueError(
            f"weight table has {len(wrows)} slots but buckets={buckets} "
            f"implies {buckets + 1} (including the bias slot)"
        )
    by_b = {r.b: r.w_nano for r in wrows}
    wlit = _w_literal([by_b[b] for b in range(buckets + 1)])
    docf = _doc_feature_arrays(df, text_col, id_col, buckets, seed, n_max)
    return (
        docf.select(
            F.col("_id").alias(id_col),
            F.col("n").alias("n_feats"),
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin_expr(wlit))),
                6,
            ).alias("prob"),
        )
        .withColumn("keep", F.col("prob") >= F.lit(float(threshold)))
    )
