"""DoReMi domain-mixture optimization (Xie et al., NeurIPS 2023:
"DoReMi: Optimizing Data Mixtures Speeds Up Language Model
Pretraining") — learn per-domain sampling weights by running Group DRO
with a small proxy model against a reference model trained on the
uniform mixture, then output the AVERAGE of the domain-weight
trajectory (the paper's estimator; Algorithm 1).

The published loop, per step ``t``:

1. per-domain **excess loss** ``e_d = max(0, L_proxy(d) − L_ref(d))``
   (mean over the domain's examples),
2. multiplicative-weights ascent on the domain simplex:
   ``α'_d ∝ α_d · exp(η·e_d)``, then smoothing
   ``α_d ← (1−c)·α'_d/Σα' + c/D``,
3. a proxy-model descent step on the α-weighted objective
   ``Σ_d α_d · mean_{i∈d} ℓ_i``.

This implementation instantiates the proxy/reference pair with the
engine's hashed-n-gram logistic regression
(:mod:`~orientdb_etl_spark.functions.quality_clf` — the same
full-batch-GD, integer-pinned trainer), so the WHOLE trajectory —
reference training, per-doc losses, domain weights, proxy updates — is
deterministic on any cluster layout and replayable in SQL. DoReMi's
optimizer is exactly this Group-DRO loop regardless of the inner model;
any per-example differentiable loss plugs in.

Integer-pinning discipline (cross-row sums are integers; per-row scalar
double ops are layout-free):

- per-doc logistic loss pinned to micro-nats
  (``l_micro = round(ℓ·1e6)`` BIGINT) before the per-domain sum;
- domain weights live as nano-units (``a_nano`` BIGINT, ``Σ≈1e9``):
  the multiplicative update is rounded per domain BEFORE the simplex
  normalization, so the normalizer is an INTEGER sum;
- the α-weighted gradient is pinned per (domain, bucket) —
  ``round(a·S_db/m_d)`` with ``S_db`` an integer sum of the per-doc
  pinned gradients — then integer-summed over domains.

Scale shape at 100 TB: the corpus feature table is built ONCE and
cached (2 consumers per DRO step + the loss pass); all iteration state
is bounded — weights ``buckets+1`` rows, domain weights ``D`` rows,
per-(domain, bucket) gradient partials ``D·(buckets+1)`` rows, all
map-side combining. No driver loop over data: the bounded state is
pinned driver-side per step through ``iterate.pin`` (the
k-means-centroids pattern), and the feature cache is released before
returning.

No counterpart in the reference; training-data-pipeline extension per
SURVEY §2.8 (the mixture-planning family's trained-model member, next
to the static UniMax/temperature allocators).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.iterate import pin
from orientdb_etl_spark.functions.quality_clf import (
    _doc_feature_arrays,
    _margin_expr,
    _w_row,
    train_quality_classifier,
)


def doremi_mixture(
    train: DataFrame,
    domain_col: str,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    seed: int = 11,
    n_max: int = 2,
    ref_iters: int = 2,
    iters: int = 3,
    lr: float = 0.5,
    eta: float = 1.0,
    smooth: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Run DoReMi and return one row per domain:
    ``(domain_col, n_docs, excess_last, alpha_final, alpha)`` where
    ``alpha`` is the trajectory average over steps 0..``iters``
    including the uniform start (the paper's estimator — the weights to
    train the full-size model with), ``alpha_final`` the
    last step's weights, and ``excess_last`` the final per-domain
    excess loss in nats (diagnostics: which domains the proxy still
    finds hard). ``label_col`` must be 0/1; docs with empty text carry
    no features and drop out of both models, exactly as in
    :func:`~orientdb_etl_spark.functions.quality_clf.
    train_quality_classifier`.

    ``smooth`` is the paper's uniform-mixing ``c`` (default 0.1 there;
    kept explicit here), ``eta`` the multiplicative-weights step size.
    ``ref_iters`` GD steps train the uniform-mixture reference model
    first; ``iters`` Group-DRO steps follow.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 <= smooth < 1:
        raise ValueError(f"smooth must be in [0, 1), got {smooth}")
    if eta <= 0:
        raise ValueError(f"eta must be > 0, got {eta}")
    spark = train.sparkSession

    # doc-major feature arrays with the domain riding the group keys —
    # ONE corpus materialization feeds the reference trainer, every
    # loss pass, and every gradient pass; the old row-major layout
    # re-joined weights and domains per pass (2 corpus shuffles + 2
    # joins per DRO step; the map-side fold needs zero)
    docf = _doc_feature_arrays(
        train,
        text_col,
        id_col,
        buckets,
        seed,
        n_max,
        label_col=label_col,
        extra=(domain_col, "_d"),
    ).cache()
    per_dom = docf.groupBy("_d").agg(F.count(F.lit(1)).alias("m_docs"))
    n_domains = per_dom.count()  # bounded: domain-count
    if n_domains == 0:
        raise ValueError("train corpus has no feature-bearing documents")

    def _wl(frame: DataFrame) -> "list[int]":
        by_b = {r.b: r.w_nano for r in frame.collect()}  # buckets-sized
        return [by_b[b] for b in range(buckets + 1)]

    def _p_l_exprs():
        """(σ(margin), micro-nat loss) folding against the 1-row
        broadcast weight array (``_warr`` — see quality_clf._w_row):
        the exact float steps of the old _doc_losses on the identical
        integer dot product, with the generated code literal-free so
        codegen caches across DRO steps."""
        m = _margin_expr(F.col("_warr"))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
        loss = F.log(
            F.lit(1.0)
            + F.exp(-(F.lit(2.0) * F.col("y") - F.lit(1.0)) * m)
        )
        return p, F.round(loss * F.lit(1e6)).cast("bigint")

    def _docf_w(wl: "list[int]") -> DataFrame:
        return docf.crossJoin(F.broadcast(_w_row(spark, wl)))

    # reference model on the uniform mixture (plain full-batch GD),
    # sharing the cached doc-feature arrays
    w_ref = train_quality_classifier(
        train,
        label_col,
        text_col,
        id_col,
        buckets,
        seed,
        n_max,
        iters=ref_iters,
        lr=lr,
        _docf=docf,
    )
    _, l_ref = _p_l_exprs()
    ref_dom = (
        _docf_w(_wl(w_ref))
        .groupBy("_d")
        .agg(F.sum(l_ref).alias("ref_sum"))
        .join(per_dom, "_d")
    )
    _, ref_dom = pin(ref_dom, n_domains, "DoReMi reference losses")

    grid = spark.range(buckets + 1).select(
        F.col("id").cast("int").alias("b")
    )
    w = grid.select("b", F.lit(0).cast("bigint").alias("w_nano"))
    wl = [0] * (buckets + 1)
    # α₀ = uniform, in nano-units
    a0 = int(round(1e9 / n_domains))
    alpha = per_dom.select(
        "_d", F.lit(a0).cast("bigint").alias("a_nano")
    )
    _, alpha = pin(alpha, n_domains, "DoReMi domain weights")
    acc = alpha.select("_d", F.col("a_nano").alias("acc_nano"))
    excess = None
    for _ in range(iters):
        # per-doc loss/σ are map-side folds over the cached arrays —
        # recomputing them in the excess aggregation AND the gradient
        # pass is cheaper than the old materialize-join-cache of a
        # per-doc loss table (one whole shuffle + cache per step)
        _p, l_cur = _p_l_exprs()
        # per-domain excess loss vs the reference (nats, ≥ 0)
        excess = (
            _docf_w(wl)
            .groupBy("_d")
            .agg(F.sum(l_cur).alias("p_sum"))
            .join(ref_dom, "_d")
            .select(
                "_d",
                "m_docs",
                F.greatest(
                    (
                        F.col("p_sum") - F.col("ref_sum")
                    ).cast("double")
                    / (F.lit(1e6) * F.col("m_docs")),
                    F.lit(0.0),
                ).alias("e"),
            )
        )
        # the α-scaling join is the ONLY part of the gradient that needs
        # this step's excess/alpha — the per-(domain,bucket) integer
        # partials S_db depend on wl alone, so the two corpus-sized
        # aggregations of the step can run as CONCURRENT jobs (guide
        # §2.6: the second job back-fills the first one's task tail)
        s_db = (
            _docf_w(wl)
            .select(
                "_d", "y", "n", _p.alias("_p"), F.explode("fs").alias("x")
            )
            .select(
                "_d",
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
            .groupBy("_d", "b")
            .agg(F.sum("_g").alias("s_db"))
        )
        # D rows / D·(buckets+1) rows — pinning makes the alpha update,
        # the final output, and the w update read materialized row sets
        # instead of re-deriving the corpus passes (the same k-means-
        # centroids discipline; both bounded by construction)
        with ThreadPoolExecutor(max_workers=2) as _tp:
            _fe = _tp.submit(pin, excess, n_domains, "DoReMi excess loss")
            _fs = _tp.submit(
                pin, s_db, n_domains * (buckets + 1), "DoReMi gradients"
            )
            excess, s_db = _fe.result()[1], _fs.result()[1]
        # multiplicative weights: pin the raw update per domain, then
        # normalize over the INTEGER total and re-pin after smoothing
        raw = excess.join(F.broadcast(alpha), "_d").select(
            "_d",
            "m_docs",
            "e",
            F.round(
                F.col("a_nano").cast("double") * F.exp(F.lit(eta) * F.col("e"))
            )
            .cast("bigint")
            .alias("raw_nano"),
        )
        tot = raw.agg(F.sum("raw_nano").alias("t_nano"))
        alpha = raw.crossJoin(F.broadcast(tot)).select(
            "_d",
            F.round(
                (
                    F.lit(1.0 - smooth)
                    * F.col("raw_nano").cast("double")
                    / F.col("t_nano")
                    + F.lit(smooth / n_domains)
                )
                * F.lit(1e9)
            )
            .cast("bigint")
            .alias("a_nano"),
        )
        # pin alpha per step: its inputs are all LOCAL (pinned excess +
        # previous pinned alpha + the 1-row total), so the pin is a
        # sub-second local-relation job — cheaper than letting every
        # later consumer (grads, acc, the final output) re-evaluate the
        # broadcast-join chain.
        _, alpha = pin(alpha, n_domains, "DoReMi domain weights")
        acc = (
            acc.join(alpha, "_d")
            .select(
                "_d", (F.col("acc_nano") + F.col("a_nano")).alias("acc_nano")
            )
        )
        # proxy descent on the α-weighted objective: the pinned integer
        # partials, α/m_d-scaled and re-pinned, integer-summed
        grads = (
            s_db.join(F.broadcast(alpha), "_d")
            .join(F.broadcast(per_dom), "_d")
            .select(
                "b",
                F.round(
                    F.col("a_nano").cast("double")
                    / F.lit(1e9)
                    * F.col("s_db").cast("double")
                    / F.col("m_docs")
                )
                .cast("bigint")
                .alias("g_part"),
            )
            .groupBy("b")
            .agg(F.sum("g_part").alias("_G"))
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
                    ).cast("bigint")
                ).alias("w_nano"),
            )
        )
        # the weight table is buckets-sized by construction — pin it
        # for the next step's literal (k-means-centroids pattern)
        w_rows, w = pin(w, buckets + 1, "DoReMi proxy weights")
        by_b = {r.b: r.w_nano for r in w_rows}
        wl = [by_b[b] for b in range(buckets + 1)]
    out = (
        excess.join(alpha, "_d")
        .join(acc, "_d")
        .select(
            F.col("_d").alias(domain_col),
            F.col("m_docs").alias("n_docs"),
            F.round(F.col("e"), round_to).alias("excess_last"),
            F.round(F.col("a_nano") / F.lit(1e9), round_to).alias(
                "alpha_final"
            ),
            F.round(
                F.col("acc_nano") / F.lit(1e9 * (iters + 1)), round_to
            ).alias("alpha"),
        )
    )
    _, out = pin(out, n_domains, "DoReMi mixture")
    docf.unpersist()
    return out
