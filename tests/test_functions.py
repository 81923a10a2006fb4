from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orientdb_etl_spark.functions.dedup import (
    embedding_near_dedup,
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from orientdb_etl_spark.functions.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
    pairwise_topk_join,
)
from orientdb_etl_spark.functions.text import (
    add_text_metrics,
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into "
    "the deep dark forest while nobody is watching it tonight"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE + " extra"),  # near dup of 0
        (3, "der hund ist von den katzen nicht mit ein und das der die"),
        (4, "completely different content about spark query engines and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_deterministic_keeper(spark):
    docs = _docs(spark)
    out = exact_dedup(docs, ["text"], tie_break="doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3, 4]


def test_minhash_drops_near_dups(spark):
    docs = _docs(spark)
    out = minhash_lsh_dedup(docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.5)
    ids = sorted(r.doc_id for r in out.collect())
    assert 0 in ids  # smallest id survives
    assert 1 not in ids  # exact dup dropped
    assert 2 not in ids  # near dup dropped
    assert {3, 4} <= set(ids)


def _signatures(df, num_perm=64):
    from orientdb_etl_spark.functions.dedup import _minhash_banded

    sigs, _ = _minhash_banded(df, "text", "doc_id", num_perm, 16, 5)
    return {r.doc_id: r.minhash for r in sigs.collect()}


def test_minhash_signature_shape_and_determinism(spark):
    rows = [
        (5, ""), (6, "abc"), (7, "İstanbul ünïcödé 日本語 текст"), (8, None),
    ]
    docs = _docs(spark).unionByName(
        spark.createDataFrame(rows, "doc_id long, text string")
    )
    sig = _signatures(docs)
    # full width and no NULL component, degenerate texts included: '' and
    # a text shorter than k are one shingle each; NULL text has no row
    assert sorted(sig) == [0, 1, 2, 3, 4, 5, 6, 7]
    for v in sig.values():
        assert len(v) == 64 and None not in v
    assert sig[0] == sig[1]  # identical texts -> identical signatures
    assert len({tuple(v) for v in sig.values()}) == 7
    assert _signatures(docs) == sig  # run-to-run determinism


def _byte_shingles(text, k=5):
    b = text.encode("utf-8")
    return {b[i:i + k] for i in range(max(len(b) - k + 1, 1))}


def test_minhash_signature_agreement_estimates_byte_shingle_jaccard(spark):
    """On a seeded corpus of edited variants, the fraction of equal
    signature components tracks the exact Jaccard of the byte 5-shingle
    sets over every pair with J >= 0.2: no bias beyond 0.02 on average
    and no pair off by more than 0.2."""
    import random

    rng = random.Random(11)
    vocab = ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=rng.randint(2, 9)))
             for _ in range(300)]
    texts = []
    for _ in range(40):
        base = rng.choices(vocab, k=rng.randint(30, 60))
        texts.append(" ".join(base))
        for _ in range(3):
            w = list(base)
            for pos in rng.sample(range(len(w)), rng.randint(1, 15)):
                w[pos] = rng.choice(vocab)
            texts.append(" ".join(w))
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sig = _signatures(df, num_perm=128)
    shingles = [_byte_shingles(t) for t in texts]
    errors = []
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = shingles[i], shingles[j]
            exact = len(a & b) / len(a | b)
            if exact >= 0.2:
                agree = sum(x == y for x, y in zip(sig[i], sig[j])) / 128
                errors.append(agree - exact)
    assert len(errors) >= 200
    assert abs(sum(errors) / len(errors)) <= 0.02
    assert max(abs(e) for e in errors) <= 0.2


def test_simhash_dedup(spark):
    docs = _docs(spark)
    out = simhash_dedup(docs, "text", "doc_id", max_hamming=3)
    ids = sorted(r.doc_id for r in out.collect())
    assert 1 not in ids
    assert 0 in ids


def test_bucket_size_guard_engages_on_degenerate_bucket(spark):
    # 40 identical boilerplate docs all land in one LSH bucket; with the
    # cap below the bucket size the bucket is dropped (no candidate pairs,
    # everything survives) instead of exploding into B^2 comparisons
    rows = [(i, BASE) for i in range(40)] + [(100, "unrelated text entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_lsh_dedup(
        docs, "text", "doc_id", num_perm=64, bands=16, max_bucket_size=10
    )
    assert capped.count() == 41  # guard dropped the degenerate bucket
    uncapped = minhash_lsh_dedup(
        docs, "text", "doc_id", num_perm=64, bands=16, max_bucket_size=None
    )
    assert uncapped.count() == 2  # without the guard they dedup to one

    sim_capped = simhash_dedup(docs, "text", "doc_id", max_bucket_size=10)
    assert sim_capped.count() == 41
    sim_uncapped = simhash_dedup(docs, "text", "doc_id", max_bucket_size=None)
    assert sim_uncapped.count() == 2


def test_connected_component_labels(spark):
    from orientdb_etl_spark.functions.dedup import connected_component_labels

    # components: {1,2,3,4} (chain + diamond), {10,11}; 20 isolated (no pair)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4), (3, 4), (10, 11)],
        "keep_id long, dup_id long",
    )
    labels = {r.id: r.label for r in connected_component_labels(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges_logarithmically(spark):
    """A path graph of diameter 200 — plain min-label propagation would
    need 200 rounds (far over any sane cap); the large-star/small-star
    contraction must converge inside the 25-round cap (log² bound) and
    label every node with the component min."""
    from orientdb_etl_spark.functions.dedup import connected_component_labels

    n = 201
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "keep_id long, dup_id long"
    )
    labels = {r.id: r.label for r in connected_component_labels(pairs).collect()}
    assert len(labels) == n and set(labels.values()) == {0}
    # a reversed-id chain (worst case for child→parent orientation) too
    pairs_rev = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "keep_id long, dup_id long"
    )
    labels = {
        r.id: r.label for r in connected_component_labels(pairs_rev).collect()
    }
    assert len(labels) == n and set(labels.values()) == {0}


def test_connected_components_match_union_find(spark):
    """Random multi-component graphs: star-contraction labels must equal
    a driver-side union-find ground truth (label = component min)."""
    import random

    from orientdb_etl_spark.functions.dedup import connected_component_labels

    rng = random.Random(17)
    nodes = list(range(0, 400, 3))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    truth = {v: find(v) for v in touched}

    pairs = spark.createDataFrame(edges, "keep_id long, dup_id long")
    labels = {r.id: r.label for r in connected_component_labels(pairs).collect()}
    assert labels == truth


def test_connected_components_cap_raises_instead_of_partial(spark):
    """Hitting the round cap must raise (refusing silent under-dedup),
    and an empty pair stream is a clean no-op."""
    import pytest

    from orientdb_etl_spark.functions.dedup import connected_component_labels

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "keep_id long, dup_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_component_labels(pairs, max_iter=1)
    empty = spark.createDataFrame([], "keep_id long, dup_id long")
    assert connected_component_labels(empty).count() == 0


def _union_find_labels(pairs):
    """Driver-side ground truth: component min per vertex. A NULL
    endpoint is no vertex; its partner still is one."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        roots = [find(v) for v in (a, b) if v is not None]
        if len(roots) == 2 and roots[0] != roots[1]:
            parent[max(roots)] = min(roots)
    return {v: find(v) for v in list(parent)}


_CC_CASES = {
    "both_orientations": [(1, 2), (3, 2), (4, 3), (5, 4), (9, 8), (8, 7)],
    "duplicate_pairs": [(1, 2), (1, 2), (2, 1), (2, 3), (3, 2), (3, 2)],
    "self_loops": [(1, 1), (2, 2), (2, 3), (4, 4), (4, 5), (6, 6)],
    "null_endpoint": [(1, None), (None, None), (2, 3)],
    "empty": [],
    "single_edge": [(7, 3)],
    "star": [(0, i) for i in range(1, 25)] + [(i, 100) for i in range(101, 120)],
    "long_chain": [(i + 1, i) if i % 2 else (i, i + 1) for i in range(150)],
}


@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_connected_component_labels_match_union_find(spark, case):
    """Star contraction over node-grouped state labels every vertex with
    its component minimum, whatever the pair orientation, duplication or
    self-loops: the same labels as a driver-side union-find."""
    from orientdb_etl_spark.functions.dedup import connected_component_labels

    pairs = _CC_CASES[case]
    df = spark.createDataFrame(pairs, "keep_id long, dup_id long")
    rows = connected_component_labels(df).collect()
    assert len(rows) == len({r.id for r in rows})
    assert {r.id: r.label for r in rows} == _union_find_labels(pairs)


def test_connected_components_star_needs_no_confirming_round(spark):
    """Pairs that already form stars (every duplicate pointing at its
    cluster minimum, as bucket keepers do) and disjoint triangles end in
    the first round: its output is a star forest, so no second round
    runs to confirm it, and a one-round cap does not raise."""
    from orientdb_etl_spark.functions.dedup import connected_component_labels

    for pairs in (
        _CC_CASES["star"],
        [(3 * t + a, 3 * t + b) for t in range(20) for a, b in ((0, 1), (0, 2), (1, 2))],
    ):
        df = spark.createDataFrame(pairs, "keep_id long, dup_id long")
        got = {r.id: r.label for r in connected_component_labels(df, max_iter=1).collect()}
        assert got == _union_find_labels(pairs)


def test_connected_components_job_bound_on_disjoint_triangles(spark):
    """20 disjoint triangles converge in one round: one job per exchange
    (the grouping of the pairs and the round's three), the round's
    checkpoint and the collect, with no separate convergence job (the
    two-round loop it replaces ran 31). Job counts under adaptive
    execution move by a job or two between runs of the same call, so the
    bound holds for the least of three runs."""
    from orientdb_etl_spark.functions.dedup import connected_component_labels

    pairs = [
        (3 * t + a, 3 * t + b) for t in range(20) for a, b in ((0, 1), (0, 2), (1, 2))
    ]
    df = spark.createDataFrame(pairs, "keep_id long, dup_id long")
    sc = spark.sparkContext
    counts = []
    try:
        for i in range(3):
            sc.setJobGroup(f"cc_job_bound_{i}", "count the jobs of one CC call")
            connected_component_labels(df).collect()
            counts.append(len(sc.statusTracker().getJobIdsForGroup(f"cc_job_bound_{i}")))
    finally:
        sc.setJobGroup("default", "")
    assert min(counts) <= 6, counts


def test_best_of_component_matches_python_replay(spark):
    """The best_of_component drop set equals a Python replay: per
    component keep the highest score, ties to the smaller id, drop the
    rest; unclustered docs always stay. Scores may come from a separate
    frame (the cached signatures in minhash_lsh_dedup)."""
    import random

    from orientdb_etl_spark.functions.dedup import _drop_duplicates_by_pairs

    rng = random.Random(5)
    ids = list(range(60))
    score = {i: rng.choice([0.1, 0.5, 0.5, 0.9]) for i in ids}  # many ties
    pairs = {
        (min(a, b), max(a, b))
        for a, b in ((rng.choice(ids), rng.choice(ids)) for _ in range(45))
        if a != b
    }
    labels = _union_find_labels(pairs)
    comps = {}
    for v, lab in labels.items():
        comps.setdefault(lab, []).append(v)
    keep = {min(m, key=lambda v: (-score[v], v)) for m in comps.values()}
    want = sorted(i for i in ids if i not in labels or i in keep)

    docs = spark.createDataFrame([(i, f"t{i}") for i in ids], "doc_id long, text string")
    scores = spark.createDataFrame(
        [(i, score[i]) for i in ids], "doc_id long, score double"
    )
    pdf = spark.createDataFrame(sorted(pairs), "keep_id long, dup_id long")
    got = _drop_duplicates_by_pairs(
        docs, pdf, "doc_id", "best_of_component", "score", scores=scores
    )
    assert sorted(r.doc_id for r in got.collect()) == want
    assert got.columns == ["doc_id", "text"]


def test_minhash_cc_survivor_rule(spark):
    from orientdb_etl_spark.functions.dedup import minhash_lsh_dedup

    docs = _docs(spark)
    out = minhash_lsh_dedup(
        docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.5,
        survivor="connected_components",
    )
    ids = sorted(r.doc_id for r in out.collect())
    # same survivors as bucket_min on this fixture: one keeper (0) for the
    # {0,1,2} near-dup cluster, 3 and 4 untouched
    assert ids == [0, 3, 4]


def test_best_of_component_survivor(spark):
    from orientdb_etl_spark.functions.dedup import minhash_lsh_dedup

    # near-dup cluster {0,1,2}: doc 1 has the best score → it survives,
    # NOT the min id (which bucket_min / connected_components would keep)
    docs = _docs(spark).withColumn(
        "score",
        F.when(F.col("doc_id") == 1, 9.0).otherwise(F.col("doc_id").cast("double")),
    )
    out = minhash_lsh_dedup(
        docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.5,
        survivor="best_of_component", score_col="score",
    )
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4]


def _degenerate_corpus(spark):
    rows = [
        (1, None), (2, None),  # no shingle evidence: NULL signatures
        (3, ""), (4, ""),  # equal (padded) signatures: an exact pair
        (5, BASE), (6, BASE),  # an exact pair
        (7, "completely different content about spark query engines and joins"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "score", F.col("doc_id").cast("double")
    )


@pytest.mark.parametrize(
    "survivor, want",
    [
        ("bucket_min", [1, 2, 3, 5, 7]),
        ("connected_components", [1, 2, 3, 5, 7]),
        # the larger score, here the larger id, keeps each pair
        ("best_of_component", [1, 2, 4, 6, 7]),
    ],
)
def test_minhash_null_text_docs_survive_as_singletons(spark, survivor, want):
    """NULL-text docs carry a NULL signature. It must band nowhere:
    xxhash64(band, NULL) hashes the band alone, which used to put every
    NULL-text doc into one bucket per band and fail the pair verify."""
    out = minhash_lsh_dedup(
        _degenerate_corpus(spark), "text", "doc_id", num_perm=64, bands=16,
        threshold=0.5, survivor=survivor, score_col="score",
    )
    assert sorted(r.doc_id for r in out.collect()) == want


def test_incremental_near_dedup_null_text_docs_survive(spark):
    from orientdb_etl_spark.functions.dedup import incremental_near_dedup

    seen = spark.createDataFrame([(BASE,), (None,), ("",)], "text string")
    out = incremental_near_dedup(
        _degenerate_corpus(spark), seen, "text", "doc_id", num_perm=64,
        bands=16, threshold=0.5,
    )
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 7]


def test_minhash_pair_verify_runs_in_the_jvm(spark, monkeypatch):
    """The MinHash dedups have no Python stage: the signatures, the
    banding and the pair agreement are all JVM expressions."""
    from orientdb_etl_spark.functions import dedup

    plans, banded, resolve = [], dedup._minhash_banded, dedup._drop_duplicates_by_pairs

    def plan(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())

    def capture_banded(*args, **kwargs):
        out = banded(*args, **kwargs)
        for df in out:
            plan(df)
        return out

    def capture_pairs(df, pairs, *args, **kwargs):
        plan(pairs)
        return resolve(df, pairs, *args, **kwargs)

    monkeypatch.setattr(dedup, "_minhash_banded", capture_banded)
    monkeypatch.setattr(dedup, "_drop_duplicates_by_pairs", capture_pairs)
    docs = _docs(spark)
    for out in (
        dedup.minhash_lsh_dedup(docs, "text", "doc_id", num_perm=64, bands=16),
        dedup.incremental_near_dedup(docs, docs, "text", "doc_id", num_perm=64),
        dedup.lsh_bucket_stats(docs, "text", "doc_id"),
    ):
        out.collect()
        plan(out)
    # each call's signature and banded frames (two sides for the
    # incremental dedup), minhash_lsh_dedup's verified pairs, each result
    assert len(plans) == (2 + 1 + 1) + (4 + 1) + (2 + 1)
    for p in plans:
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def _driver_round_trips(build) -> int:
    """py4j commands the calling thread sends while ``build()`` runs (the
    gateway's garbage-collection thread is not counted)."""
    import threading

    from py4j.clientserver import ClientServerConnection

    me, n, send = threading.get_ident(), [0], ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            n[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    return n[0]


def test_curate_plan_builders_stay_within_round_trip_budget(spark, tmp_path):
    """Building (not running) the curate plans costs a few py4j round
    trips per step, not one per column node: each is SQL text."""
    from orientdb_etl_spark.functions.dedup import _by_node, _star_round

    path = str(tmp_path / "docs.parquet")
    _docs(spark).write.parquet(path)
    docs = spark.read.parquet(path)
    state = _by_node(spark.createDataFrame([(2, 1), (3, 2)], "c long, p long"))
    for _ in range(2):  # the first build of each also warms pyspark's caches
        metrics = _driver_round_trips(lambda: add_text_metrics(docs))
        star = _driver_round_trips(lambda: _star_round(state, lambda df, cond: df))
    assert metrics <= 40
    assert star <= 120


def test_best_of_component_requires_score(spark):
    import pytest
    from orientdb_etl_spark.functions.dedup import minhash_lsh_dedup

    with pytest.raises(ValueError, match="score_col"):
        minhash_lsh_dedup(
            _docs(spark), "text", "doc_id", survivor="best_of_component"
        ).collect()


def test_rerun_dedup_chain_compiles_no_new_classes(spark):
    """Text metrics -> minhash dedup with best_of_component generates more
    classes than Spark's default 100-entry codegen cache holds, so every
    rerun in a long-lived session used to recompile them. The session's
    cache must hold them: the second run compiles nothing."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run():
        minhash_lsh_dedup(
            add_text_metrics(_docs(spark)), "text", "doc_id", num_perm=64,
            bands=16, threshold=0.5, survivor="best_of_component",
            score_col="quality",
        ).collect()

    run()
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    run()
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before


def test_bucket_size_guard_keeps_normal_survivors_identical(spark):
    docs = _docs(spark)
    with_cap = sorted(
        r.doc_id
        for r in minhash_lsh_dedup(
            docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.5
        ).collect()
    )
    no_cap = sorted(
        r.doc_id
        for r in minhash_lsh_dedup(
            docs, "text", "doc_id", num_perm=64, bands=16, threshold=0.5,
            max_bucket_size=None,
        ).collect()
    )
    assert with_cap == no_cap


def test_ngram_jaccard_pairs(spark):
    docs = _docs(spark)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_embedding_near_dedup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),  # near dup of 0
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dedup(df, "embedding", "vec_id", threshold=0.99)
    ids = sorted(r.vec_id for r in out.collect())
    assert ids == [0, 2]


def test_brute_force_topk_and_lsh_recall(spark):
    import math

    rows = [
        (i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.1 * (i % 3)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[5][1]
    exact = brute_force_topk(df, "embedding", "vec_id", q, k=5)
    ids = [r.vec_id for r in exact.collect()]
    assert ids[0] == 5  # the query vector itself is most similar
    approx = lsh_bucketed_topk(df, "embedding", "vec_id", q, k=5, planes=6)
    got = {r.vec_id for r in approx.collect()}
    assert 5 in got
    assert len(got & set(ids)) >= 3  # multi-probe recall on easy data


def test_pairwise_topk_join(spark):
    rows = [(i, [1.0, float(i % 5) / 10]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pairwise_topk_join(df, df, "embedding", "vec_id", "vec_id", k=3)
    first = out.filter(F.col("vec_id") == 0)
    assert first.count() <= 3 * 20  # bounded per left row after window


def test_pairwise_topk_join_exact_single_bucket(spark):
    # planes=0 → one bucket → the cogroup matmul join must be EXACT:
    # equal to brute-force top-k per vector (self-pair included, cos=1)
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = {
        (r.vec_id, r.vec_id_nn)
        for r in pairwise_topk_join(
            df, df, "embedding", "vec_id", "vec_id", k=3, planes=0
        ).collect()
    }
    n = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = n @ n.T
    want = set()
    for i in range(40):
        order = sorted(range(40), key=lambda j: (-sims[i, j], j))[:3]
        want |= {(i, j) for j in order}
    assert out == want


def test_portable_lsh_matches_gaussian_contract(spark):
    # portable ±1-plane buckets: deterministic, expression-only, and the
    # query's own bucket always collides → the query id is always returned
    import math

    from orientdb_etl_spark.functions.similarity import (
        add_lsh_buckets_portable,
        lsh_bucketed_topk_portable,
    )

    rows = [
        (i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.1 * (i % 3)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b1 = {r.vec_id: r.lsh_bucket for r in add_lsh_buckets_portable(df, "embedding").collect()}
    b2 = {r.vec_id: r.lsh_bucket for r in add_lsh_buckets_portable(df, "embedding").collect()}
    assert b1 == b2  # deterministic across runs
    assert all(0 <= b < 256 for b in b1.values())
    got = lsh_bucketed_topk_portable(df, "embedding", "vec_id", 5, k=5).collect()
    assert got[0].vec_id == 5 and abs(got[0].cosine_sim - 1.0) < 1e-9


def test_bm25_ranks_matching_doc_first(spark):
    from orientdb_etl_spark.functions.text import bm25_scores

    df = spark.createDataFrame(
        [
            (0, "spark spark spark window"),
            (1, "spark window"),
            (2, "nothing relevant here at all"),
            (3, "window"),
        ],
        "doc_id long, text string",
    )
    out = bm25_scores(df, "text", "doc_id", ["spark", "window"], k=4).collect()
    assert [r.doc_id for r in out][:2] == [0, 1]  # tf-heavy doc wins
    assert out[-1].doc_id == 2 and out[-1].bm25 == 0.0
    with pytest.raises(ValueError):
        bm25_scores(df, "text", "doc_id", [])
    with pytest.raises(ValueError):
        bm25_scores(df, "text", "doc_id", ["bad'term"])


def test_minhash_portable_identical_docs_share_signature(spark):
    from orientdb_etl_spark.functions.dedup import minhash_signatures_portable

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps"), (1, "the quick brown fox jumps"),
         (2, "a completely different document")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: tuple(r.minhash) for r in
            minhash_signatures_portable(df, "text", num_perm=8).collect()}
    assert sigs[0] == sigs[1] != sigs[2]
    assert len(sigs[0]) == 8 and all(v >= 0 for v in sigs[0])


def test_token_count_edge_cases(spark):
    df = spark.createDataFrame(
        [(0, "a b  c"), (1, ""), (2, "   "), (3, None), (4, "single")],
        "id long, text string",
    )
    rows = {r.id: r.n for r in df.select("id", token_count("text").alias("n")).collect()}
    assert rows == {0: 3, 1: 0, 2: 0, 3: 0, 4: 1}


def _reference_metrics(text):
    """The four text-metric formulas over plain Python strings. Spark's
    ``trim`` strips spaces only and Java's ``\\s`` is ASCII whitespace."""
    import hashlib
    import re

    ws, stop = "[ \t\n\x0b\f\r]+", {
        "en": {"the", "and", "of", "to", "in", "is", "that", "it", "was", "for"},
        "de": {"der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"},
        "fr": {"le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"},
        "es": {"el", "la", "los", "de", "que", "y", "en", "un", "por", "con"},
    }
    trimmed = (text or "").strip(" ")
    toks = re.split(ws, trimmed) if trimmed else []
    words = set(re.split(ws, trimmed.lower()))
    overlap = {lang: len(words & sw) for lang, sw in stop.items()}
    best = max(overlap.values())
    lang = next(k for k, v in overlap.items() if v == best) if best else "und"
    if text is None:
        return len(toks), None, lang, None
    n, punct = len(text), sum(1 for ch in text if ch in _ASCII_PUNCT)
    alpha = sum(1 for t in toks if re.fullmatch("[A-Za-z]+", t))
    mean_wl = n / len(toks) if toks else 0.0
    quality = (
        min(n / 500.0, 1.0)
        + (1 - (punct / n if n else 0.0))
        + (alpha / len(toks) if toks else 0.0)
        + (1.0 if 2 <= mean_wl <= 12 else 0.0)
    ) / 4
    canon = re.sub(ws, " ", re.sub("[^a-z0-9 \t\n\x0b\f\r]", "", text.lower()))
    return len(toks), quality, lang, hashlib.md5(canon.strip(" ").encode()).hexdigest()


_ASCII_PUNCT = "".join(chr(c) for c in range(33, 127) if not chr(c).isalnum())

_DEGENERATE_TEXTS = [
    None, "", "   ", "alpha\tbeta\ngamma", "one\ttwo three", "the end\n",
    "İstanbul", "!!! ### ... $$", "der die the and", "  the quick  brown fox  ",
    "abc\u2028 def", "Hello, World! 42",
]


def test_quality_and_langid(spark):
    docs = _docs(spark)
    out = add_text_metrics(docs)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[0].lang_pred == "en"
    assert rows[3].lang_pred == "de"
    assert 0.0 <= rows[0].quality <= 1.0
    assert rows[0].fingerprint == rows[1].fingerprint
    assert rows[0].n_tokens == len(BASE.split())
    assert out.columns == ["doc_id", "text", "n_tokens", "quality", "lang_pred", "fingerprint"]

    # degenerate inputs, against the pure-Python reference, both through
    # the staged projection pair and through the single column functions
    df = spark.createDataFrame(list(enumerate(_DEGENERATE_TEXTS)), "doc_id long, text string")
    staged = add_text_metrics(df).select(
        "doc_id", "n_tokens", "quality", "lang_pred", "fingerprint"
    )
    single = df.select(
        "doc_id", token_count("text"), quality_score("text"), language_id("text"),
        doc_fingerprint("text"),
    )
    for got in (staged, single):
        for r in got.collect():
            n, quality, lang, fp = _reference_metrics(_DEGENERATE_TEXTS[r[0]])
            assert (r[1], r[3], r[4]) == (n, lang, fp), _DEGENERATE_TEXTS[r[0]]
            assert r[2] == pytest.approx(quality, abs=1e-12)
    assert {r.doc_id: r.lang_pred for r in staged.collect()}[8] == "en"  # the tie


def test_fingerprint_canonicalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello,  World!"), (1, "hello world")], "id long, text string"
    )
    fps = [r.fp for r in df.select(doc_fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_ivf_topk_recall_vs_brute(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.randn(300, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[7]]
    from orientdb_etl_spark.functions.similarity import brute_force_topk, ivf_topk

    exact = [r.vec_id for r in brute_force_topk(df, "embedding", "vec_id", q, k=5).collect()]
    approx = ivf_topk(df, "embedding", "vec_id", q, k=5, nlist=8, nprobe=4).collect()
    got = {r.vec_id for r in approx}
    assert 7 in got  # the query vector itself must be found
    assert len(got & set(exact)) >= 3  # nprobe=half the cells → high recall


def test_ivf_assign_deterministic(spark):
    import numpy as np

    rng = np.random.RandomState(1)
    vecs = rng.randn(100, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    from orientdb_etl_spark.functions.similarity import ivf_assign, ivf_index

    cents = ivf_index(df, "embedding", nlist=4)
    a1 = {r.vec_id: r.ivf_cell for r in ivf_assign(df, "embedding", cents).collect()}
    a2 = {r.vec_id: r.ivf_cell for r in ivf_assign(df, "embedding", cents).collect()}
    assert a1 == a2 and set(a1.values()) == {0, 1, 2, 3}


def test_ivf_centroids_invariant_under_repartition(spark):
    """ivf_index's seeded sample is a content-hash prefix, so centroids
    must be bit-identical across any repartition of the input (the old
    limit()-based sample depended on partition layout order)."""
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(200, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    from orientdb_etl_spark.functions.similarity import ivf_index

    c1 = ivf_index(df.repartition(7), "embedding", nlist=4, seed=11)
    c2 = ivf_index(df.repartition(3, "vec_id"), "embedding", nlist=4, seed=11)
    c3 = ivf_index(df.coalesce(1), "embedding", nlist=4, seed=11)
    assert np.array_equal(c1, c2) and np.array_equal(c1, c3)
    # and a capped sample stays a genuine subset even when sample_size < n
    c4 = ivf_index(df.repartition(5), "embedding", nlist=4, seed=11, sample_size=64)
    c5 = ivf_index(df.repartition(2), "embedding", nlist=4, seed=11, sample_size=64)
    assert np.array_equal(c4, c5)


def test_pq_topk_recall_vs_brute(spark):
    """PQ/ADC top-k: the query's own vector must rank first (its code
    reconstructs closest to itself) and overlap@5 with exact cosine must
    be high at this codebook size. Codes are m ints per vector — the
    32× scan-compression story — so this also pins that ranking survives
    quantization."""
    import numpy as np

    rng = np.random.RandomState(5)
    vecs = rng.randn(300, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[7]]
    from orientdb_etl_spark.functions.similarity import brute_force_topk, pq_topk

    exact = [
        r.vec_id
        for r in brute_force_topk(df, "embedding", "vec_id", q, k=5).collect()
    ]
    approx = pq_topk(df, "embedding", "vec_id", q, k=5, m=4, ksub=32).collect()
    got = [r.vec_id for r in approx]
    assert got[0] == 7  # the query vector itself wins under ADC
    assert len(set(got) & set(exact)) >= 3


def test_pq_rerank_recovers_exact_order(spark):
    """ADC shortlist + exact re-rank: with a shortlist comfortably wider
    than k, the returned top-k must EQUAL exact cosine top-k (same ids,
    same order) — quantization error survives only in shortlist
    membership, never in final ordering."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = rng.randn(400, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[3]]
    from orientdb_etl_spark.functions.similarity import brute_force_topk, pq_topk

    exact = [
        r.vec_id
        for r in brute_force_topk(df, "embedding", "vec_id", q, k=5).collect()
    ]
    got = [
        r.vec_id
        for r in pq_topk(
            df, "embedding", "vec_id", q, k=5, m=4, ksub=64, rerank=10
        ).collect()
    ]
    assert got == exact


def test_ivfpq_topk_composition(spark):
    """IVF-PQ: cell pruning composed with compressed-domain ADC + exact
    rerank. The query's own vector must be found and overlap with exact
    must stay high at nprobe=half the cells."""
    import numpy as np

    rng = np.random.RandomState(13)
    vecs = rng.randn(300, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[21]]
    from orientdb_etl_spark.functions.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    exact = [
        r.vec_id
        for r in brute_force_topk(df, "embedding", "vec_id", q, k=5).collect()
    ]
    got = [
        r.vec_id
        for r in ivfpq_topk(
            df, "embedding", "vec_id", q,
            k=5, nlist=8, nprobe=4, m=4, ksub=64, rerank=10,
        ).collect()
    ]
    assert got[0] == 21
    assert len(set(got) & set(exact)) >= 3


def test_pq_codebooks_layout_invariant_and_validated(spark):
    import numpy as np
    import pytest

    from orientdb_etl_spark.functions.similarity import pq_encode, pq_train

    rng = np.random.RandomState(9)
    vecs = rng.randn(150, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(150)],
        "vec_id long, embedding array<double>",
    )
    c1 = pq_train(df.repartition(5), "embedding", m=4, ksub=8, seed=3)
    c2 = pq_train(df.repartition(2, "vec_id"), "embedding", m=4, ksub=8, seed=3)
    assert c1.shape == (4, 8, 2) and np.array_equal(c1, c2)
    codes = {r.vec_id: r.pq_code
             for r in pq_encode(df, "embedding", c1).collect()}
    assert len(codes) == 150
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c)
               for c in codes.values())
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, "embedding", m=3)


def test_lsh_multiprobe_radius_generalizes():
    """_bucket_of honors any radius exactly: probe count is sum of
    C(planes, r) for r<=hamming, radius 3 is no longer silently radius 2,
    and out-of-range radii raise instead of silently truncating."""
    from math import comb

    import pytest as _pytest

    from orientdb_etl_spark.functions.similarity import _bucket_of

    q = [0.3, -1.2, 0.8, 0.1]
    for radius in (0, 1, 2, 3, 6):
        probes = _bucket_of(q, planes=6, seed=7, hamming=radius)
        expect = sum(comb(6, r) for r in range(radius + 1))
        assert len(probes) == len(set(probes)) == expect
    r2 = set(_bucket_of(q, planes=6, seed=7, hamming=2))
    r3 = set(_bucket_of(q, planes=6, seed=7, hamming=3))
    assert r2 < r3  # radius 3 strictly widens the probe set
    with _pytest.raises(ValueError):
        _bucket_of(q, planes=6, seed=7, hamming=7)
    with _pytest.raises(ValueError):
        _bucket_of(q, planes=6, seed=7, hamming=-1)


def test_pii_scrub_patterns(spark):
    from orientdb_etl_spark.functions.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail bob@x.org ip 10.0.0.1 tel +1 (555) 123-4567 end")],
        "id int, text string",
    )
    out = df.select(pii_scrub("text").alias("t")).first().t
    assert "<EMAIL>" in out and "<IP>" in out and "<PHONE>" in out
    assert "bob@" not in out and "10.0.0.1" not in out


def test_repetition_ratio_values(spark):
    from orientdb_etl_spark.functions.text import repetition_ratio
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a\nb\nc"), (2, "a\na\na\na"), (3, "only one line")],
        "id int, text string",
    )
    got = {r.id: round(r.r, 4) for r in df.select("id", repetition_ratio("text").alias("r")).collect()}
    assert got == {1: 0.0, 2: 0.75, 3: 0.0}


def test_chunk_documents_windows(spark):
    from orientdb_etl_spark.functions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    df = spark.createDataFrame([(1, text), (2, "short doc")], "doc_id int, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=64, overlap=16)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 1: starts at tokens 1 and 49 → 2 chunks; second has 100-49+1=52 tokens
    assert (1, 0) in rows and (1, 1) in rows and (2, 0) in rows
    assert rows[(1, 0)].n_tokens == 64 and rows[(1, 1)].n_tokens == 52
    assert rows[(2, 0)].chunk_text == "short doc" and rows[(2, 0)].n_tokens == 2
    # overlap: chunk 1 ends with w63; chunk 2 starts at w48
    assert rows[(1, 0)].chunk_text.endswith("w63")
    assert rows[(1, 1)].chunk_text.startswith("w48")


def test_line_dup_stats_and_strip(spark):
    from orientdb_etl_spark.functions.text import (
        line_dup_stats,
        strip_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha\nfooter\n\nbody one"),
            (2, "beta\nfooter\nbody two"),
            (3, "gamma\nFOOTER IS NOT footer\nbody three"),
        ],
        "doc_id long, text string",
    )
    stats = {r.doc_id: (r.n_lines, r.n_common) for r in
             line_dup_stats(docs, min_docs=2).collect()}
    # blank line in doc 1 is ignored; only 'footer' is corpus-common
    assert stats == {1: (3, 1), 2: (3, 1), 3: (3, 0)}

    out = {r.doc_id: r.text for r in strip_boilerplate_lines(docs, min_docs=2).collect()}
    assert out[1] == "alpha\n\nbody one"       # order + blank preserved
    assert out[2] == "beta\nbody two"
    assert out[3] == "gamma\nFOOTER IS NOT footer\nbody three"


def test_unigram_logprob_hand_computed(spark):
    import math

    from orientdb_etl_spark.functions.text import unigram_logprob_score

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")],
        "doc_id long, text string",
    )
    # corpus counts: a=2, b=2, c=1; total=5
    got = {r.doc_id: (r.n_tokens, r.mean_logprob)
           for r in unigram_logprob_score(docs).collect()}
    lp = lambda n: math.log(n) - math.log(5)
    assert got[1][0] == 3
    assert got[1][1] == round((2 * lp(2) + lp(2)) / 3, 4)
    assert got[2][1] == round((lp(2) + lp(1)) / 2, 4)


def test_lsh_bucket_stats_detects_hot_bucket(spark):
    """A 30-copy boilerplate group must show up as over-cap buckets in
    every band when the cap is below the group size, and as zero over-cap
    buckets when the cap is above it."""
    from orientdb_etl_spark.functions.dedup import lsh_bucket_stats

    rows = [(i, BASE) for i in range(30)] + [
        (100 + i, f"unique document number {i} with its own words") for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hot = lsh_bucket_stats(
        docs, "text", "doc_id", num_perm=64, bands=16, max_bucket_size=10
    ).first()
    assert hot.n_over_cap == 16  # the hot group's bucket in every band
    assert hot.max_bucket >= 30
    assert hot.rows_in_capped >= 16 * 30
    cold = lsh_bucket_stats(
        docs, "text", "doc_id", num_perm=64, bands=16, max_bucket_size=50
    ).first()
    assert cold.n_over_cap == 0 and cold.rows_in_capped == 0


def test_bucket_cap_bounds_candidates_but_keeps_normal_dups(spark):
    """With a hot group above the cap, its quadratic candidates are
    dropped (bounded work — the documented trade) while ordinary dup
    pairs below the cap still collapse."""
    rows = [(i, BASE + " boilerplate footer text") for i in range(25)] + [
        (200, "a perfectly ordinary sentence about distributed joins"),
        (201, "a perfectly ordinary sentence about distributed joins"),
        (300, "some entirely different third topic with different words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_dedup(
        docs, "text", "doc_id", num_perm=64, bands=16,
        threshold=0.5, max_bucket_size=10,
    )
    ids = sorted(r.doc_id for r in out.collect())
    assert 201 not in ids and 200 in ids  # normal dup still collapses
    assert set(range(25)) <= set(ids)  # capped hot group skipped, kept whole
    out2 = minhash_lsh_dedup(
        docs, "text", "doc_id", num_perm=64, bands=16,
        threshold=0.5, max_bucket_size=1000,
    )
    ids2 = sorted(r.doc_id for r in out2.collect())
    assert ids2[:1] == [0] and set(range(1, 25)).isdisjoint(ids2)


def test_multiprobe_hamming2_recall_not_worse(spark):
    """Hamming-2 multiprobe scans a superset of the Hamming-1 probe set,
    so its top-k overlap with the exact baseline can only grow."""
    import numpy as np

    rng = np.random.RandomState(11)
    vecs = [(i, rng.standard_normal(16).tolist()) for i in range(120)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = vecs[0][1]
    exact = {r.vec_id for r in brute_force_topk(df, "embedding", "vec_id", q, k=10).collect()}
    h1 = {r.vec_id for r in lsh_bucketed_topk(df, "embedding", "vec_id", q, k=10, hamming=1).collect()}
    h2 = {r.vec_id for r in lsh_bucketed_topk(df, "embedding", "vec_id", q, k=10, hamming=2).collect()}
    assert len(h2 & exact) >= len(h1 & exact)


def test_corpus_dedup_pipeline_collapses_hot_key_under_cap(spark):
    """The staged pipeline's whole point: an exact-dup group ABOVE the LSH
    bucket cap still collapses (exact stage is linear, cap-free), while
    LSH-only dedup with the same cap would skip it."""
    from orientdb_etl_spark.functions.dedup import corpus_dedup_pipeline

    rows = [(i, BASE + " boilerplate footer") for i in range(25)] + [
        (200, "an ordinary sentence about distributed joins and shuffles"),
        (201, "an ordinary sentence about distributed joins and shuffles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus_dedup_pipeline(
        docs, "text", "doc_id", num_perm=64, bands=16,
        threshold=0.5, max_bucket_size=10,
    )
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 200]  # hot group -> min id; ordinary dup -> min id


def test_gopher_quality_flags_rules(spark):
    """Hand-checked Gopher rules: a well-formed 60-word doc passes; an
    empty doc fails word-based rules with FALSE (not NULL); a bullet/
    ellipsis-heavy doc trips the line rules; a symbol-heavy doc trips
    the symbol ratio."""
    from orientdb_etl_spark.functions.text import gopher_quality_flags

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog have with and"] * 6
    )
    bullets = "- one ...\n- two ...\n- three ..."
    symbols = "tok " * 20 + "#### #### #### ####"
    df = spark.createDataFrame(
        [(0, good), (1, ""), (2, bullets), (3, symbols)],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.g.asDict()
        for r in df.select(
            "doc_id", gopher_quality_flags("text").alias("g")
        ).collect()
    }
    assert rows[0]["passes"] is True
    assert rows[1]["word_count_ok"] is False  # FALSE, never NULL
    assert rows[1]["alpha_ok"] is False and rows[1]["passes"] is False
    assert rows[2]["bullet_ok"] is False and rows[2]["ellipsis_ok"] is False
    assert rows[3]["symbol_ratio_ok"] is False


def test_ngram_repetition_ratio_hand_computed(spark):
    from orientdb_etl_spark.functions.text import ngram_repetition_ratio

    df = spark.createDataFrame(
        [
            (0, "a b a b a b"),      # 2-grams: ab ba ab ba ab -> 2 distinct of 5
            (1, "one two three four"),  # all distinct
            (2, "x"),                 # fewer words than n -> 0.0
            (3, ""),                  # empty -> 0.0
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (round(r.r2, 4), round(r.r3, 4))
        for r in df.select(
            "doc_id",
            ngram_repetition_ratio("text", 2).alias("r2"),
            ngram_repetition_ratio("text", 3).alias("r3"),
        ).collect()
    }
    assert out[0][0] == round(1 - 2 / 5, 4)
    # 3-grams of doc 0: aba bab aba bab -> 2 distinct of 4
    assert out[0][1] == round(1 - 2 / 4, 4)
    assert out[1] == (0.0, 0.0)
    assert out[2] == (0.0, 0.0)
    assert out[3] == (0.0, 0.0)


def test_c4_line_filter_rules(spark):
    from orientdb_etl_spark.functions.text import c4_line_filter

    text = "\n".join([
        "This sentence is perfectly fine.",
        "too short.",                                  # < 3 words
        "no terminal punctuation on this long line",   # no . ! ? "
        "if (x) { return y; }",                        # brace
        "We use JavaScript on this site.",             # blocklist
        'He said "this quoted line is kept too."',     # ends with quote
    ])
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    row = df.select(c4_line_filter("text").alias("c")).first().c
    assert row.n_lines == 6 and row.n_kept == 2
    kept = row.text.split("\n")
    assert kept == [
        "This sentence is perfectly fine.",
        'He said "this quoted line is kept too."',
    ]
    loose = df.select(
        c4_line_filter("text", min_words=1, require_terminal_punct=False).alias("c")
    ).first().c
    assert loose.n_kept == 4  # only brace + blocklist lines drop


def test_curate_corpus_stages_compose(spark):
    """Each curation stage observable end-to-end: line cleaning rewrites
    text, quality filtering drops the spam doc, dedup collapses exact
    copies to min id, token counts reflect the CLEANED text."""
    from orientdb_etl_spark.functions.curation import curate_corpus

    good = "This is a perfectly normal sentence for the corpus."
    rows = [
        (0, good + "\nif (x) { bad(); }"),   # brace line cleaned away
        (1, good + "\nif (x) { bad(); }"),   # exact dup after cleaning
        (2, "#### #### #### #### spam"),     # fails symbol ratio
        (3, "Another fine document with plenty of ordinary words here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curate_corpus(
        df, "text", "doc_id", near_dup_threshold=None
    ).collect()}
    assert set(out) == {0, 3}               # dup 1 collapsed, spam 2 dropped
    assert out[0].text == good              # brace line removed
    assert out[0].n_tokens == len(good.split())


def test_curate_corpus_strip_span_window(spark):
    """With strip_span_window set the surviving corpus additionally gets
    the all-but-one exact-substring remediation: a 4-token span lifted
    into an otherwise-unique doc is rewritten out of the non-owner, and
    a doc emptied by the rewrite is dropped entirely."""
    from orientdb_etl_spark.functions.curation import curate_corpus

    span = "alpha bravo charlie delta"
    rows = [
        (0, f"Document one contains the {span} span plus unique tail words."),
        (1, f"Completely different opening here then {span} appears again."),
        (2, span.capitalize()),  # nothing BUT the span -> emptied, dropped
        (3, "An ordinary unique document with no shared content at all."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curate_corpus(
        df, "text", "doc_id",
        min_words_per_line=1, require_terminal_punct=False,
        near_dup_threshold=None, strip_span_window=4,
    ).collect()}
    assert set(out) == {0, 1, 3}            # doc 2 emptied by the strip
    assert span in out[0].text.lower()      # min-id owner keeps the span
    assert span not in out[1].text.lower()  # non-owner loses it
    assert out[1].n_tokens == len(out[1].text.split())
    # without the knob all four docs survive the same relaxed filters
    base = curate_corpus(
        df, "text", "doc_id",
        min_words_per_line=1, require_terminal_punct=False,
        near_dup_threshold=None,
    )
    assert base.count() == 4


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# --------------------------------------------------------------------------


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_semantic_dedup_drops_planted_copies(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    # two well-separated clouds + exact-scale copies of three members
    base = []
    for i in range(20):
        v = rng.normal(0, 0.05, 8)
        v[0] += 1.0  # cloud A hugs e0
        base.append((i, [float(x) for x in v]))
    for i in range(20, 40):
        v = rng.normal(0, 0.05, 8)
        v[3] += 1.0  # cloud B hugs e3
        base.append((i, [float(x) for x in v]))
    copies = [(i + 1000, [x * 1.01 for x in v]) for i, v in base if i % 10 == 0]
    docs = _emb(spark, base + copies)
    from orientdb_etl_spark.functions.dedup import semantic_dedup

    out = semantic_dedup(
        docs, "v", "vec_id", nlist=4, threshold=0.999, survivor="bucket_min"
    )
    ids = sorted(r.vec_id for r in out.collect())
    # scaled copies are cosine-identical to their source -> all dropped;
    # the tightest natural pair in these clouds is ~0.9975 < 0.999
    assert ids == list(range(40))


def test_semantic_dedup_semdedup_policy_keeps_farthest_from_centroid(spark):
    import numpy as np

    # explicit centroids: cell 0 hugs e0, cell 1 hugs e1. The planted dup
    # pair lives in cell 0; member 11 sits FARTHER from the centroid
    # (ccos 0.958) than member 12 (ccos 0.995) -> SemDeDup keeps 11 even
    # though bucket_min/min-id would keep it too; so add pair (21, 22)
    # where the LARGER id is farther and must be the keeper.
    cents = np.eye(2, 8)
    rows = [
        (11, [1.0, 0.0, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (12, [1.0, 0.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (21, [0.0, 1.0, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]),
        (22, [0.0, 1.0, 0.0, 0.0, 0.3, 0.0, 0.0, 0.0]),
        (30, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5]),
    ]
    docs = _emb(spark, rows)
    from orientdb_etl_spark.functions.dedup import semantic_dedup

    out = semantic_dedup(
        docs, "v", "vec_id", threshold=0.97, survivor="semdedup",
        centroids=cents,
    )
    ids = sorted(r.vec_id for r in out.collect())
    # (11,12): keep 11 (farther). (21,22): keep 22 (farther, larger id —
    # distinguishes the policy from min-id). 30 pairs with nothing
    # (cos(22,30)=0.895 < 0.97) and survives untouched.
    assert ids == [11, 22, 30]


def test_semantic_dedup_layout_independent(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    for i in range(60):
        v = rng.normal(0, 1, 8)
        rows.append((i, [float(x) for x in v]))
    rows += [(i + 500, [x * 1.02 for x in v]) for i, v in rows[:6]]
    docs = _emb(spark, rows)
    from orientdb_etl_spark.functions.dedup import semantic_dedup

    a = semantic_dedup(docs, "v", "vec_id", nlist=4, threshold=0.995)
    b = semantic_dedup(
        docs.repartition(7), "v", "vec_id", nlist=4, threshold=0.995
    )
    ia = sorted(r.vec_id for r in a.collect())
    ib = sorted(r.vec_id for r in b.collect())
    assert ia == ib  # centroids + survivors independent of partition layout
    # exactly one member of each planted (source, copy) pair survives —
    # under the semdedup keep policy a cosine-identical copy may win the
    # farthest-from-centroid tie, so assert the pair count, not which one
    sa = set(ia)
    assert len(ia) == 60
    for i in range(6):
        assert ({i, i + 500} & sa) != {i, i + 500} and ({i, i + 500} & sa)


def test_semantic_dedup_cluster_cap_guards_degenerate_cells(spark):
    # 50 identical vectors collapse into one cell; with the cap below the
    # cell size the cell is dropped (no pairs, everything survives)
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    rows.append((100, [0.0, 1.0, 0.0, 0.0]))
    docs = _emb(spark, rows)
    from orientdb_etl_spark.functions.dedup import semantic_dedup

    import numpy as np

    cents = np.eye(2, 4)
    capped = semantic_dedup(
        docs, "v", "vec_id", threshold=0.99, centroids=cents,
        max_cluster_size=10, survivor="bucket_min",
    )
    assert capped.count() == 51
    uncapped = semantic_dedup(
        docs, "v", "vec_id", threshold=0.99, centroids=cents,
        max_cluster_size=None, survivor="bucket_min",
    )
    assert uncapped.count() == 2


# --------------------------------------------------------------------------
# incremental (cross-snapshot) near-dedup
# --------------------------------------------------------------------------


def test_incremental_near_dedup_drops_cross_snapshot_near_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before nightfall arrives"
    )
    seen = spark.createDataFrame([(0, base)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (1, base + " indeed"),          # near-dup of seen -> dropped
            (2, "completely different content about spark physical plans "
                "and shuffle partitioning strategies at scale"),
            (3, "completely different content about spark physical plans "
                "and shuffle partitioning strategies at scale"),  # exact dup WITHIN new: not this stage's job
        ],
        "doc_id long, text string",
    )
    from orientdb_etl_spark.functions.dedup import incremental_near_dedup

    out = incremental_near_dedup(new, seen, "text", "doc_id", threshold=0.6)
    ids = sorted(r.doc_id for r in out.collect())
    # 1 matches seen and is dropped; 2 and 3 both survive — within-new
    # dedup is minhash_lsh_dedup/exact_dedup's job, this stage only
    # guards against re-admitting already-curated content
    assert ids == [2, 3]

    flagged = incremental_near_dedup(
        new, seen, "text", "doc_id", threshold=0.6, mode="flag"
    )
    got = {r.doc_id: r.near_seen for r in flagged.collect()}
    assert got == {1: True, 2: False, 3: False}


def test_incremental_near_dedup_cap_and_seen_collapse(spark):
    # the seen side collapses identical texts to ONE keyed row (30 copies
    # -> 1 banded row), so a boilerplate-heavy curated corpus does not by
    # itself blow a bucket; the new side is NOT collapsed, so 50 identical
    # new docs + the seen row push the combined occupancy over the cap ->
    # bucket dropped, everything survives. Without the cap all 50 match.
    boiler = "boilerplate header repeated verbatim on every single page " * 3
    seen = spark.createDataFrame(
        [(i, boiler) for i in range(30)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100 + i, boiler) for i in range(50)], "doc_id long, text string"
    )
    from orientdb_etl_spark.functions.dedup import incremental_near_dedup

    capped = incremental_near_dedup(
        new, seen, "text", "doc_id", threshold=0.6, max_bucket_size=40
    )
    assert capped.count() == 50  # 50 new + 1 collapsed seen > cap
    uncapped = incremental_near_dedup(
        new, seen, "text", "doc_id", threshold=0.6, max_bucket_size=None
    )
    assert uncapped.count() == 0  # one seen row still blocks all 50


def test_connected_components_self_loop_vertex_kept(spark):
    """A vertex whose only incident pair is a self-loop must still appear
    in the label table (label = itself) — the general graph CC operator
    accepts self-loops even though dedup pair streams never emit them."""
    from orientdb_etl_spark.functions.dedup import connected_component_labels

    pairs = spark.createDataFrame(
        [(1, 2), (3, 3)], "keep_id long, dup_id long"
    )
    labels = {r.id: r.label for r in connected_component_labels(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 3}


def test_normalize_text_nfc_and_controls(spark):
    from orientdb_etl_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [
            (0, "café bar"),               # combining acute
            (1, "Ångström"),          # ring + diaeresis
            (2, "ctl\x00\x1fhere\tkeep\nme"),
            (3, "plain ascii"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in normalize_text(df).collect()}
    assert out[0] == "café bar"              # precomposed
    assert out[1] == "Ångström"
    assert out[2] == "ctlhere\tkeep\nme"          # C0 stripped, \t\n kept
    assert out[3] == "plain ascii"                # identity on ASCII
    assert out[4] is None

    # NFKC folds compatibility forms (ligature fi -> fi)
    k = normalize_text(
        spark.createDataFrame([(0, "ﬁle")], "doc_id long, text string"),
        form="NFKC",
    ).first().text
    assert k == "file"

    import pytest

    with pytest.raises(ValueError, match="unknown normalization"):
        normalize_text(df, form="NFX")


# ---------------------------------------------------------------------------
# data-quality expectations (functions/expectations.py)


def test_expectations_single_pass_report(spark):
    from orientdb_etl_spark.functions.expectations import check_expectations

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 7.0), (3, None, -1.0), (3, "a", 2.0)],
        "id int, tag string, score double",
    )
    report = check_expectations(
        df,
        [
            {"type": "row_count", "min": 2, "max": 10},
            {"type": "not_null", "column": "tag", "minFraction": 0.9},
            {"type": "unique", "column": "id"},
            {"type": "min", "column": "score", "atLeast": 0.0},
            {"type": "in_set", "column": "tag", "values": ["a", "b"],
             "minFraction": 0.75},
            {"type": "satisfies", "predicate": "score < 100"},
        ],
    ).collect()
    by_name = {(r.constraint, r.column): r for r in report}
    assert len(report) == 6
    assert by_name[("row_count", "")].passed
    assert by_name[("row_count", "")].observed == 4.0
    # 3/4 non-null < 0.9 -> fail
    assert not by_name[("not_null", "tag")].passed
    assert by_name[("not_null", "tag")].observed == 0.75
    # id=3 duplicated -> fail, observed = 3 distinct
    assert not by_name[("unique", "id")].passed
    assert by_name[("unique", "id")].observed == 3.0
    assert not by_name[("min", "score")].passed
    assert by_name[("in_set", "tag")].passed
    assert by_name[("satisfies", "score < 100")].passed


def test_expectations_assert_raises_and_passes_through(spark):
    from orientdb_etl_spark.functions.expectations import assert_expectations

    df = spark.createDataFrame([(1,), (2,)], "id int")
    out = assert_expectations(df, [{"type": "unique", "column": "id"}])
    assert out is df
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expectation"):
        assert_expectations(
            df, [{"type": "row_count", "min": 5}]
        )


def test_expectations_one_exchange(spark):
    """The whole constraint list must compile to a single aggregation:
    exactly one exchange (the 1-row partial-agg gather) and no Expand
    when approx=True replaces the exact distinct."""
    from orientdb_etl_spark.functions.expectations import check_expectations

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    )
    cons = [
        {"type": "unique", "column": "id"},
        {"type": "not_null", "column": "k"},
        {"type": "min", "column": "k", "atLeast": 0},
    ]
    plan_exact = check_expectations(df, cons)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan_exact.count("Exchange (") == 1
    plan_approx = check_expectations(df, cons, approx=True)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan_approx.count("Exchange (") == 1
    assert "Expand" not in plan_approx


# ---------------------------------------------------------------------------
# hybrid retrieval (functions/retrieval.py)


def test_rrf_fuse_math_and_shape(spark):
    from orientdb_etl_spark.functions.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 0.9), (2, 0.8), (3, 0.7)], "id int, s double")
    b = spark.createDataFrame([(2, 0.99), (4, 0.5)], "id int, s double")
    out = rrf_fuse(
        [
            (a, "id", [F.col("s").desc(), F.col("id").asc()]),
            (b, "id", [F.col("s").desc(), F.col("id").asc()]),
        ],
        k=10, k_rrf=60,
    ).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 2: rank 2 lexically, rank 1 densely
    assert abs(by_id[2].rrf_score - (1 / 62 + 1 / 61)) < 1e-12
    assert by_id[2].rank_0 == 2 and by_id[2].rank_1 == 1
    # doc 4 only in list b
    assert by_id[4].rank_0 is None and by_id[4].rank_1 == 2
    assert abs(by_id[4].rrf_score - 1 / 62) < 1e-12
    # fused order: doc 2 first (appears high in both)
    assert out[0].doc_id == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([], k=5)


def test_hybrid_topk_contains_both_modalities(spark):
    from orientdb_etl_spark.functions.retrieval import hybrid_topk

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    out = hybrid_topk(
        docs, "text", "doc_id", emb, "embedding", "vec_id",
        ["spark", "table"], qv, k=10, depth=20,
    ).collect()
    assert len(out) == 10
    # the dense query vector is vec_id=0's own embedding: doc 0 must rank
    # first on the dense side and therefore appear in the fused list
    zero = [r for r in out if r.doc_id == 0]
    assert zero and zero[0].cosine_rank == 1
    # at least one fused row came from the lexical list
    assert any(r.bm25_rank is not None for r in out)


def test_bigram_logprob_orders_fluency(spark):
    """Transition-implausible word salad must score below text whose
    bigrams repeat across the corpus, even with identical unigrams."""
    from orientdb_etl_spark.functions.text import bigram_logprob_score

    fluent = "the cat sat on the mat"
    rows = [(i, fluent) for i in range(10)]
    # same words as the fluent sentence, scrambled differently per doc
    rows += [(100, "mat the on sat cat the"), (101, "sat mat the cat on the")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in bigram_logprob_score(df).collect()}
    assert out[0].n_bigrams == 5
    fluent_score = out[0].mean_logprob
    assert out[100].mean_logprob < fluent_score
    assert out[101].mean_logprob < fluent_score
    # docs with < 2 tokens are absent
    one = spark.createDataFrame([(1, "word"), (2, "two words")],
                                "doc_id int, text string")
    got = {r.doc_id for r in bigram_logprob_score(one).collect()}
    assert got == {2}


# ---------------------------------------------------------------------------
# BPE vocabulary induction (functions/bpe.py)


def test_bpe_train_sennrich_example(spark):
    """The classic low/lower/newest/widest corpus: merges must be chosen
    by weighted count with deterministic (count desc, pair asc)
    tiebreaks, and segmentation must apply them in training order."""
    from orientdb_etl_spark.functions.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low lower lower newest newest newest newest widest")],
        "doc_id int, text string",
    )
    merges = bpe_train(docs, "text", num_merges=5)
    rows = sorted((r.step, r.pair, r.freq) for r in merges.collect())
    # step 1: 'w e' appears in lower(2) + newest(4) + widest... 'we' only
    # lower+newest = 6; verified stable across engines by the gate twin
    assert rows[0] == (1, "w e", 6)
    assert rows[1] == (2, "l o", 5)
    assert len(rows) == 5
    seg = bpe_segment(docs, merges, "text")
    sym = {tuple(r.bpe_symbols) for r in seg.collect()}
    # 'low' segments with the learned 'l o' merge
    assert ("lo", "w", "</w>") in sym


def test_bpe_train_is_one_plan_no_collect(spark):
    """Training must stay lazy: building the merges DataFrame triggers
    no Spark jobs (the per-step best pair is in-plan, not collected)."""
    from orientdb_etl_spark.functions.bpe import bpe_train

    docs = spark.createDataFrame(
        [(1, "aa bb aa bb cc")], "doc_id int, text string"
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    merges = bpe_train(docs, "text", num_merges=3)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before  # construction ran zero jobs
    assert merges.count() == 3


def test_bpe_repeated_symbol_runs(spark):
    """' a a a ' merges floor(n/2) pairs greedily left-to-right — the
    documented resume-after-replacement convention."""
    from orientdb_etl_spark.functions.bpe import bpe_segment, bpe_train

    docs = spark.createDataFrame([(1, "aaa aaa")], "doc_id int, text string")
    merges = bpe_train(docs, "text", num_merges=1)
    r = merges.first()
    assert r.pair == "a a" and r.freq == 4
    seg = bpe_segment(docs, merges, "text")
    assert tuple(seg.first().bpe_symbols) == ("aa", "a", "</w>")


def test_unigram_train_hand_example(spark):
    """Corpus 'aaaa aaaa': seed counts a=8, aa=6, aaa=4 → Viterbi picks
    aa+aa (ln(6/18)·2 beats ln(8/18)+ln(4/18)), so after Laplace the
    final counts are aa=5, a=1, aaa=1 over total 7 — hand-checkable end
    to end, including both EM iterations (iteration 2 re-picks aa+aa)."""
    import math

    from orientdb_etl_spark.functions.unigram import unigram_lm_train

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa")], "doc_id int, text string"
    )
    out = unigram_lm_train(docs, "text", max_piece_len=3, n_iter=2)
    rows = {r.piece: (r.freq, r.logp) for r in out.collect()}
    assert set(rows) == {"a", "aa", "aaa"}
    assert rows["aa"][0] == 5 and rows["a"][0] == 1 and rows["aaa"][0] == 1
    assert rows["aa"][1] == round(math.log(5 / 7), 6)
    assert rows["a"][1] == round(math.log(1 / 7), 6)


def test_unigram_train_is_lazy_and_covers_singles(spark):
    """Every character of the corpus survives as a single-char piece."""
    from orientdb_etl_spark.functions.unigram import unigram_lm_train

    docs = spark.createDataFrame(
        [(1, "spark window hash"), (2, "window hash spark")],
        "doc_id int, text string",
    )
    vocab = unigram_lm_train(docs, "text")
    pieces = {r.piece for r in vocab.collect()}
    assert set("sparkwindowhash") <= pieces


def test_unigram_prune_shrinks_vocab_protects_singles(spark):
    """prune_to keeps only the top-N multi-char pieces between EM
    iterations (count desc, piece asc) while single chars are never
    pruned; the final vocabulary reflects the SURVIVING set only."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.unigram import unigram_lm_train

    docs = spark.createDataFrame(
        [(1, "banana bandana cabana banana")], "doc_id int, text string"
    )
    full = unigram_lm_train(docs, "text", n_iter=1)
    pruned = unigram_lm_train(docs, "text", n_iter=1, prune_to=2)
    n_multi_full = full.filter(F.length("piece") > 1).count()
    assert n_multi_full > 2
    p = {r.piece for r in pruned.collect()}
    assert len([x for x in p if len(x) > 1]) == 2
    # every corpus char survives
    assert set("bandnc") <= p


def test_unigram_segment_reassembles_words(spark):
    """Segmentation pieces concatenate back to each token; tokens longer
    than max_word_len pass through whole (the trainer's cap, mirrored)."""
    from orientdb_etl_spark.functions.unigram import (
        unigram_lm_train,
        unigram_segment,
    )

    docs = spark.createDataFrame(
        [(1, "banana bandana"), (2, "ban banana")],
        "doc_id int, text string",
    )
    vocab = unigram_lm_train(docs, "text", max_word_len=12, n_iter=1)
    long_docs = spark.createDataFrame(
        [(1, "banana supercalifragilistic")], "doc_id int, text string"
    )
    seg = unigram_segment(long_docs, vocab, "text", max_word_len=12)
    # temp columns dropped (bpe_segment parity): doc cols + out_col only
    assert set(seg.columns) == {"doc_id", "text", "unigram_pieces"}
    by_word = {
        "".join(r.unigram_pieces): list(r.unigram_pieces)
        for r in seg.collect()
    }
    assert "banana" in by_word  # pieces concatenate back to the token
    # 20-char token exceeds the cap -> opaque single piece
    assert by_word["supercalifragilistic"] == ["supercalifragilistic"]


def test_html_to_text_strips_script_style_comments_tags(spark):
    from orientdb_etl_spark.functions.text import html_to_text

    html = (
        "<html><head><style>body{color:red}</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        "<!-- hidden comment --><body><h1>Title</h1>"
        "<p>First para.</p><p>Second&nbsp;para &amp; more.</p>"
        "<ul><li>a</li><li>b</li></ul></body></html>"
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    out = df.select(html_to_text("html").alias("t")).first().t
    assert "not text" not in out  # script CONTENT removed, not just tags
    assert "color:red" not in out
    assert "hidden comment" not in out
    assert "<" not in out and ">" not in out
    assert "Title\nFirst para.\nSecond para & more." in out
    assert "a\nb" in out


def test_html_to_text_entities_and_double_escape(spark):
    from orientdb_etl_spark.functions.text import html_to_text

    df = spark.createDataFrame(
        [(1, "A &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp;amp; done")],
        "id long, html string",
    )
    out = df.select(html_to_text("html").alias("t")).first().t
    # &amp; decodes LAST: "&amp;amp;" -> "&amp;" (one level), not "&"
    assert out == "A <tag> \"q\" 's' &amp; done"


def test_html_to_text_whitespace_canonicalization(spark):
    from orientdb_etl_spark.functions.text import html_to_text

    html = "  <div>a   b\t c</div>\n\n\n\n<div>d</div>  "
    df = spark.createDataFrame([(1, html)], "id long, html string")
    out = df.select(html_to_text("html").alias("t")).first().t
    # runs of blank lines cap at ONE paragraph break, not zero
    assert out == "a b c\n\nd"


def test_html_to_text_sql_twin_byte_identical(spark):
    """The generated DuckDB chain must produce byte-identical output for
    the same inputs — the property the gate row relies on."""
    import duckdb

    from orientdb_etl_spark.functions.text import html_to_text, html_to_text_sql

    cases = [
        "<p>plain</p>",
        "<SCRIPT>x</SCRIPT>ok<BR/>line",
        "a &amp;&amp; b<hr>c",
        "<div class='x'>nested <b>bold</b> text</div>",
        "no markup at all",
        "",
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "id long, h string")
    got_spark = {r.id: r.t for r in df.select("id", html_to_text("h").alias("t")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE c (id BIGINT, h VARCHAR)")
    con.executemany("INSERT INTO c VALUES (?, ?)", [(i, c) for i, c in enumerate(cases)])
    got_duck = dict(con.execute(f"SELECT id, {html_to_text_sql('h')} FROM c").fetchall())
    assert got_spark == got_duck


def test_split_leakage_detects_cross_split_dups_only(spark):
    from orientdb_etl_spark.functions.dedup import split_leakage

    rows = [
        (1, "train", "The Quick   Brown fox!"),   # dup of 2 ACROSS splits
        (2, "val", "the quick brown fox"),        # (case/space/punct differ)
        (3, "train", "same split twin"),          # dup of 4 WITHIN train
        (4, "train", "same split twin"),
        (5, "val", "a unique document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    got = split_leakage(df, "split").collect()
    assert len(got) == 1  # within-split dup and unique doc do NOT leak
    assert got[0].doc_ids == [1, 2] and got[0].splits == ["train", "val"]
    assert got[0].n_docs == 2


def test_split_leakage_empty_is_passing_state(spark):
    from orientdb_etl_spark.functions.dedup import split_leakage

    df = spark.createDataFrame(
        [(1, "train", "alpha"), (2, "val", "beta")],
        "doc_id long, split string, text string",
    )
    assert split_leakage(df, "split").count() == 0


def test_referential_audit_counts_orphans(spark):
    from orientdb_etl_spark.functions.expectations import referential_audit

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id int, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk int")
    rows = referential_audit(
        [
            {"name": "child.fk -> parent", "child": child, "fk": "fk",
             "parent": parent, "pk": "pk"},
            {"name": "self", "child": parent, "fk": "pk",
             "parent": parent, "pk": "pk"},
        ]
    ).collect()
    r = {x.constraint: x for x in rows}
    a = r["child.fk -> parent"]
    # NULL fk is not an orphan (SQL FK semantics); 99 is
    assert (a.n_rows, a.n_nonnull, a.n_orphans, a.ok) == (4, 3, 1, False)
    b = r["self"]
    assert (b.n_orphans, b.ok) == (0, True)


def test_referential_audit_duplicate_parents_not_double_counted(spark):
    from orientdb_etl_spark.functions.expectations import referential_audit

    child = spark.createDataFrame([(1, 10)], "id int, fk int")
    parent = spark.createDataFrame([(10,), (10,), (10,)], "pk int")
    row = referential_audit(
        [{"child": child, "fk": "fk", "parent": parent, "pk": "pk"}]
    ).collect()[0]
    assert (row.n_rows, row.n_orphans) == (1, 0)


# ---------------------------------------------------------------------------
# tfidf_topk
# ---------------------------------------------------------------------------


def test_tfidf_topk_scores_and_ranks(spark):
    import math

    from orientdb_etl_spark.functions.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.tf, r.tfidf))
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    idf = lambda dft: math.log((3 + 1) / (dft + 1)) + 1
    assert by_doc[1][0][1] == "apple"
    assert by_doc[1][0][3] == round(2 * idf(1), 4)
    # every doc has <= 2 keywords, ranks 1..k contiguous
    for doc, rows in by_doc.items():
        assert [r[0] for r in sorted(rows)] == list(range(1, len(rows) + 1))


def test_tfidf_topk_tie_breaks_by_term(spark):
    from orientdb_etl_spark.functions.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "zebra apple"), (2, "zebra apple")], "doc_id long, text string"
    )
    # both terms in doc 1 have identical tf and df -> identical score;
    # rank 1 must be the lexicographically smaller term in both docs
    out = {(r.doc_id, r.rank): r.term
           for r in tfidf_topk(docs, "doc_id", "text", k=2).collect()}
    assert out[(1, 1)] == "apple" and out[(2, 1)] == "apple"


def test_tfidf_topk_min_df_drops_rare_terms(spark):
    from orientdb_etl_spark.functions.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "common rare"), (2, "common")], "doc_id long, text string"
    )
    terms = {r.term for r in
             tfidf_topk(docs, "doc_id", "text", k=5, min_df=2).collect()}
    assert terms == {"common"}


def test_tfidf_topk_empty_text_yields_no_rows(spark):
    from orientdb_etl_spark.functions.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "word")], "doc_id long, text string"
    )
    out = tfidf_topk(docs, "doc_id", "text", k=3).collect()
    assert {r.doc_id for r in out} == {3}


# ---------------------------------------------------------------------------
# clustering: quantized k-means


def _toy_vectors(spark, n=60, dims=4, shift=0.0):
    rows = []
    for i in range(n):
        c = i % 3
        base = [float(c * 10 + d + shift) for d in range(dims)]
        # deterministic sub-grid jitter, well inside cluster separation
        rows.append((i, [b + ((i * 7 + d) % 5) / 10.0 for d, b in enumerate(base)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_separated_clusters_recovered(spark):
    from orientdb_etl_spark.functions.clustering import (
        kmeans_cluster_stats,
        kmeans_quantized,
    )

    df = _toy_vectors(spark)
    final, cents = kmeans_quantized(
        df, "embedding", "vec_id", k=3, rounds=3
    )
    rows = final.collect()
    # well-separated generators: every vec with the same i%3 lands in
    # the same cluster
    by_true = {}
    for r in rows:
        by_true.setdefault(r.vec_id % 3, set()).add(r.cluster)
    assert all(len(v) == 1 for v in by_true.values())
    stats = kmeans_cluster_stats(
        df, "embedding", "vec_id", k=3, rounds=3
    ).collect()
    assert sum(r.n for r in stats) == 60


def test_kmeans_partition_invariant(spark):
    from orientdb_etl_spark.functions.clustering import kmeans_cluster_stats

    df = _toy_vectors(spark)
    a = [tuple(r) for r in
         kmeans_cluster_stats(df, "embedding", "vec_id", k=3, rounds=2).collect()]
    b = [tuple(r) for r in
         kmeans_cluster_stats(df.repartition(7), "embedding", "vec_id",
                              k=3, rounds=2).collect()]
    assert a == b


def test_kmeans_inertia_non_increasing_with_rounds(spark):
    from orientdb_etl_spark.functions.clustering import kmeans_cluster_stats

    df = _toy_vectors(spark)

    def total(rounds):
        return sum(
            r.inertia
            for r in kmeans_cluster_stats(
                df, "embedding", "vec_id", k=3, rounds=rounds
            ).collect()
        )

    # Lloyd monotonicity survives the integer rounding at this
    # separation; 1 -> 3 rounds must not increase total inertia
    assert total(3) <= total(1)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from orientdb_etl_spark.functions.clustering import kmeans_quantized

    # k larger than the number of distinct points: some clusters end
    # up empty and must keep their seed centroid without crashing
    rows = [(i, [float(i % 2), 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    final, cents = kmeans_quantized(df, "embedding", "vec_id", k=4, rounds=2)
    assert final.count() == 10
    assert len(cents) == 4 and all(len(c) == 2 for c in cents)


def test_kmeans_sql_twin_matches_on_toy_frame(spark, tmp_path):
    import duckdb

    from orientdb_etl_spark.functions.clustering import (
        kmeans_cluster_stats,
        kmeans_rounds_sql,
    )

    df = _toy_vectors(spark, n=40)
    p = str(tmp_path / "emb.parquet")
    df.write.parquet(p)
    back = spark.read.parquet(p)
    got = [tuple(map(int, r)) for r in
           kmeans_cluster_stats(back, "embedding", "vec_id",
                                k=3, rounds=2).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{p}/*.parquet')"
    )
    want = [tuple(map(int, r)) for r in
            con.execute(kmeans_rounds_sql(k=3, rounds=2)).fetchall()]
    assert got == want


def test_pmi_collocations_hand_computed(spark):
    import math

    from orientdb_etl_spark.functions.text import pmi_collocations

    # "new york" appears 3x; fillers keep it from being the whole corpus
    docs = [
        ("new york is big",),
        ("new york is old",),
        ("i like new york",),
        ("big and old",),
    ]
    df = spark.createDataFrame(docs, "text string")
    out = pmi_collocations(df, "text", min_count=2, top_k=5)
    rows = {(r.w1, r.w2): r for r in out.collect()}
    assert ("new", "york") in rows
    r = rows[("new", "york")]
    # counts: c_xy=3, nu=15 tokens, nb=11 bigrams, c_new=3, c_york=3
    want = math.log(3 * 15 * 15 / (11 * 3 * 3))
    assert r.n_pair == 3
    assert r.pmi == round(want, 6)


def test_pmi_collocations_min_count_and_short_docs(spark):
    from orientdb_etl_spark.functions.text import pmi_collocations

    docs = [("a b",), ("c",), ("",), (None,), ("a b",)]
    df = spark.createDataFrame(docs, "text string")
    rows = pmi_collocations(df, "text", min_count=2, top_k=10).collect()
    # single-token / empty / null docs produce no bigrams and no crash
    assert [(r.w1, r.w2, r.n_pair) for r in rows] == [("a", "b", 2)]
    assert pmi_collocations(df, "text", min_count=3, top_k=10).count() == 0


# ------------------------------------------------------------ phrase search


def _brute_phrase(rows, phrase):
    toks = phrase.lower().split()
    out = {}
    for i, txt in rows:
        if txt is None or not txt.strip():
            continue
        ts = txt.lower().split()
        hits = [
            p
            for p in range(len(ts) - len(toks) + 1)
            if ts[p : p + len(toks)] == toks
        ]
        if hits:
            out[i] = (len(hits), hits[0])
    return out


def test_phrase_search_equals_brute_force(spark):
    from orientdb_etl_spark.functions.retrieval import phrase_search

    rows = [
        (1, "a b a b a"),          # overlapping "a b a" at 0 and 2
        (2, "a b c a b a"),        # one hit at 3
        (3, "b a b"),              # no "a b a"
        (4, "a"),                  # shorter than the phrase
        (5, None),
        (6, "   "),
        (7, "x a b a y a b a"),    # two disjoint hits
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    for phrase in ("a b a", "a b", "a", "z q"):
        got = {
            r.id: (r.n_hits, r.first_pos)
            for r in phrase_search(df, "id", "text", phrase).collect()
        }
        assert got == _brute_phrase(rows, phrase), f"phrase {phrase!r}"


def test_phrase_search_duplicate_token_slots(spark):
    """A phrase whose first and third slots share a token must not
    conflate the two shifts ("the X the" in "the the the the")."""
    from orientdb_etl_spark.functions.retrieval import phrase_search

    rows = [(1, "the the the the")]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r.id: (r.n_hits, r.first_pos)
        for r in phrase_search(df, "id", "text", "the the the").collect()
    }
    assert got == _brute_phrase(rows, "the the the")  # 2 hits at 0


def test_phrase_search_validation_and_sql_twin(spark):
    import duckdb
    import pytest

    from orientdb_etl_spark.functions.retrieval import (
        phrase_search,
        phrase_search_sql,
    )

    df = spark.createDataFrame([(1, "a b")], "id int, text string")
    with pytest.raises(ValueError):
        phrase_search(df, "id", "text", "   ")
    with pytest.raises(ValueError):
        phrase_search_sql("")
    # SQL twin replays the brute force on an in-memory relation
    rows = [(1, "a b a b a"), (2, "b a b"), (3, "x y a b a")]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = {
        d: (n, p)
        for d, n, p in con.execute(phrase_search_sql("a b a")).fetchall()
    }
    assert got == _brute_phrase(rows, "a b a")


def test_phrase_search_postings_filter_reaches_scan(spark, tmp_path):
    """The isin-over-phrase-tokens filter must act BEFORE the grouped
    exchange: the exploded postings frame is filtered by _tok, so the
    plan carries the In predicate under the aggregate, and no cartesian
    or python stage appears."""
    from orientdb_etl_spark.functions.retrieval import phrase_search

    p = f"{tmp_path}/docs.parquet"
    spark.createDataFrame(
        [(i, "a b c d e f") for i in range(10)], "id int, text string"
    ).write.parquet(p)
    out = phrase_search(spark.read.parquet(p), "id", "text", "a b")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1  # the single grouped assembly


# ----------------------------------------------------------------- readability


def test_readability_hand_counts(spark):
    from orientdb_etl_spark.functions.text import readability

    df = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps. It was fast! Really?"),
            (2, "xyz 123 n7"),      # y counts; vowel-less words get 1 each
            (3, None),
            (4, "   "),
        ],
        "id int, text string",
    )
    got = {
        r.id: r
        for r in df.select("id", readability("text").alias("r"))
        .select("id", "r.*")
        .collect()
    }
    r1 = got[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (9, 3, 10)
    wps, spw = 9 / 3, 10 / 9
    assert r1.flesch == round(206.835 - 1.015 * wps - 84.6 * spw, 6)
    assert r1.fk_grade == round(0.39 * wps + 11.8 * spw - 15.59, 6)
    r2 = got[2]
    assert (r2.n_words, r2.n_sentences, r2.n_syllables) == (3, 1, 3)
    assert got[3].n_words is None and got[4].n_words is None


def test_readability_no_exchange_in_plan(spark, tmp_path):
    from orientdb_etl_spark.functions.text import readability

    p = f"{tmp_path}/docs.parquet"
    spark.createDataFrame(
        [(i, "one two. three!") for i in range(10)], "id int, text string"
    ).write.parquet(p)
    out = spark.read.parquet(p).select(
        "id", readability("text").alias("r")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------------------------------------------ MMR


def _brute_mmr(cands, k, lam, round_to=4):
    """cands: list of (id, score, vec). Greedy MMR with rounded
    objective/sims and id tie-break — the reference the Spark loop and
    the SQL oracle must both equal."""
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na > 0 and nb > 0 else 0.0

    rem = {i: (s, v, 0.0) for i, s, v in cands}
    out = []
    for rank in range(1, k + 1):
        if not rem:
            break
        pick = min(
            rem.items(),
            key=lambda kv: (-round(lam * kv[1][0] - (1 - lam) * kv[1][2],
                                   round_to), kv[0]),
        )[0]
        ps, pv, _ = rem.pop(pick)
        out.append((rank, pick, ps))
        rem = {
            i: (s, v, max(ms, round(cos(v, pv), round_to)))
            for i, (s, v, ms) in rem.items()
        }
    return out


def test_mmr_diversify_equals_brute_force(spark):
    import random

    from orientdb_etl_spark.functions.retrieval import mmr_diversify

    rng = random.Random(3)
    cands = [
        (i, round(rng.uniform(0, 1), 4),
         [rng.uniform(-1, 1) for _ in range(6)])
        for i in range(25)
    ]
    # plant two near-duplicates of the top item: MMR must skip them
    top = max(cands, key=lambda c: c[1])
    cands.append((100, top[1] - 0.0001, [x * 1.001 for x in top[2]]))
    cands.append((101, top[1] - 0.0002, [x * 0.999 for x in top[2]]))
    df = spark.createDataFrame(
        [(i, s, v) for i, s, v in cands],
        "id long, score double, vec array<double>",
    )
    got = [
        (r.mmr_rank, r.id, r.score)
        for r in mmr_diversify(df, "id", "score", "vec", k=8, lam=0.75)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert got == _brute_mmr(cands, 8, 0.75)
    # diversification actually bites: the two planted dups are NOT in
    # the top picks even though their relevance ranks 2nd and 3rd
    picked = {i for _, i, _ in got[:3]}
    assert 100 not in picked and 101 not in picked


def test_mmr_diversify_validation_and_exhaustion(spark):
    import pytest

    from orientdb_etl_spark.functions.retrieval import mmr_diversify

    df = spark.createDataFrame(
        [(1, 1.0, [1.0, 0.0]), (2, 0.5, [0.0, 1.0])],
        "id long, score double, vec array<double>",
    )
    with pytest.raises(ValueError):
        mmr_diversify(df, "id", "score", "vec", k=0)
    with pytest.raises(ValueError):
        mmr_diversify(df, "id", "score", "vec", lam=1.5)
    got = mmr_diversify(df, "id", "score", "vec", k=10).collect()
    assert len(got) == 2  # exhausts the list, no error


def test_mmr_diversify_degenerate_candidates_not_promoted(spark):
    """A zero-norm / empty / NULL vector must NOT be silently promoted:
    its similarity to any pick is defined as 0.0 (never NaN, which
    sorts as the largest double in the desc objective order), and a
    NULL score sorts last (desc NULLS LAST)."""
    from orientdb_etl_spark.functions.retrieval import mmr_diversify

    df = spark.createDataFrame(
        [
            (1, 0.9, [1.0, 0.0, 0.0]),
            (2, 0.8, [0.9, 0.1, 0.0]),
            (3, 0.7, [0.0, 0.0, 0.0]),  # zero-norm
            (4, 0.6, []),  # empty
            (5, 0.5, None),  # NULL vector
            (6, None, [0.0, 1.0, 0.0]),  # NULL score: picked LAST
        ],
        "id long, score double, vec array<double>",
    )
    got = [
        (r.mmr_rank, r.id)
        for r in mmr_diversify(df, "id", "score", "vec", k=6, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    ]
    # rank 1 is the top score; the degenerate vectors keep ms = 0.0 so
    # they are ranked purely by score (never jump the queue via NaN);
    # the NULL-score row is dead last
    assert got[0] == (1, 1)
    assert [i for _, i in got] == [1, 3, 4, 5, 2, 6]


def test_shared_span_pairs_detects_lifted_passage(spark):
    """A 10-token quote lifted into an otherwise-different long document
    must pair the two docs; unrelated docs must not pair."""
    from orientdb_etl_spark.functions.dedup import shared_span_pairs

    quote = "the quick brown fox jumps over the lazy sleeping dog"
    filler_a = " ".join(f"alpha{i}" for i in range(40))
    filler_b = " ".join(f"beta{i}" for i in range(40))
    filler_c = " ".join(f"gamma{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, f"{quote} {filler_a}"),
            (2, f"{filler_b} {quote}"),
            (3, filler_c),
            (4, None),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    got = shared_span_pairs(df, "text", "doc_id", window=8).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}
    # a 10-token quote has 3 distinct 8-token windows
    assert got[0].shared_windows == 3


def test_shared_span_pairs_winnowing_guarantee(spark):
    """Winnowing with guard g must still catch any shared span of
    length >= window + g - 1 (Schleimer et al. SIGMOD'03), here with the
    span at DIFFERENT offsets in the two documents — the case plain
    stride sampling misses."""
    from orientdb_etl_spark.functions.dedup import shared_span_pairs

    span = " ".join(f"shared{i}" for i in range(12))  # 12 = 8 + 5 - 1
    pre_a = " ".join(f"a{i}" for i in range(7))   # offset 7
    pre_b = " ".join(f"b{i}" for i in range(23))  # offset 23
    df = spark.createDataFrame(
        [
            (1, f"{pre_a} {span} " + " ".join(f"x{i}" for i in range(20))),
            (2, f"{pre_b} {span} " + " ".join(f"y{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    got = shared_span_pairs(df, "text", "doc_id", window=8, guard=5).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}


def test_shared_span_pairs_matches_exact_when_guard_1(spark):
    """guard=1 must equal the brute-force definition: pairs sharing any
    verbatim window, counted as distinct shared windows."""
    import itertools

    from orientdb_etl_spark.functions.dedup import shared_span_pairs

    rows = [
        (1, "p q r s t u v w x y z"),
        (2, "m n p q r s t u v w k"),
        (3, "p q r s t u v w x y z"),
    ]
    w = 8
    expected = {}
    wins = {
        i: {
            " ".join(toks[j : j + w])
            for j in range(len(toks) - w + 1)
        }
        for i, t in rows
        for toks in [t.split()]
    }
    for a, b in itertools.combinations(sorted(wins), 2):
        n = len(wins[a] & wins[b])
        if n:
            expected[(a, b)] = n
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.shared_windows
        for r in shared_span_pairs(df, "text", "doc_id", window=w).collect()
    }
    assert got == expected


def test_shared_span_pairs_group_cap_drops_boilerplate(spark):
    """A window shared by > max_group docs (boilerplate) must be dropped
    by the degenerate-group cap instead of emitting a quadratic pair
    stream."""
    from orientdb_etl_spark.functions.dedup import shared_span_pairs

    boiler = "subscribe to our newsletter for all the latest updates"
    rows = [(i, f"{boiler} " + " ".join(f"u{i}x{j}" for j in range(10)))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = shared_span_pairs(df, "text", "doc_id", window=8, max_group=5)
    assert got.count() == 0
    uncapped = shared_span_pairs(
        df, "text", "doc_id", window=8, max_group=None
    )
    assert uncapped.count() == 190  # C(20,2) boilerplate pairs


def test_strip_duplicate_spans_owner_keeps_others_lose(spark):
    """The min-id doc owns each duplicated span and keeps it; every
    other doc loses exactly the covered tokens, original case preserved
    in survivors."""
    from orientdb_etl_spark.functions.dedup import strip_duplicate_spans

    quote = "The Quick Brown Fox Jumps Over The Lazy"  # 8 tokens
    rows = [
        (1, quote + " unique1 unique2"),
        (2, "pre1 pre2 " + quote.lower() + " post1"),  # case-insensitive match
        (3, "solo1 solo2 solo3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in strip_duplicate_spans(df, "text", "doc_id", window=8).collect()
    }
    assert got[1].text == quote + " unique1 unique2"
    assert got[1].removed_tokens == 0
    assert got[2].text == "pre1 pre2 post1"
    assert got[2].removed_tokens == 8
    assert got[3].text == "solo1 solo2 solo3" and got[3].removed_tokens == 0


def test_strip_duplicate_spans_idempotent_and_full_removal(spark):
    """Re-running on the rewritten corpus removes nothing further; a doc
    that IS entirely a lifted span survives as an empty-text row."""
    from orientdb_etl_spark.functions.dedup import strip_duplicate_spans

    span = "s0 s1 s2 s3 s4 s5 s6 s7"
    df = spark.createDataFrame(
        [(1, span + " tail0 tail1"), (2, span)],
        "doc_id long, text string",
    )
    once = strip_duplicate_spans(df, "text", "doc_id", window=8)
    got = {r.doc_id: r for r in once.collect()}
    assert got[2].text == "" and got[2].removed_tokens == 8
    assert got[1].removed_tokens == 0
    twice = strip_duplicate_spans(
        once.select("doc_id", "text"), "text", "doc_id", window=8
    )
    # empty doc 2 is excluded by the non-empty filter; doc 1 unchanged
    assert {(r.doc_id, r.text, r.removed_tokens) for r in twice.collect()} == {
        (1, span + " tail0 tail1", 0)
    }


# -------------------------------------------------------- vocab coverage


def test_vocab_coverage_counts_occurrences(spark):
    from orientdb_etl_spark.functions.text import top_vocab, vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog barked zyzzy zyzzy"),
        ],
        "doc_id bigint, text string",
    )
    vocab = spark.createDataFrame([("the",), ("cat",), ("dog",)], "token string")
    out = {
        r.id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_coverage(docs, "text", "doc_id", vocab).collect()
    }
    assert out[1] == (6, 3, 0.5)  # sat/on/mat OOV; 'the' twice in-vocab
    assert out[2] == (5, 3, 0.6)  # barked + zyzzy x2 OOV occurrences
    # self-fit against the full top vocab -> zero OOV everywhere
    full = vocab_coverage(docs, "text", "doc_id", top_vocab(docs, "text", 100))
    assert full.agg({"n_oov": "sum"}).collect()[0][0] == 0


# ------------------------------------------------------ diff-in-diff


def test_diff_in_diff_hand_computed(spark):
    from orientdb_etl_spark.functions.stats import diff_in_diff

    rows = [
        # (treat, post, value): control 10->12 (+2), treated 20->25 (+5)
        (False, False, 10.0),
        (False, True, 12.0),
        (True, False, 20.0),
        (True, True, 25.0),
        (None, True, 99.0),  # excluded
    ]
    df = spark.createDataFrame(rows, "treat boolean, post boolean, value double")
    r = diff_in_diff(df, "treat", "post", "value").collect()[0]
    assert (r.n_c_pre, r.n_c_post, r.n_t_pre, r.n_t_post) == (1, 1, 1, 1)
    assert r.did == 3.0
    assert (r.mean_t_post, r.mean_c_pre) == (25.0, 10.0)


# ------------------------------------------------ semantic decontamination


def test_semantic_decontaminate_drops_eval_members_only(spark):
    from orientdb_etl_spark.functions.decontam import semantic_decontaminate

    import random

    rng = random.Random(5)
    train = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )
    # eval: copies of train ids 0..9, some scaled (cosine preserved)
    ev = train.where("vec_id < 10").selectExpr(
        "CASE WHEN vec_id % 2 = 0 THEN transform(embedding, "
        "x -> x * CAST(3.0 AS FLOAT)) ELSE embedding END AS embedding"
    )
    kept = {
        r.vec_id
        for r in semantic_decontaminate(
            train, ev, "embedding", "vec_id", threshold=0.97
        ).collect()
    }
    # exact/scaled copies always share the sign-LSH bucket and hit cos=1
    assert not kept & set(range(10))
    # random 8-dim vectors essentially never reach cosine 0.97
    assert kept == set(range(10, 40))
    flagged = semantic_decontaminate(
        train, ev, "embedding", "vec_id", threshold=0.97, mode="flag"
    )
    assert flagged.count() == 40
    assert flagged.where("contaminated").count() == 10


def test_mmr_diversify_string_ids_and_single_job(spark):
    """Regression (round-6 advice): the result schema takes the id
    column's dtype from the input frame (string ids used to crash at
    createDataFrame against the hardcoded 'long')."""
    from orientdb_etl_spark.functions.retrieval import mmr_diversify

    df = spark.createDataFrame(
        [
            ("b", 0.9, [1.0, 0.0]),
            ("a", 0.9, [1.0, 0.0]),
            ("c", 0.5, [0.0, 1.0]),
        ],
        "id string, score double, vec array<double>",
    )
    out = mmr_diversify(df, "id", "score", "vec", k=2, lam=0.5)
    assert out.schema["id"].dataType.simpleString() == "string"
    got = [(r.mmr_rank, r.id) for r in out.orderBy("mmr_rank").collect()]
    # tie on score: ascending-id break picks "a"; then at lam=0.5 the
    # duplicate direction "b" scores 0.45-0.5 < "c"'s 0.25
    assert got == [(1, "a"), (2, "c")]


def test_unigram_train_eager_releases_caches_same_result(spark):
    """The trainer must (a) return the same vocabulary whatever the
    input's partitioning, and (b) persist NOTHING past the call —
    iteration state is pinned driver-side per iteration
    (vocabulary-sized literal tables) and the grid and slot-array caches
    are released before returning, so nothing accumulates across a
    many-query session."""
    from orientdb_etl_spark.functions.unigram import unigram_lm_train

    docs = spark.createDataFrame(
        [(1, "banana bandana cabana"), (2, "ban banana band")],
        "doc_id int, text string",
    )
    # compare persistent-RDD ID SETS, not counts: the async
    # ContextCleaner unpersists earlier tests' GC'd frames at any time
    # in a shared session, so an equal-count assertion races (observed
    # 70 -> 59 mid-call under a full-suite ordering). "No NEW id
    # survives the call" is the exact claim — and stricter.
    jjsc = spark.sparkContext._jsc
    before_ids = {int(k) for k in jjsc.getPersistentRDDs().keySet().toArray()}
    one = unigram_lm_train(docs.coalesce(1), "text", n_iter=2, prune_to=3)
    rows_one = {(r.piece, r.freq, r.logp) for r in one.collect()}
    after_ids = {int(k) for k in jjsc.getPersistentRDDs().keySet().toArray()}
    assert after_ids - before_ids == set()  # nothing NEW persisted
    spread = unigram_lm_train(
        docs.repartition(3), "text", n_iter=2, prune_to=3
    )
    rows_spread = {(r.piece, r.freq, r.logp) for r in spread.collect()}
    assert rows_one == rows_spread


_NO_LEAK_CALLS = [
    "unigram_lm_train",
    "unigram_lm_train-prune_to",
    "unigram_lm_train-prune_by_loss",
    "train_quality_classifier",
    "doremi_mixture",
    "bradley_terry",
    "qdigest_build",
    "qdigest_merge",
    "wordpiece_train",
    "kmeans_quantized",
    "power_iteration_distributed",
    "incremental_near_dedup",
    "minhash_lsh_dedup-bucket_min",
    "minhash_lsh_dedup-connected_components",
    "minhash_lsh_dedup-best_of_component",
    "set_similarity_join",
    "containment_join",
]


@pytest.mark.parametrize("call", _NO_LEAK_CALLS)
def test_no_cached_frame_survives_the_call(spark, call):
    """Pipelines run many configs in one long-lived session, so a
    function must not leave a cache entry behind: no NEW persistent RDD
    survives the call plus a collect of its result. Local checkpoints
    are exempt — they are lineage of the returned frame (the q-digest's
    low levels) and the ContextCleaner frees them with it. Compares
    persistent-RDD ID sets for the reason given in
    test_unigram_train_eager_releases_caches_same_result. A call that
    returns no frame is run for its effect alone."""
    from pyspark.sql import DataFrame

    from orientdb_etl_spark.functions.bpe import wordpiece_train
    from orientdb_etl_spark.functions.clustering import kmeans_quantized
    from orientdb_etl_spark.functions.dedup import incremental_near_dedup
    from orientdb_etl_spark.functions.doremi import doremi_mixture
    from orientdb_etl_spark.functions.linkage import (
        containment_join,
        set_similarity_join,
    )
    from orientdb_etl_spark.functions.mleval import bradley_terry
    from orientdb_etl_spark.functions.profiling import (
        qdigest_build,
        qdigest_merge,
    )
    from orientdb_etl_spark.functions.projections import (
        power_iteration_distributed,
    )
    from orientdb_etl_spark.functions.quality_clf import (
        train_quality_classifier,
    )
    from orientdb_etl_spark.functions.unigram import unigram_lm_train

    docs = spark.createDataFrame(
        [
            (1, "banana bandana cabana", 1, "a"),
            (2, "ban banana band", 0, "b"),
            (3, "cab nab banana", 1, "a"),
            (4, "bad dab band", 0, "b"),
        ],
        "doc_id int, text string, label int, source string",
    )
    battles = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "a")],
        "winner string, loser string",
    )
    vals = spark.range(2000).selectExpr("id * 37 % 5000 AS v")
    gram = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 1.0), (2, 1, 1.0), (2, 2, 2.0)],
        "i int, j int, g double",
    )
    run = {
        "unigram_lm_train": lambda: unigram_lm_train(docs, n_iter=2),
        "unigram_lm_train-prune_to": lambda: unigram_lm_train(
            docs, n_iter=2, prune_to=3
        ),
        "unigram_lm_train-prune_by_loss": lambda: unigram_lm_train(
            docs, n_iter=2, prune_to=3, prune_by="loss"
        ),
        "train_quality_classifier": lambda: train_quality_classifier(
            docs, buckets=16, iters=2
        ),
        "doremi_mixture": lambda: doremi_mixture(
            docs, "source", buckets=16, ref_iters=1, iters=2
        ),
        "bradley_terry": lambda: bradley_terry(battles, iters=3),
        "qdigest_build": lambda: qdigest_build(vals, "v", k=16),
        "qdigest_merge": lambda: qdigest_merge(
            qdigest_build(vals, "v", k=16),
            qdigest_build(vals, "v", k=16),
            k=16,
        ),
        "wordpiece_train": lambda: wordpiece_train(docs, "text", num_merges=2),
        "kmeans_quantized": lambda: kmeans_quantized(
            _toy_vectors(spark), "embedding", "vec_id", k=3, rounds=2
        )[0],
        "power_iteration_distributed": lambda: power_iteration_distributed(
            gram, 2, steps=3
        ),
        "incremental_near_dedup": lambda: incremental_near_dedup(
            docs.where("doc_id > 2"), docs.where("doc_id <= 2"), "text",
            "doc_id", num_perm=16, bands=4, shingle_k=3,
        ),
        **{
            f"minhash_lsh_dedup-{rule}": (
                lambda rule=rule: minhash_lsh_dedup(
                    docs.withColumn("q", F.length("text")), "text", "doc_id",
                    num_perm=16, bands=8, shingle_k=3, threshold=0.2,
                    survivor=rule, score_col="q",
                )
            )
            for rule in ("bucket_min", "connected_components", "best_of_component")
        },
        "set_similarity_join": lambda: set_similarity_join(
            docs, "doc_id", "text", threshold=0.2
        ),
        "containment_join": lambda: containment_join(
            docs, "doc_id", "text", docs, "doc_id", "text", threshold=0.3
        ),
    }[call]
    jjsc = spark.sparkContext._jsc
    before = {int(k) for k in jjsc.getPersistentRDDs().keySet().toArray()}
    out = run()
    if isinstance(out, DataFrame):
        out.collect()
    after = jjsc.getPersistentRDDs()  # a snapshot map
    left = {
        int(k)
        for k in after.keySet().toArray()
        if int(k) not in before
        and not after.get(k).rdd().isLocallyCheckpointed()
    }
    assert left == set()


def test_unigram_prune_by_loss_differs_from_count_rank(spark):
    """Likelihood-loss pruning (SentencePiece §3.2 made exact under
    hard EM) must diverge from the count-rank proxy on a corpus where a
    FREQUENT piece is cheap to re-segment (its characters are common)
    while a rarer piece is built from rare characters: loss
    = cnt·(logp − alt) ranks the rare-chars piece higher. Singles are
    never pruned in either mode, and pieces concatenate unchanged."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.unigram import unigram_lm_train

    # 'xy' is chosen often but x/y are also abundant standalone, so its
    # re-segmentation x+y is cheap (small logp gap); 'qz' is chosen less
    # often but q/z appear ONLY inside it -> pruning it is expensive
    text = " ".join(["xy"] * 20 + ["x"] * 30 + ["y"] * 30 + ["qz"] * 5)
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    by_count = unigram_lm_train(
        docs, "text", n_iter=1, prune_to=1
    )
    by_loss = unigram_lm_train(
        docs, "text", n_iter=1, prune_to=1, prune_by="loss"
    )
    cm = {r.piece for r in by_count.filter(F.length("piece") > 1).collect()}
    lm = {r.piece for r in by_loss.filter(F.length("piece") > 1).collect()}
    assert cm == {"xy"}  # count rank keeps the frequent piece
    assert lm == {"qz"}  # loss rank keeps the irreplaceable piece
    singles = {r.piece for r in by_loss.filter(F.length("piece") == 1).collect()}
    assert {"x", "y", "q", "z"} <= singles

    import pytest

    with pytest.raises(ValueError, match="prune_by"):
        unigram_lm_train(docs, "text", prune_to=1, prune_by="entropy")


def test_soft_dedup_weights_prices_duplicates(spark):
    import pytest

    from orientdb_etl_spark.functions.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "aa"), (4, "bb"), (5, None)],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in soft_dedup_weights(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3, 4}  # NULL text -> no row
    assert out[1].dup_count == 3 and out[4].dup_count == 1
    # alpha=1: a k-fold dup's aggregate expected mass == one document
    assert abs(sum(out[i].weight for i in (1, 2, 3)) - 1.0) < 1e-5
    assert out[4].weight == 1.0
    # alpha=0.5 softens the discount
    half = {
        r.doc_id: r.weight
        for r in soft_dedup_weights(docs, "text", "doc_id", alpha=0.5).collect()
    }
    assert abs(half[1] - 1 / 3**0.5) < 1e-5
    with pytest.raises(ValueError, match="alpha"):
        soft_dedup_weights(docs, "text", "doc_id", alpha=0)


# ---------------------------------------------------------------------------
# textrank_keywords
# ---------------------------------------------------------------------------


def test_textrank_matches_python_replay(spark):
    from orientdb_etl_spark.functions.text import (
        TEXTRANK_STOPWORDS,
        textrank_keywords,
    )

    docs = spark.createDataFrame(
        [
            ("spark engine executes query plans",),
            ("query plans drive the spark engine",),
            ("engine tuning improves query latency",),
            ("Latency! tuning... ENGINE?",),
        ],
        "text string",
    )
    out = textrank_keywords(docs, "text", iterations=4, topk=5).collect()

    # pure-python replay of the identical integer-nano recurrence
    def toks(s):
        import re

        return [
            w
            for w in re.split("[^a-z]+", s.lower())
            if len(w) >= 4 and w not in TEXTRANK_STOPWORDS
        ]

    from collections import defaultdict

    und = defaultdict(int)
    for (s,) in [
        ("spark engine executes query plans",),
        ("query plans drive the spark engine",),
        ("engine tuning improves query latency",),
        ("Latency! tuning... ENGINE?",),
    ]:
        t = toks(s)
        for x, y in zip(t, t[1:]):
            if x != y:
                und[(min(x, y), max(x, y))] += 1
    edges = defaultdict(int)
    for (a, b), w in und.items():
        edges[(a, b)] += w
        edges[(b, a)] += w
    wdeg = defaultdict(int)
    for (u, _v), w in edges.items():
        wdeg[u] += w
    nodes = sorted(wdeg)
    r = {u: 10**9 for u in nodes}
    for _ in range(4):
        acc = defaultdict(int)
        for (u, v), w in edges.items():
            acc[v] += int(round(r[u] * w / float(wdeg[u])))
        r = {u: 150000000 + int(round(0.85 * acc[u])) for u in nodes}
    exp = sorted(nodes, key=lambda u: (-r[u], u))[:5]
    assert [x.word for x in out] == exp
    for x in out:
        assert x.score == round(r[x.word] / 1e9, 6)
        assert x.weight == wdeg[x.word]


def test_textrank_prunes_hapax_edges_and_validates(spark):
    from orientdb_etl_spark.functions.text import textrank_keywords

    docs = spark.createDataFrame(
        [("alpha bravo alpha bravo",), ("charlie delta",)], "text string"
    )
    words = {
        r.word
        for r in textrank_keywords(
            docs, "text", iterations=2, min_weight=2
        ).collect()
    }
    # the charlie-delta edge has weight 1 and is pruned; alpha-bravo (3) stays
    assert words == {"alpha", "bravo"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        textrank_keywords(docs, "text", iterations=0)


# ---------------------------------------------------------------------------
# WordPiece vocabulary induction (functions/bpe.py)
# ---------------------------------------------------------------------------


def test_wordpiece_train_matches_python_replay(spark):
    from collections import Counter

    from orientdb_etl_spark.functions.bpe import wordpiece_train

    corpus = ["low lower lowest", "low low newer newest", "wider new"]
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = wordpiece_train(docs, "text", num_merges=4).collect()

    words = Counter(w for t in corpus for w in t.split())
    seqs = {(" " + " ".join(w) + " </w> "): f for w, f in words.items()}

    def step(seqs):
        pairs, syms = Counter(), Counter()
        for s, f in seqs.items():
            t = s.split()
            for x in t:
                syms[x] += f
            for x, y in zip(t, t[1:]):
                pairs[(x, y)] += f
        best = max(
            pairs,
            key=lambda p: (pairs[p] / (syms[p[0]] * syms[p[1]]), 
                           [-ord(c) for c in f"{p[0]} {p[1]}"]),
        )
        score = pairs[best] / (syms[best[0]] * syms[best[1]])
        merged = {}
        for s, f in seqs.items():
            merged[
                s.replace(f" {best[0]} {best[1]} ", f" {best[0]}{best[1]} ")
            ] = f
        return best, pairs[best], score, merged

    exp = []
    for i in range(1, 5):
        best, freq, score, seqs = step(seqs)
        exp.append((i, f"{best[0]} {best[1]}", freq, round(score, 12)))
    assert sorted((r.step, r.pair, r.freq, r.score) for r in got) == exp


def test_wordpiece_prefers_rare_predictive_pair_over_frequent(spark):
    from orientdb_etl_spark.functions.bpe import wordpiece_train

    # 'q z' appears only inside 'qz' (perfectly predictive, rare);
    # 'a b' is frequent but both symbols are everywhere
    docs = spark.createDataFrame(
        [("ab ab ab ab ac ba qz",)], "text string"
    )
    first = wordpiece_train(docs, "text", num_merges=1).collect()[0]
    assert first.pair == "q z"


@pytest.mark.parametrize("trainer", ["bpe_train", "wordpiece_train"])
def test_merge_trainers_stop_when_merges_run_out(spark, trainer):
    """Single-character words admit one merge each (symbol + '</w>'):
    asking for more returns only the completed steps, no crash."""
    from orientdb_etl_spark.functions import bpe

    docs = spark.createDataFrame([("a a b",)], "text string")
    got = getattr(bpe, trainer)(docs, "text", num_merges=3).collect()
    assert sorted((r.step, r.pair) for r in got) == [
        (1, "a </w>"),
        (2, "b </w>"),
    ]


# ---------------------------------------------------------------------------
# bitext mining (functions/similarity.py)
# ---------------------------------------------------------------------------


def _bitext_fixture(spark):
    import math

    def unit(theta, phi):
        return [
            math.cos(theta) * math.cos(phi),
            math.cos(theta) * math.sin(phi),
            math.sin(theta),
            0.1,
        ]

    # three planted parallel pairs (nearly identical directions) plus
    # one unpaired distractor per side
    src = [(i, unit(0.15 * i, 0.4 * i)) for i in range(3)]
    src.append((3, unit(1.2, 2.6)))
    tgt = [(100 + i, unit(0.15 * i + 0.004, 0.4 * i + 0.004)) for i in range(3)]
    tgt.append((103, unit(-1.1, 0.3)))
    mk = lambda rows: spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    return mk(src), mk(tgt)


def test_bitext_mine_exact_recovers_planted_pairs(spark):
    from orientdb_etl_spark.functions.similarity import bitext_mine_exact

    src, tgt = _bitext_fixture(spark)
    got = bitext_mine_exact(
        src, tgt, "embedding", "vec_id", "vec_id", k=2, threshold=1.0
    ).collect()
    pairs = {(r.src_id, r.tgt_id) for r in got}
    assert {(0, 100), (1, 101), (2, 102)} <= pairs
    # distractors must not pair with each other
    assert (3, 103) not in pairs
    for r in got:
        assert r.margin >= 1.0 and -1.0 <= r.cosine_sim <= 1.0


def test_bitext_mine_lsh_agrees_on_planted_pairs(spark):
    from orientdb_etl_spark.functions.similarity import bitext_mine

    src, tgt = _bitext_fixture(spark)
    got = bitext_mine(
        src, tgt, "embedding", "vec_id", "vec_id", k=2, threshold=1.0
    ).collect()
    # identical-direction pairs collide in every LSH bucket, so the
    # production path recovers the planted alignment too
    assert {(r.src_id, r.tgt_id) for r in got} >= {(0, 100), (1, 101), (2, 102)}


def test_bitext_margin_rejects_hub_absolute_cosine(spark):
    from orientdb_etl_spark.functions.similarity import bitext_mine_exact

    # every tgt vector is similar to hub src 0 (absolute cosine high),
    # but none is its clear argmax partner: a high threshold filters all
    src = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    tgt = spark.createDataFrame(
        [(100, [0.95, 0.3, 0.1, 0.0]), (101, [0.95, 0.28, 0.12, 0.0]),
         (102, [0.95, 0.3, 0.08, 0.05])],
        "vec_id long, embedding array<double>",
    )
    got = bitext_mine_exact(
        src, tgt, "embedding", "vec_id", "vec_id", k=3, threshold=1.1
    ).collect()
    # margins hover near 1 (dense neighborhood) — nothing clears 1.1
    assert got == []


# ---------------------------------------------------------------------------
# clustering_agreement (B-cubed + ARI)
# ---------------------------------------------------------------------------


def test_clustering_agreement_matches_hand_reference(spark):
    from math import comb

    from orientdb_etl_spark.functions.clustering import clustering_agreement

    # pred: {a,b,c}, {d,e} — gold: {a,b}, {c,d,e}
    rows = [
        ("a", 1, "x"), ("b", 1, "x"), ("c", 1, "y"),
        ("d", 2, "y"), ("e", 2, "y"),
    ]
    df = spark.createDataFrame(rows, "item string, pred int, gold string")
    r = clustering_agreement(df, "pred", "gold").collect()[0]
    assert r.n_items == 5

    # hand B³: precision per item = |pred∩gold|/|pred|, recall = /|gold|
    # a,b: cell(1,x)=2 → p=2/3, r=2/2 ; c: cell(1,y)=1 → p=1/3, r=1/3
    # d,e: cell(2,y)=2 → p=2/2, r=2/3
    bp = (2 / 3 + 2 / 3 + 1 / 3 + 1.0 + 1.0) / 5
    br = (1.0 + 1.0 + 1 / 3 + 2 / 3 + 2 / 3) / 5
    assert abs(r.bcubed_precision - bp) < 1e-6
    assert abs(r.bcubed_recall - br) < 1e-6
    assert abs(r.bcubed_f1 - 2 * bp * br / (bp + br)) < 1e-6

    # hand ARI
    sij = comb(2, 2) + comb(1, 2) + comb(2, 2)  # cells: 2,1,2
    sa = comb(3, 2) + comb(2, 2)
    sb = comb(2, 2) + comb(3, 2)
    n2 = comb(5, 2)
    exp = sa * sb / n2
    ari = (sij - exp) / ((sa + sb) / 2 - exp)
    assert abs(r.ari - ari) < 1e-6


def test_clustering_agreement_identical_and_null_handling(spark):
    from orientdb_etl_spark.functions.clustering import clustering_agreement

    rows = [("a", 1, 1), ("b", 1, 1), ("c", 2, 2), ("d", None, 2)]
    df = spark.createDataFrame(rows, "item string, pred int, gold int")
    r = clustering_agreement(df, "pred", "gold").collect()[0]
    # identical partitions (null row excluded): perfect scores
    assert r.n_items == 3
    assert r.bcubed_precision == 1.0 and r.bcubed_recall == 1.0
    assert r.bcubed_f1 == 1.0 and r.ari == 1.0


def test_ensure_parallelism_scan_width_probe(spark, tmp_path):
    """The spread helper derives width from the leaf file relations —
    never .rdd (which under AQE executes upstream stages): a narrow
    single-file scan spreads to defaultParallelism, the per-call-site
    work gate (min_bytes_per_part) suppresses the spread when the input
    is too small to amortize the exchange, and frames with no
    file-backed leaves come back unchanged."""
    from orientdb_etl_spark.functions.dedup import ensure_parallelism

    path = str(tmp_path / "narrow.parquet")
    spark.range(200).selectExpr("id", "repeat('x', 50) AS t").coalesce(
        1
    ).write.parquet(path)
    df = spark.read.parquet(path)

    spread = ensure_parallelism(df)
    assert spread is not df
    # the probe itself must not have executed the plan: the spread frame
    # still computes the same rows
    assert spread.count() == 200
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    # work gate: a tiny file under the per-partition byte floor skips
    # the repartition entirely
    gated = ensure_parallelism(df, min_bytes_per_part=1 << 30)
    assert gated is df

    # literal frames have no file-backed leaves -> unchanged
    local = spark.createDataFrame([(1, "a")], "id int, t string")
    assert ensure_parallelism(local) is local


def test_ensure_parallelism_spreads_many_small_files(spark, tmp_path):
    """The file count alone does not make a scan wide: 16 tiny files
    that the scan packs into one split are spread at target 8, and the
    packing estimate agrees with the scan. The session's minimum scan
    partition count is set to 1 so that the packing, not this machine's
    core count, decides the scan width."""
    from orientdb_etl_spark.functions.dedup import ensure_parallelism

    path = str(tmp_path / "many.parquet")
    spark.range(160).selectExpr("id", "repeat('x', 20) AS t").repartition(
        16
    ).write.parquet(path)
    key = "spark.sql.files.minPartitionNum"
    spark.conf.set(key, "1")
    try:
        df = spark.read.parquet(path)
        assert len(df.inputFiles()) == 16
        assert df.rdd.getNumPartitions() == 1
        spread = ensure_parallelism(df, min_parts=8)
        assert spread is not df
        assert spread.rdd.getNumPartitions() == 8
        assert spread.count() == 160
        # the same files scanned wide enough are left alone
        spark.conf.set(key, "8")
        wide = spark.read.parquet(path)
        assert ensure_parallelism(wide, min_parts=8) is wide
    finally:
        spark.conf.unset(key)
