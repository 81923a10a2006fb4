"""Graph analytics: degrees and fixed-iteration PageRank.

PageRank is checked against the same recurrence computed directly in
numpy — not against magic constants — so the test pins the exact
semantics (dedup'd edges, no dangling redistribution, fixed iterations)
that the SQL oracle also unrolls.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import orientdb_etl_spark.functions.graph as G
from orientdb_etl_spark.functions.graph import degrees, pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _numpy_pagerank(pairs, iterations=8, damping=0.85):
    pairs = sorted(set(pairs))
    nodes = sorted({s for s, _ in pairs} | {d for _, d in pairs})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for s, _ in pairs:
        deg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        nxt = np.full(n, (1 - damping) / n)
        for s, d in pairs:
            nxt[idx[d]] += damping * r[idx[s]] / deg[idx[s]]
        r = nxt
    return {v: r[idx[v]] for v in nodes}


def test_degrees_counts_and_zero_fill(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    got = {r.id: (r.out_degree, r.in_degree) for r in degrees(e).collect()}
    assert got == {1: (2, 0), 2: (1, 1), 3: (0, 2)}


def test_pagerank_cycle_is_uniform(spark):
    # ring: every vertex has one in- and one out-edge -> uniform forever
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    ranks = {r.id: r.rank for r in pagerank(e, iterations=5).collect()}
    for v in (1, 2, 3):
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-12)


def test_pagerank_matches_reference_recurrence(spark):
    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (1, 2)]  # dup edge
    got = {r.id: r.rank for r in pagerank(_edges(spark, pairs), iterations=8).collect()}
    want = _numpy_pagerank(pairs, iterations=8)
    assert set(got) == set(want)
    for v, r in want.items():
        assert got[v] == pytest.approx(r, abs=1e-12)
    # vertex 4 is a dangling-source: it keeps only the teleport floor
    assert got[4] == pytest.approx(0.15 / 4, abs=1e-12)


def test_pagerank_plan_size_bounded_by_periodic_checkpoint(spark):
    """PageRank and label propagation chain single-consumer rounds
    lazily (no per-round job barrier) and cut lineage every 8 rounds:
    the 16-round plan must stay in the same ballpark as the 8-round
    plan — the cut at round 8 resets the lineage, so growth past it is
    bounded, not cumulative."""
    from orientdb_etl_spark.functions.graph import label_propagation

    e = _edges(spark, [(1, 2), (2, 1)])
    for run in (
        lambda n: pagerank(e, iterations=n),
        lambda n: label_propagation(e, rounds=n),
    ):
        p8 = run(8)._jdf.queryExecution().toString()
        p16 = run(16)._jdf.queryExecution().toString()
        assert len(p16) < 2 * len(p8)


def test_graph_config_transformers(spark):
    from orientdb_etl_spark import Pipeline

    p = Pipeline(
        {
            "extractor": {"table": {"name": "edges"}},
            "transformers": [
                {"pagerank": {"iterations": 5}},
            ],
        },
        spark=spark,
    )
    p.register_table("edges", _edges(spark, [(1, 2), (2, 3), (3, 1)]))
    ranks = {r.id: r.rank for r in p.compile().collect()}
    for v in (1, 2, 3):
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-12)

    pd_ = Pipeline(
        {
            "extractor": {"table": {"name": "edges"}},
            "transformers": [{"degrees": {}}],
        },
        spark=spark,
    )
    pd_.register_table("edges", _edges(spark, [(1, 2), (1, 3)]))
    got = {r.id: (r.out_degree, r.in_degree) for r in pd_.compile().collect()}
    assert got == {1: (2, 0), 2: (0, 1), 3: (0, 1)}


def test_triangle_count_known_graphs(spark):
    from orientdb_etl_spark.functions.graph import triangle_count

    # K4: C(4,3) = 4 triangles; duplicate/reversed edges must not double-count
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert triangle_count(_edges(spark, k4)).first().n_triangles == 4

    # square + one diagonal: exactly 2 triangles
    sq = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    assert triangle_count(_edges(spark, sq)).first().n_triangles == 2

    # triangle-free (star) graph
    star = [(0, i) for i in range(1, 6)]
    assert triangle_count(_edges(spark, star)).first().n_triangles == 0


def test_triangles_and_cc_config_transformers(spark):
    """Graph family symmetry: triangles + connectedComponents usable from
    a JSON config like degrees/pagerank."""
    from orientdb_etl_spark import Pipeline

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    tri = (
        Pipeline(
            {"extractor": {"table": {"name": "e"}},
             "transformers": [{"triangles": {}}]},
            spark=spark,
        )
        .register_table("e", edges)
        .compile()
        .collect()
    )
    assert tri[0].n_triangles == 1
    cc = (
        Pipeline(
            {"extractor": {"table": {"name": "e"}},
             "transformers": [{"connectedComponents": {}}]},
            spark=spark,
        )
        .register_table("e", edges)
        .compile()
        .collect()
    )
    labels = {r.id: r.label for r in cc}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_bfs_distances_path_graph_exact(spark):
    """Path 0→1→2→3→4 plus a shortcut 0→3: first discovery = min dist."""
    from orientdb_etl_spark.functions.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in bfs_distances(edges, srcs, max_hops=10).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2}  # 3 via shortcut, 4 via 3


def test_bfs_distances_max_hops_cap_and_unreachable(spark):
    from orientdb_etl_spark.functions.graph import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(100, 101)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in bfs_distances(edges, srcs, max_hops=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}          # capped at 2 hops
    assert 100 not in got and 101 not in got  # disconnected component absent


def test_bfs_distances_multi_source_takes_nearest(spark):
    from orientdb_etl_spark.functions.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (9, 3)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(0,), (9,)], "id long")
    got = {r.id: r.dist for r in bfs_distances(edges, srcs, max_hops=10).collect()}
    assert got[3] == 1  # nearest source (9) wins, not the 3-hop path from 0


def test_bfs_config_transformer(spark):
    from orientdb_etl_spark import Pipeline

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "id long")
    p = Pipeline(
        {
            "extractor": {"table": {"name": "e"}},
            "transformers": [{"bfs": {"sourcesTable": "seeds", "maxHops": 1}}],
        },
        spark=spark,
    ).register_table("e", edges).register_table("seeds", seeds)
    got = {(r.id, r.dist) for r in p.compile().collect()}
    assert got == {(0, 0), (1, 1)}


def test_personalized_pagerank_mass_concentrates_near_seeds(spark):
    from orientdb_etl_spark.functions.graph import pagerank

    # two disconnected 3-cycles; seeding only the first must leave the
    # second with EXACTLY zero rank (no uniform teleport leakage)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.rank for r in pagerank(edges, iterations=8, seeds=seeds).collect()}
    assert got[10] == 0.0 and got[11] == 0.0 and got[12] == 0.0
    assert got[0] > got[1] > 0  # seed holds the most mass; cycle spreads it
    assert abs(sum(got.values()) - 1.0) < 1e-9  # no dangling: mass conserved


def test_personalized_pagerank_rejects_foreign_seeds(spark):
    import pytest

    from orientdb_etl_spark.functions.graph import pagerank

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    ghost = spark.createDataFrame([(99,)], "id long")
    with pytest.raises(ValueError, match="no vertex"):
        pagerank(edges, seeds=ghost)


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_kcore_clique_survives_tail_peels(spark):
    from orientdb_etl_spark.functions.graph import kcore

    clique = [(a, b) for a in range(5) for b in range(5) if a < b]
    tail = [(4, 10), (10, 11), (11, 12)]
    out = {r.node: r.degree for r in kcore(_edges(spark, clique + tail), 3).collect()}
    # K5 survives at k=3 with in-core degree 4; the pendant chain peels
    assert out == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4}


def test_kcore_path_fully_peels_multiround(spark):
    from orientdb_etl_spark.functions.graph import kcore

    path = [(i, i + 1) for i in range(9)]
    assert kcore(_edges(spark, path), 2).count() == 0


def test_kcore_cap_raises_instead_of_partial_peel(spark):
    """A long path peels one vertex off each end per round; stopping
    after one round would leave a partial peel that is not a k-core."""
    from orientdb_etl_spark.functions.graph import kcore

    path = [(i, i + 1) for i in range(20)]
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(_edges(spark, path), 2, max_iter=1)


def test_kcore_k1_drops_only_isolated_selfloops(spark):
    from orientdb_etl_spark.functions.graph import kcore

    out = kcore(_edges(spark, [(1, 2), (3, 3)]), 1)
    assert {r.node for r in out.collect()} == {1, 2}


@pytest.mark.parametrize("case", ["empty", "single_vertex", "cap"])
def test_fixpoint_loops_on_degenerate_graphs(spark, case):
    """The three graph loops on ``iterate.fixpoint`` read their stop
    signal from the round's own job. An empty graph (whose observed
    frame the adaptive planner prunes) and a lone self-loop vertex stop
    after one round with the trivial answer; at the cap, kcore and scc's
    min-label loop raise while weighted_sssp returns its bounded answer."""
    from orientdb_etl_spark.functions.graph import kcore, scc, weighted_sssp

    if case == "cap":
        path = _edges(spark, [(i, i + 1) for i in range(12)])
        with pytest.raises(RuntimeError, match="did not converge"):
            kcore(path, 2, max_iter=2)
        with pytest.raises(RuntimeError, match="did not converge"):
            scc(path, max_rounds=1)
        chain = _wedges(spark, [(i, i + 1, 1) for i in range(12)])
        got = weighted_sssp(chain, _seeds(spark, [0]), rounds=3).collect()
        assert sorted(map(tuple, got)) == [(0, 0), (1, 1), (2, 2), (3, 3)]
        return
    pairs = [] if case == "empty" else [(1, 1)]
    assert kcore(_edges(spark, pairs), 1).collect() == []
    assert sorted(map(tuple, scc(_edges(spark, pairs)).collect())) == (
        [] if case == "empty" else [(1, 1)]
    )
    sssp = weighted_sssp(
        _wedges(spark, [(a, b, 1) for a, b in pairs]), _seeds(spark, [1]), rounds=5
    )
    assert sorted(map(tuple, sssp.collect())) == [(1, 0)]


def test_kcore_matches_unrolled_sql(spark):
    from orientdb_etl_spark.functions.graph import kcore, kcore_rounds_sql, symmetrize

    pairs = [(i, (i * 7 + 3) % 23) for i in range(60)] + [
        (a, b) for a in range(6) for b in range(6) if a < b
    ]
    e = _edges(spark, pairs)
    symmetrize(e).createOrReplaceTempView("kc_edges")
    # rounds=3 > the graph's measured peel depth of 2; keep it small in
    # Spark — plain (non-MATERIALIZED) CTEs are inlined at each of the 3
    # reference sites per round, so the plan grows 3^rounds
    sql = kcore_rounds_sql(4, rounds=3, edges_cte="SELECT src, dst FROM kc_edges")
    expect = {(r.node, r.degree) for r in spark.sql(sql).collect()}
    got = {(r.node, r.degree) for r in kcore(e, 4).collect()}
    assert got == expect and len(got) > 0


# ---------------------------------------------------------------------------
# label_propagation
# ---------------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_lpa_two_cliques_with_bridge(spark):
    from orientdb_etl_spark.functions.graph import label_propagation

    # two triangles joined by one bridge edge: each triangle must share
    # one label, and the labels differ across the triangles
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    out = {
        r.node: r.label
        for r in label_propagation(
            _edges(spark, tri1 + tri2 + [(3, 10)]), rounds=4
        ).collect()
    }
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]
    assert out[1] != out[10]


def test_lpa_deterministic_across_partitionings(spark):
    from orientdb_etl_spark.functions.graph import label_propagation

    pairs = [(i, (i * 7) % 23) for i in range(40) if i != (i * 7) % 23]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, label_propagation(e, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(e.repartition(17), rounds=3).collect()))
    assert a == b


def test_lpa_matches_unrolled_python(spark):
    from collections import Counter

    from orientdb_etl_spark.functions.graph import label_propagation

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 5)]
    rounds = 3
    # plain-python synchronous replay with min-label tie-break
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v, ns in adj.items():
            c = Counter(lab[n] for n in ns)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        lab = nxt
    got = {
        r.node: r.label
        for r in label_propagation(_edges(spark, pairs), rounds=rounds).collect()
    }
    assert got == lab


def test_lpa_validation(spark):
    import pytest as _pytest

    from orientdb_etl_spark.functions.graph import label_propagation

    with _pytest.raises(ValueError, match="rounds"):
        label_propagation(_edges(spark, [(1, 2)]), rounds=0)


# ---------------------------------------------------------------------------
# weighted_sssp
# ---------------------------------------------------------------------------


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src bigint, dst bigint, w bigint")


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id bigint")


def test_sssp_prefers_cheaper_longer_path(spark):
    from orientdb_etl_spark.functions.graph import weighted_sssp

    # 1->4 direct costs 10; 1->2->3->4 costs 3: BFS would say 1 hop,
    # weighted SSSP must relax to the cheaper 3-hop path
    edges = [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)]
    got = {
        r.id: r.dist
        for r in weighted_sssp(
            _wedges(spark, edges), _seeds(spark, [1]), rounds=4
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_sssp_rounds_bound_path_length(spark):
    """``rounds`` is part of the answer, not a convergence cap: hitting
    it before the fixpoint returns the bounded distances, no error."""
    from orientdb_etl_spark.functions.graph import weighted_sssp

    edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
    got = {
        r.id: r.dist
        for r in weighted_sssp(
            _wedges(spark, edges), _seeds(spark, [1]), rounds=2
        ).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}  # vertex 4 needs 3 edges: absent


def test_sssp_multi_source_takes_minimum(spark):
    from orientdb_etl_spark.functions.graph import weighted_sssp

    edges = [(1, 3, 5), (2, 3, 1)]
    got = {
        r.id: r.dist
        for r in weighted_sssp(
            _wedges(spark, edges), _seeds(spark, [1, 2]), rounds=2
        ).collect()
    }
    assert got[3] == 1


def test_sssp_early_exit_at_fixpoint(spark):
    from orientdb_etl_spark.functions.graph import weighted_sssp

    # tiny graph settles in 2 rounds; asking for 10 must return the
    # same answer (fixpoint early-exit, monotone relaxation)
    edges = [(1, 2, 2), (2, 1, 2)]
    a = sorted(map(tuple, weighted_sssp(
        _wedges(spark, edges), _seeds(spark, [1]), rounds=2).collect()))
    b = sorted(map(tuple, weighted_sssp(
        _wedges(spark, edges), _seeds(spark, [1]), rounds=10).collect()))
    assert a == b == [(1, 0), (2, 2)]


def test_adamic_adar_hand_weights(spark):
    import math

    from orientdb_etl_spark.functions.graph import adamic_adar

    # baskets: b1 = {x, y}, b2 = {x, y, z}, b3 = {x} (drops: size 1)
    rows = [("b1", "x"), ("b1", "y"), ("b2", "x"), ("b2", "y"),
            ("b2", "z"), ("b3", "x")]
    df = spark.createDataFrame(rows, "b string, i string")
    out = {(r.item_a, r.item_b): r for r in
           adamic_adar(df, "b", "i").collect()}
    xy = out[("x", "y")]
    assert xy.n_common == 2
    assert xy.aa_score == round(1 / math.log(2) + 1 / math.log(3), 6)
    assert out[("x", "z")].aa_score == round(1 / math.log(3), 6)
    assert out[("y", "z")].n_common == 1


def test_adamic_adar_basket_cap_and_min_common(spark):
    from orientdb_etl_spark.functions.graph import adamic_adar

    rows = [("big", f"i{k}") for k in range(10)] + [
        ("s1", "a"), ("s1", "b"), ("s2", "a"), ("s2", "b")]
    df = spark.createDataFrame(rows, "b string, i string")
    out = adamic_adar(df, "b", "i", min_common=2, max_basket_size=5).collect()
    # the size-10 basket is capped away; only (a, b) shares 2 baskets
    assert [(r.item_a, r.item_b, r.n_common) for r in out] == [("a", "b", 2)]


def test_modularity_two_triangles_bridge(spark):
    from orientdb_etl_spark.functions.graph import modularity

    # two triangles {1,2,3} / {4,5,6} joined by bridge 3-4: m=7,
    # intra=6, d_A=d_B=7 -> Q = 6/7 - 2*(7/14)^2 = 0.357143
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    # reversed duplicates + a self-loop must collapse away
    e = spark.createDataFrame(
        edges + [(b, a) for a, b in edges] + [(1, 1)], "src long, dst long"
    )
    lab = spark.createDataFrame(
        [(n, "A" if n <= 3 else "B") for n in range(1, 7)],
        "node long, label string",
    )
    row = modularity(e, lab).collect()[0]
    assert row.m_edges == 7
    assert row.n_nodes == 6
    assert row.n_communities == 2
    assert row.intra_edges == 6
    assert row.q_modularity == round(6 / 7 - 0.5, 6)


def test_modularity_unlabeled_vertex_raises(spark):
    import pytest as _pytest

    from orientdb_etl_spark.functions.graph import modularity

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    lab = spark.createDataFrame([(1, "A"), (2, "A")], "node long, label string")
    with _pytest.raises(ValueError, match="misses vertices"):
        modularity(e, lab).collect()


def test_modularity_single_community_is_zero(spark):
    from orientdb_etl_spark.functions.graph import modularity

    # all nodes in one community: Q = m/m - (2m/2m)^2 = 0
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    lab = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A")], "node long, label string"
    )
    assert modularity(e, lab).collect()[0].q_modularity == 0.0


def test_clustering_coefficient_triangle_plus_tail(spark):
    from orientdb_etl_spark.functions.graph import clustering_coefficient

    # triangle {1,2,3} with a pendant 3-4: degrees 2,2,3,1
    # wedges = 1+1+3+0 = 5; triangles = 1; C = 3/5
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    r = clustering_coefficient(e).collect()[0]
    assert (r.n_nodes, r.n_edges) == (4, 4)
    assert (r.n_wedges, r.n_triangles) == (5, 1)
    assert r.global_cc == 0.6


def test_clustering_coefficient_complete_and_wedgeless(spark):
    from orientdb_etl_spark.functions.graph import clustering_coefficient

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    r = clustering_coefficient(
        spark.createDataFrame(k4, "src long, dst long")
    ).collect()[0]
    assert r.global_cc == 1.0  # complete graph: every wedge closes
    single = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert clustering_coefficient(single).collect()[0].global_cc is None


def test_assortativity_star_is_negative(spark):
    from orientdb_etl_spark.functions.graph import assortativity

    # star K1,4: every edge joins degree 4 to degree 1 -> r = -1
    e = spark.createDataFrame([(0, i) for i in range(1, 5)], "src long, dst long")
    r = assortativity(e).collect()[0]
    assert (r.n_nodes, r.m_edges) == (5, 4)
    assert r.r_assortativity == -1.0


def test_assortativity_regular_graph_null(spark):
    from orientdb_etl_spark.functions.graph import assortativity

    # cycle C4: all degrees 2, zero variance -> NULL
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    assert assortativity(e).collect()[0].r_assortativity is None


def test_assortativity_hand_computed_path(spark):
    from orientdb_etl_spark.functions.graph import assortativity

    # path 1-2-3: directed pairs (d_j, d_k) = (1,2),(2,1),(2,1),(1,2)
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    r = assortativity(e).collect()[0]
    # mu = 1.5, var = .25, cov = E[jk] - mu^2 = 2 - 2.25 = -.25 -> r=-1
    assert r.r_assortativity == -1.0


# ---------- neighborhood_function / hyperball ----------


def _nf_map(rows):
    return {(r["id"], r["radius"]): r[2] for r in rows}


def test_neighborhood_function_hand_computed(spark):
    from orientdb_etl_spark.functions.graph import neighborhood_function

    # path 1-2-3-4-5 with chord 1-3; separate component 6-7
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (6, 7)], "src int, dst int"
    )
    got = _nf_map(neighborhood_function(edges, radius=3).collect())
    assert got[(1, 1)] == 2 and got[(1, 2)] == 3 and got[(1, 3)] == 4
    assert got[(3, 1)] == 3 and got[(3, 2)] == 4
    assert got[(5, 1)] == 1 and got[(5, 3)] == 4
    assert got[(6, 1)] == 1 and got[(6, 3)] == 1  # isolated pair saturates


def test_neighborhood_function_max_pairs_guard(spark):
    import pytest as _pt

    from orientdb_etl_spark.functions.graph import neighborhood_function

    # K5: every ball saturates instantly; 20 ordered pairs > cap 10
    edges = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)],
        "src int, dst int",
    )
    with _pt.raises(ValueError, match="max_pairs"):
        neighborhood_function(edges, radius=2, max_pairs=10)
    with _pt.raises(ValueError, match="radius"):
        neighborhood_function(edges, radius=0)


def test_hyperball_matches_exact_on_fixture_graph(spark):
    """The HLL certificate: on a 60-vertex random graph the sketch
    estimate tracks the exact neighborhood function within the standard
    HLL error envelope (lgConfigK=12 -> ~1.6% sigma; assert 10%)."""
    from orientdb_etl_spark.functions.graph import (
        hyperball,
        neighborhood_function,
    )

    edges = spark.createDataFrame(
        [(i, (i * i + 7 * i + 3) % 60) for i in range(60)]
        + [(i, (3 * i + 1) % 60) for i in range(60)],
        "src int, dst int",
    ).filter("src != dst")
    exact = _nf_map(neighborhood_function(edges, radius=3).collect())
    approx = _nf_map(hyperball(edges, radius=3).collect())
    assert set(exact) == set(approx)
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(1, 0.10 * ex), (k, ex, approx[k])


def test_scc_hand_graph_and_functional(spark):
    """Two directed cycles + a tail + a feeder vertex resolve exactly;
    a functional graph's SCCs are its cycles (every component shows one
    multi-member SCC + singleton tail vertices); repartition-invariant."""
    from pyspark.sql import functions as F

    from orientdb_etl_spark.functions.graph import scc

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (6, 1), (7, 4)],
        "src int, dst int",
    )
    got = {r["id"]: r["scc"] for r in scc(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 7}
    got2 = {r["id"]: r["scc"] for r in scc(edges.repartition(5)).collect()}
    assert got2 == got

    # functional graph u -> (17u + 7) mod 60: out-degree exactly 1, so
    # every SCC with >1 member is a cycle; mutual reachability checked
    # against the python transitive closure
    n = 60
    fg = spark.range(n).select(
        F.col("id").cast("int").alias("src"),
        ((F.col("id") * 17 + 7) % n).cast("int").alias("dst"),
    )
    res = {r["id"]: r["scc"] for r in scc(fg).collect()}
    assert len(res) == n
    succ = {u: (17 * u + 7) % n for u in range(n)}
    reach = {u: set() for u in range(n)}
    for u in range(n):
        v = succ[u]
        while v not in reach[u]:
            reach[u].add(v)
            v = succ[v]
    for u in range(n):
        comp = {v for v in reach[u] if u in reach[v]} | (
            {u} if u in reach[u] else {u}
        )
        assert res[u] == min(min(comp), u)


def test_scc_raises_on_phase_exhaustion(spark):
    import pytest as _pt

    from orientdb_etl_spark.functions.graph import scc

    # a 4-chain of singleton SCCs with DESCENDING ids resolves one
    # vertex per phase (the documented pathology) — cap at 1 phase
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1)], "src int, dst int"
    )
    with _pt.raises(ValueError, match="phases"):
        scc(edges, max_phases=1)
    # and succeeds with enough phases
    got = {r["id"]: r["scc"] for r in scc(edges, max_phases=6).collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}


# ------------------------------------------------- local clustering coeff


def test_local_cc_known_graph(spark):
    from orientdb_etl_spark.functions.graph import local_clustering_coefficient

    # K4 on {1..4} plus a pendant 5-1: lcc(K4 nodes)=1 except node 1
    # (degree 4, triangles 3 -> 0.5); pendant has degree 1 -> NULL
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {
        r.node: (r.degree, r.triangles, r.lcc)
        for r in local_clustering_coefficient(df).collect()
    }
    assert out[1] == (4, 3, 0.5)
    for v in (2, 3, 4):
        assert out[v] == (3, 3, 1.0)
    assert out[5] == (1, 0, None)


def test_local_cc_matches_global_triangle_total(spark):
    import random

    from orientdb_etl_spark.functions.graph import (
        local_clustering_coefficient,
        triangle_count,
    )

    rng = random.Random(3)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(160)})
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "src bigint, dst bigint"
    )
    per = local_clustering_coefficient(df)
    total = per.groupBy().sum("triangles").collect()[0][0]
    # every triangle contributes exactly 3 endpoint rows
    assert total == 3 * triangle_count(df).collect()[0][0]


# ------------------------------------------------------------------ HITS


def _hits_ref(edges, iters):
    nodes = sorted({v for e in edges for v in e})
    h = {v: 1.0 for v in nodes}
    a = {}
    for _ in range(iters):
        a = {v: 0.0 for v in nodes}
        for u, v in edges:
            a[v] += h[u]
        h = {v: 0.0 for v in nodes}
        for u, v in edges:
            h[u] += a[v]
    mh, ma = max(h.values()), max(a.values())
    return (
        {v: round(h[v] / mh, 6) if mh > 0 else 0.0 for v in nodes},
        {v: round(a[v] / ma, 6) if ma > 0 else 0.0 for v in nodes},
    )


def test_hits_matches_reference_iteration(spark):
    import random

    from orientdb_etl_spark.functions.graph import hits

    rng = random.Random(9)
    edges = sorted({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.id: (r.hub, r.authority) for r in hits(df, iterations=3).collect()}
    H, A = _hits_ref(edges, 3)
    assert got == {v: (H[v], A[v]) for v in H}


def test_hits_sink_and_source_roles(spark):
    from orientdb_etl_spark.functions.graph import hits

    # star into 9: 9 is the authority (1.0), spokes are the hubs
    edges = [(i, 9) for i in range(4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {r.id: (r.hub, r.authority) for r in hits(df, iterations=2).collect()}
    assert out[9] == (0.0, 1.0)
    for i in range(4):
        assert out[i] == (1.0, 0.0)


def test_louvain_move_pass_matches_python_replay(spark):
    from collections import Counter

    from orientdb_etl_spark.functions.graph import louvain_move_pass

    # two 4-cliques joined by one bridge edge; singleton init
    cliq1, cliq2 = [1, 2, 3, 4], [5, 6, 7, 8]
    raw = [
        (a, b)
        for grp in (cliq1, cliq2)
        for i, a in enumerate(grp)
        for b in grp[i + 1:]
    ] + [(4, 5)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    labels = spark.createDataFrame(
        [(n, n * 10) for n in range(1, 9)], "node long, label long"
    )
    got = louvain_move_pass(edges, labels).collect()[0]

    und = {(min(a, b), max(a, b)) for a, b in raw}
    ed = [(u, v) for a, b in und for u, v in ((a, b), (b, a))]
    deg = Counter(u for u, _ in ed)
    m2 = sum(deg.values())
    lab = {n: n * 10 for n in range(1, 9)}

    def q_scaled(lb):
        in2 = sum(1 for u, v in ed if lb[u] == lb[v])
        sig = Counter()
        for u in deg:
            sig[lb[u]] += deg[u]
        return m2 * in2 - sum(s * s for s in sig.values()), len(sig)

    sig = Counter()
    for u in deg:
        sig[lab[u]] += deg[u]
    wic = Counter()
    for u, v in ed:
        wic[(u, lab[v])] += 1
    new = {}
    for u in deg:
        cands = {lab[v] for x, v in ed if x == u} | {lab[u]}
        best = sorted(
            cands,
            key=lambda c: (
                -(m2 * wic.get((u, c), 0)
                  - deg[u] * (sig[c] - (deg[u] if c == lab[u] else 0))),
                c,
            ),
        )[0]
        new[u] = best
    qb, ncb = q_scaled(lab)
    qa, nca = q_scaled(new)
    assert got.m2 == m2
    assert got.n_moved == sum(1 for u in deg if new[u] != lab[u])
    assert (got.n_comm_before, got.n_comm_after) == (ncb, nca)
    assert got.q_before == round(qb / (m2 * m2), 6)
    assert got.q_after == round(qa / (m2 * m2), 6)
    assert got.improved == (qa >= qb)
    # moving out of singletons into clique communities must help
    assert got.improved and got.n_comm_after < got.n_comm_before


def test_louvain_move_pass_labels_output(spark):
    from orientdb_etl_spark.functions.graph import louvain_move_pass

    raw = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    labels = spark.createDataFrame(
        [(n, n) for n in range(1, 7)], "node long, label long"
    )
    lab = louvain_move_pass(edges, labels, output="labels")
    assert set(lab.columns) == {"node", "label"}
    assert lab.count() == 6
    import pytest as _pytest

    with _pytest.raises(ValueError):
        louvain_move_pass(edges, labels, output="bogus")


# Every public graph function, called on an edge frame alone. Vertices
# 1..3 / 4..6 are the two communities of the normal-form fixtures.
_GRAPH_CALLS = {
    "triangle_count": lambda e, lab: G.triangle_count(e),
    "clustering_coefficient": lambda e, lab: G.clustering_coefficient(e),
    "local_clustering_coefficient": lambda e, lab: G.local_clustering_coefficient(e),
    "assortativity": lambda e, lab: G.assortativity(e),
    "modularity": lambda e, lab: G.modularity(e, lab),
    "louvain_move_pass": lambda e, lab: G.louvain_move_pass(e, lab),
    "symmetrize": lambda e, lab: G.symmetrize(e),
    "kcore": lambda e, lab: G.kcore(e, 2),
    "label_propagation": lambda e, lab: G.label_propagation(e, rounds=3),
    "neighborhood_function": lambda e, lab: G.neighborhood_function(e, radius=2),
    "hyperball": lambda e, lab: G.hyperball(e, radius=2),
    "pagerank": lambda e, lab: G.pagerank(e, iterations=5),
    "hits": lambda e, lab: G.hits(e),
    "scc": lambda e, lab: G.scc(e),
}
_DIRECTED = {"pagerank", "hits", "scc"}


def _graph_rows(spark, name, pairs):
    lab = spark.createDataFrame(
        [(n, 0 if n <= 3 else 1) for n in range(1, 7)], "node long, label long"
    )
    e = spark.createDataFrame(pairs, "src long, dst long")
    rows = _GRAPH_CALLS[name](e, lab).collect()
    # doubles to 9 places: the two inputs may sum in different orders
    return sorted(
        (tuple(round(x, 9) if isinstance(x, float) else x for x in r) for r in rows),
        key=repr,
    )


# rows on [] and on [(1, 1), (2, NULL)]: the undirected normal form is
# empty on both; the directed one keeps vertex 1 with its self-loop
_EMPTY_GRAPH_ROWS = {
    "triangle_count": [(0,)],
    "clustering_coefficient": [(0, 0, 0, 0, None)],
    "assortativity": [(0, 0, None)],
    "modularity": [(0, 0, 0, 0, None)],
    "louvain_move_pass": [(0, 0, 0, 0, None, None, None)],
}
_LOOP_GRAPH_ROWS = {"pagerank": [(1, 1.0)], "hits": [(1, 1.0, 1.0)], "scc": [(1, 1)]}


@pytest.mark.parametrize("case", ["empty", "self_loop_and_null"])
@pytest.mark.parametrize("name", sorted(_GRAPH_CALLS))
def test_graph_functions_on_degenerate_edge_lists(spark, name, case):
    """An empty edge list is a graph with no vertices, so nothing divides
    by its vertex count; a NULL endpoint is no vertex, so no function
    ranks a NULL id or counts it in N."""
    pairs = [] if case == "empty" else [(1, 1), (2, None)]
    want = _EMPTY_GRAPH_ROWS.get(name, [])
    if case != "empty" and name in _DIRECTED:
        want = _LOOP_GRAPH_ROWS[name]
    assert _graph_rows(spark, name, pairs) == want


_CLEAN = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)]
_NULLS = [(None, 5), (5, None), (None, None)]


@pytest.mark.parametrize("name", sorted(_GRAPH_CALLS))
def test_graph_functions_see_one_normal_form(spark, name):
    """Duplicates, NULL endpoints and (undirected) reversed duplicates and
    self-loops are not part of the graph: every function returns the rows
    of the clean edge list. Directed functions get duplicates in the same
    orientation only, since a reversed edge or a self-loop is a new
    directed edge."""
    if name in _DIRECTED:
        messy = _NULLS + _CLEAN + _CLEAN[2:5]
    else:
        messy = (
            _NULLS + [(b, a) for a, b in _CLEAN] + _CLEAN + _CLEAN[:3]
            + [(4, 4), (7, 7)]
        )
    assert _graph_rows(spark, name, messy) == _graph_rows(spark, name, _CLEAN)
