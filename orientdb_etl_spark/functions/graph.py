"""Graph analytics over the engine's vertex/edge output.

The reference is an OrientDB loader — vertices and edges are first-class
outputs (OVertexTransformer.java:68-74, OEdgeTransformer.java:130-141) but
the reference can only *store* them; every traversal happens later inside
OrientDB. This module closes that gap Spark-side: degree centrality and
fixed-iteration PageRank as DataFrame programs over the same (src, dst)
edge frame the edge transformer emits.

Scale shape: every iteration is one equi-join (ranks ⋈ edges on the
out-vertex, shuffled on the join key) + one aggregation on the in-vertex —
the standard join-agg PageRank on a distributed engine (the Pregel-style
formulation of Malewicz et al., SIGMOD'10, expressed relationally).
Loops run on the shapes of :mod:`~orientdb_etl_spark.functions.iterate`;
at real scale the edge frame is the only large operand and it is
shuffle-partitioned once on ``src`` and reused.

Every function reads its edges through one normal form, ``_undirected``
(with its ``_degrees`` and ``_triangles``) or ``_directed``, so all
functions of a kind treat duplicates, self-loops and NULL endpoints alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from orientdb_etl_spark.context import PipelineContext
from orientdb_etl_spark.functions.dedup import connected_component_labels
from orientdb_etl_spark.functions.iterate import chain_cut, fixpoint
from orientdb_etl_spark.operators import register

__all__ = [
    "connected_component_labels",
    "degrees",
    "pagerank",
    "triangle_count",
    "label_propagation",
    "lpa_rounds_sql",
    "weighted_sssp",
    "sssp_rounds_sql",
    "modularity",
    "clustering_coefficient",
    "local_clustering_coefficient",
    "hits",
    "hits_rounds_sql",
    "assortativity",
    "neighborhood_function",
    "hyperball",
]


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(id, out_degree, in_degree) for every vertex that appears on either
    end of an edge. One aggregation per direction + one outer merge; all
    map-side combinable."""
    out_d = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst).alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .na.fill(0, ["out_degree", "in_degree"])
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple graph as canonical ``(a, b)`` rows with
    ``a < b``: orientation folded by least/greatest, self-loops dropped,
    duplicates collapsed by one distinct (one shuffle). ``least`` and
    ``greatest`` skip NULLs, so an edge with one NULL endpoint folds to
    a self-loop and an all-NULL edge fails the comparison — both drop
    with the self-loops."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """``(v, d)``: the degree of every vertex of a canonical edge frame
    (one map-side-combinable aggregation)."""
    return (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """One ``(u, p, q)`` row per triangle of a canonical edge frame,
    ``u`` its lowest-ordered vertex.

    Degree-ordered orientation (Suri & Vassilvitskii, WWW'11): every edge
    is directed from its lower-(degree, id) endpoint to the higher one, so
    each triangle forms exactly one wedge — at its lowest-ordered vertex —
    and per-vertex out-degree is O(√m) even on power-law graphs. That
    bounds the wedge explosion (the "curse of the last reducer"): the
    wedge join fans out by oriented out-degree, not by raw hub degree.
    Plan: the degree table joined onto both endpoints (broadcastable —
    |vertices| rows), wedge self-join on the low vertex, closing-edge join.
    """
    ranked = (
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    # orient low-(degree, id) -> high-(degree, id); rank structs share
    # field names so the CASE branches type-unify
    ra = F.struct(F.col("da").alias("d"), F.col("a").alias("v"))
    rb = F.struct(F.col("db").alias("d"), F.col("b").alias("v"))
    a_first = ra < rb
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(a_first, rb).otherwise(ra).alias("_ow"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(
        y,
        (F.col("x.u") == F.col("y.u")) & (F.col("x._ow") < F.col("y._ow")),
    ).select(F.col("x.u").alias("u"), F.col("x.w").alias("p"), F.col("y.w").alias("q"))
    closing = und.select(F.col("a").alias("p2"), F.col("b").alias("q2"))
    return wedges.join(
        closing,
        (F.least("p", "q") == F.col("p2")) & (F.greatest("p", "q") == F.col("q2")),
    ).select("u", "p", "q")


def _directed(edges: DataFrame, src: str, dst: str) -> tuple[DataFrame, DataFrame]:
    """The directed graph as ``(src, dst)`` rows — parallel edges counted
    once, edges with a NULL endpoint dropped — and its vertex set
    ``(id)``, each eagerly checkpointed: every directed function reads
    both in every round."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, nodes


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Total triangle count of the undirected simple graph, one row
    ``(n_triangles)``: the rows of :func:`_triangles` counted."""
    und = _undirected(edges, src, dst)
    return _triangles(und, _degrees(und)).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    damping: float = 0.85,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank → (id, rank).

    r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u) / outdeg(u), with uniform
    r_0 = 1/N. Parallel edges count once, edges with a NULL endpoint drop
    (the :func:`_directed` edge set) and an empty graph returns an empty
    frame. Dangling-vertex mass is NOT redistributed — rank totals < 1
    when sinks exist; both choices are deterministic and mirrored exactly
    by the SQL oracle (a recursive CTE driving the same recurrence).

    Fixed ``iterations`` (not convergence-tested) keeps the run
    deterministic and avoids a per-iteration driver action. Each
    iteration's rank frame has exactly ONE consumer (the next
    iteration's contribution join), so iterations chain LAZILY into the
    caller's single action, lineage cut by ``iterate.chain_cut`` (the
    edge and node frames, consumed every iteration, keep their up-front
    cuts).

    ``seeds`` (a 1-column ``id`` frame) switches to PERSONALIZED
    PageRank: teleport mass (1-d) flows only to the seed set (p(v) =
    1/|S| on seeds, 0 elsewhere; r_0 = p), ranking vertices by proximity
    to the seeds — the similar-entities/recommendation variant
    (Jeh & Widom WWW'03). Same join-agg loop; the teleport vector is a
    per-node column attached once, so the per-iteration cost is
    identical to the uniform case.
    """
    e, nodes = _directed(edges, src, dst)
    if seeds is not None:
        seed_ids = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
        marked = nodes.join(
            F.broadcast(seed_ids.withColumn("_s", F.lit(1))), "id", "left"
        )
        n_seeds = marked.filter(F.col("_s").isNotNull()).count()
        if n_seeds == 0:
            raise ValueError("seeds contain no vertex present in the graph")
        nodes = marked.select(
            "id",
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("_p"),
        ).localCheckpoint(eager=True)
    else:
        n_nodes = nodes.count()
        if n_nodes == 0:
            return nodes.select("id", F.lit(0.0).alias("rank"))
        nodes = nodes.withColumn("_p", F.lit(1.0 / n_nodes))
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("_deg")
    )
    ranks = nodes.select("id", F.col("_p").alias("rank"))
    for it in range(1, iterations + 1):
        contrib = (
            ranks.join(out_deg, "id")
            .join(e, F.col("id") == F.col("src"))
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("_deg")).alias("_c"),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(1.0 - damping) * F.col("_p")
                + damping * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = chain_cut(ranks, it, iterations)
    return ranks


@register("degrees")
def degrees_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Config form: {"degrees": {"src": "src", "dst": "dst"}} over an
    edge-shaped pipeline payload (e.g. the edge transformer's output)."""
    return degrees(df, cfg.get("src", "src"), cfg.get("dst", "dst"))


@register("triangles")
def triangles_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Config form: {"triangles": {"src": "src", "dst": "dst"}} — total
    triangle count of the edge-shaped payload (degree-ordered orientation;
    see :func:`triangle_count`)."""
    return triangle_count(df, cfg.get("src", "src"), cfg.get("dst", "dst"))


@register("connectedComponents")
def connected_components_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """Config form: {"connectedComponents": {"src": "src", "dst": "dst"}}
    — (id, label) per vertex with label = component min, via the
    large-star/small-star contraction shared with the dedup survivor
    machinery (diameter-independent rounds)."""
    pairs = df.select(
        F.col(cfg.get("src", "src")).alias("keep_id"),
        F.col(cfg.get("dst", "dst")).alias("dup_id"),
    )
    return connected_component_labels(
        pairs, max_iter=int(cfg.get("maxIter", 25))
    )


@register("pagerank")
def pagerank_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Config form: {"pagerank": {"src": "src", "dst": "dst",
    "iterations": 8, "damping": 0.85}}."""
    return pagerank(
        df,
        cfg.get("src", "src"),
        cfg.get("dst", "dst"),
        int(cfg.get("iterations", 8)),
        float(cfg.get("damping", 0.85)),
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_hops: int = 10,
) -> DataFrame:
    """Minimum hop-distance from a set of source vertices: frontier BFS
    as iterated join-expand (the relational Pregel shape, same family as
    this module's PageRank). Returns (id, dist) for every vertex within
    ``max_hops`` of any source; unreachable vertices are absent.

    Each hop is ONE equi-join of the current frontier against the edge
    frame (shuffled on the join key) + an anti-join against the settled
    set — a vertex enters the result at its FIRST discovery, which in
    BFS is its minimum distance, so no re-relaxation pass is needed
    (contrast weighted shortest paths). ``localCheckpoint`` truncates
    lineage per hop; the loop stops early when a frontier empties, and
    ``max_hops`` caps pathological diameters the same way the
    connected-components iteration is capped.

    The frontier anti-join keeps per-hop work at |frontier ⋈ edges|,
    never |vertices|²; on a 1000-executor cluster the edge frame is the
    one large operand — partition it once on ``src`` and every hop
    reuses that layout.
    """
    dist = (
        sources.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    frontier = dist
    for hop in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(edges, frontier["id"] == edges[src])
            .select(F.col(dst).alias("id"))
            .distinct()
            .join(dist, "id", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        # dist is a union of already-checkpointed hop frames — cheap to
        # re-traverse (no shuffle above the checkpoints), so it needs no
        # checkpoint of its own: dropping it saves one job per hop
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


@register("bfs")
def bfs_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Config form: {"bfs": {"sourcesTable": "seeds", "src": "src",
    "dst": "dst", "idField": "id", "maxHops": 5}} — the pipeline frame
    is the edge list, the registered table the seed vertices."""
    return bfs_distances(
        df,
        ctx.tables[cfg["sourcesTable"]],
        src=cfg.get("src", "src"),
        dst=cfg.get("dst", "dst"),
        id_col=cfg.get("idField", "id"),
        max_hops=int(cfg.get("maxHops", 10)),
    )


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected simple-graph normal form with both orientations: the
    canonical edge set of :func:`_undirected` unioned with its mirror, as
    ``(src, dst)`` rows. The two halves are disjoint (``src < dst`` and
    ``src > dst``), so the union is still a set — the input contract of
    :func:`kcore`'s fixpoint. One distinct (= one shuffle)."""
    und = _undirected(edges, src, dst)
    return und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """The k-core: the maximal subgraph in which every vertex has degree
    >= k, by iterative peeling (Matula–Beck) — drop all vertices of
    degree < k, recompute degrees, repeat to fixpoint. Returns
    ``(node, degree)`` with each survivor's degree INSIDE the core.

    Each round is two windows over the shrinking symmetrized edge frame:
    one by ``src`` keeps the rows whose source has degree >= k, one by
    the unordered endpoint pair keeps an edge iff both its orientations
    stayed. The round counts the vertices of degree < k it drops, so
    ``iterate.fixpoint`` exits on the first round that removes nothing
    (further rounds are no-ops, which is what lets a fixed-round
    unrolled oracle replay it, see :func:`kcore_rounds_sql`); reaching
    ``max_iter`` raises, since a partial peel is not a k-core.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def peel(cur: DataFrame, changed) -> DataFrame:
        by_src = Window.partitionBy("src")
        deg = cur.withColumn("_deg", F.count(F.lit(1)).over(by_src)).withColumn(
            "_first", F.col("dst") == F.min("dst").over(by_src)
        )
        kept = changed(deg, (F.col("_deg") < k) & F.col("_first")).where(
            F.col("_deg") >= k
        )
        pair = Window.partitionBy(F.least("src", "dst"), F.greatest("src", "dst"))
        return (
            kept.withColumn("_both", F.count(F.lit(1)).over(pair))
            .where(F.col("_both") == 2)
            .select("src", "dst")
        )

    cur = fixpoint(symmetrize(edges, src, dst), peel, max_iter, "k-core peeling")
    return cur.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def kcore_rounds_sql(
    k: int, rounds: int, edges_cte: str, materialized: bool = False
) -> str:
    """The SAME peeling unrolled to ``rounds`` fixed rounds as portable
    SQL (Spark SQL and DuckDB both run it verbatim) — the oracle twin of
    :func:`kcore`. ``edges_cte`` must yield the symmetrized distinct
    (src, dst) frame. Because peeling is monotone, any round count at or
    past the fixpoint gives the identical answer, so the oracle only
    needs ``rounds`` >= the data's peel depth (tests pin that margin).

    ``materialized=True`` emits ``AS MATERIALIZED`` CTEs (DuckDB syntax;
    Spark SQL rejects it) — REQUIRED for DuckDB beyond ~3 rounds: its
    optimizer inlines each CTE at every reference site, and each round
    references the previous one three times, so plain CTEs re-expand the
    base scan 3^rounds times (observed as "Too many open files" at
    rounds=8). Spark materializes per-round via the engine path instead;
    the plain form is only used in small cross-engine tests.
    """
    mat = "MATERIALIZED " if materialized else ""
    parts = [f"e0 AS {mat}({edges_cte})"]
    for r in range(1, int(rounds) + 1):
        parts.append(
            f"n{r} AS {mat}(SELECT src AS v FROM e{r-1} "
            f"GROUP BY src HAVING count(*) >= {int(k)})"
        )
        parts.append(
            f"e{r} AS {mat}(SELECT e.src, e.dst FROM e{r-1} e "
            f"JOIN n{r} a ON e.src = a.v JOIN n{r} b ON e.dst = b.v)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT src AS node, count(*) AS degree FROM e{rounds} GROUP BY src"
    )


@register("kcore")
def kcore_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Config form: {"kcore": {"k": 3, "src": "src", "dst": "dst",
    "maxIter": 30}} — the pipeline frame is the edge list."""
    return kcore(
        df,
        k=int(cfg["k"]),
        src=cfg.get("src", "src"),
        dst=cfg.get("dst", "dst"),
        max_iter=int(cfg.get("maxIter", 30)),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan,
    Albert & Kumara 2007), fully deterministic: every node starts
    labelled with its own id; each round EVERY node simultaneously
    adopts the most frequent label among its neighbors, ties to the
    SMALLEST label. Returns ``(node, label)`` after ``rounds`` rounds.

    Determinism is a deliberate departure from the paper's
    random-order asynchronous update (which is irreproducible by
    design): synchronous rounds + the min-label tie-break make the
    result a pure function of (graph, rounds) — which is what lets a
    fixed-round SQL oracle replay it (:func:`lpa_rounds_sql`) and makes
    reruns stable at 100 TB. Known cost: bipartite-ish regions can
    oscillate with period 2 instead of converging — callers pick
    ``rounds`` (communities stabilize in a handful on real graphs;
    labels after ANY fixed round count are still a valid clustering).

    Scale shape per round: one edges⋈labels equi-join on the vertex key
    + one (node, label) count + one max_by argmax per node — all
    shuffled on the vertex key (the partitioning reuses across rounds),
    no window. Each round's label frame has exactly ONE consumer (the
    next round's join), so the rounds chain LAZILY into a single action
    — no per-round job barrier; ``iterate.chain_cut`` bounds the plan
    for large round budgets (the edge frame, consumed every round,
    keeps its up-front cut). The symmetrized frame guarantees every
    node has ≥1 neighbor, so no keep-own-label outer join is needed.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    ed = symmetrize(edges, src, dst).localCheckpoint()
    labels = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for r in range(1, int(rounds) + 1):
        nbr = ed.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("_c"))
        labels = cnt.groupBy("node").agg(
            F.max_by(
                F.col("label"),
                F.struct(F.col("_c"), (-F.col("label")).alias("_nl")),
            ).alias("label")
        )
        labels = chain_cut(labels, r, int(rounds))
    return labels


def lpa_rounds_sql(rounds: int, edges_cte: str, materialized: bool = False) -> str:
    """Portable unrolled twin of :func:`label_propagation` — one Python
    generator emits both engines' SQL. ``edges_cte`` must yield the
    symmetrized distinct (src, dst) frame. The argmax is row_number by
    (count DESC, label ASC): a different mechanism than the engine
    path's max_by, but the same deterministic selection."""
    mat = "MATERIALIZED " if materialized else ""
    parts = [
        f"e AS {mat}({edges_cte})",
        f"l0 AS {mat}(SELECT DISTINCT src AS node, src AS label FROM e)",
    ]
    for r in range(1, int(rounds) + 1):
        parts.append(
            f"c{r} AS {mat}(SELECT e.src AS node, l.label, count(*) AS c "
            f"FROM e JOIN l{r-1} l ON e.dst = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"l{r} AS {mat}(SELECT node, label FROM "
            f"(SELECT node, label, row_number() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label) AS rn FROM c{r}) WHERE rn = 1)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT node, label FROM l{rounds}"


@register("labelPropagation")
def label_propagation_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """Config form: {"labelPropagation": {"src": "src", "dst": "dst",
    "rounds": 3}}"""
    return label_propagation(
        df,
        src=cfg.get("src", "src"),
        dst=cfg.get("dst", "dst"),
        rounds=int(cfg.get("rounds", 3)),
    )


def weighted_sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    id_col: str = "id",
    rounds: int = 4,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths by ``rounds``
    synchronous Bellman–Ford relaxations — the weighted complement of
    :func:`bfs_distances`. Returns ``(id, dist)``: the minimum-weight
    path using at most ``rounds`` edges from any source (vertices
    beyond that are absent). Weights must be non-negative; use INTEGER
    weights when the result must replay exactly in another engine
    (integer min-plus is exact at any fold order; float sums are not).

    Unlike BFS, first discovery is NOT final under weights — a longer
    hop count can be cheaper — so every round re-relaxes: one
    dist⋈edges equi-join on the vertex key, a union with the standing
    distances, and a min per vertex. All three shuffle on the vertex
    key (one partitioning reused across rounds). A round counts the
    vertices that are new or whose distance dropped, and
    ``iterate.fixpoint`` exits early once that is 0; reaching ``rounds``
    returns the ``rounds``-edge answer, not an error.
    Fixed synchronous rounds + min-fold determinism make the result a
    pure function of (graph, rounds) — replayable by
    :func:`sssp_rounds_sql`, the same contract as
    :func:`label_propagation` / :func:`kcore`.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    ed = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), F.col(weight).alias("_w")
    ).localCheckpoint()

    def relax(dist: DataFrame, changed) -> DataFrame:
        step = dist.join(ed, dist["id"] == ed["_s"]).select(
            F.col("_d").alias("id"),
            (F.col("dist") + F.col("_w")).alias("dist"),
            F.lit(None).alias("_was"),
        )
        best = (
            dist.withColumn("_was", F.col("dist"))
            .unionByName(step)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"), F.min("_was").alias("_was"))
        )
        improved = F.col("_was").isNull() | (F.col("dist") < F.col("_was"))
        return changed(best, improved).select("id", "dist")

    start = sources.select(F.col(id_col).alias("id")).distinct()
    return fixpoint(start.withColumn("dist", F.lit(0).cast("bigint")), relax, rounds)


def sssp_rounds_sql(rounds: int, edges_cte: str, sources_cte: str,
                    materialized: bool = False) -> str:
    """Portable unrolled twin of :func:`weighted_sssp` — one generator,
    both engines. ``edges_cte`` yields (src, dst, w); ``sources_cte``
    yields (id)."""
    mat = "MATERIALIZED " if materialized else ""
    parts = [
        f"e AS {mat}({edges_cte})",
        f"d0 AS {mat}(SELECT DISTINCT id, CAST(0 AS BIGINT) AS dist "
        f"FROM ({sources_cte}))",
    ]
    for r in range(1, int(rounds) + 1):
        parts.append(
            f"d{r} AS {mat}(SELECT id, min(dist) AS dist FROM ("
            f"SELECT id, dist FROM d{r-1} "
            f"UNION ALL "
            f"SELECT e.dst AS id, d{r-1}.dist + e.w AS dist "
            f"FROM d{r-1} JOIN e ON d{r-1}.id = e.src) GROUP BY id)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT id, dist FROM d{rounds}"


def adamic_adar(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_common: int = 1,
    max_basket_size: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Adamic–Adar link-prediction scores over the item projection of a
    bipartite (basket, item) graph: for each unordered item pair with
    ``item_a < item_b``, ``(item_a, item_b, n_common, aa_score)`` where
    ``aa_score = sum over shared baskets b of 1 / ln(|b|)`` — common
    neighbors weighted inversely by how promiscuous the neighbor is
    (Adamic & Adar 2003), the standard "people who bought X also
    bought Y" candidate scorer that doesn't let megabaskets dominate.

    Scale shape: the :func:`~orientdb_etl_spark.functions.basket.
    frequent_pairs` discipline — single-item baskets drop (they form no
    pairs, and ln(1) = 0 would be a division hazard), ``max_basket_size``
    caps the quadratic per-basket fan-out (the LSH bucket-cap rule: a
    degenerate hot basket of size B emits B² pairs), one self-join per
    basket on the pruned frame, ONE grouped shuffle on the pair key.
    """
    b, i = F.col(basket_col), F.col(item_col)
    baskets = (
        df.select(b.alias("basket"), i.alias("item"))
        .where(b.isNotNull() & i.isNotNull())
        .distinct()
    )
    sized = baskets.groupBy("basket").agg(F.count(F.lit(1)).alias("_sz"))
    cond = F.col("_sz") >= 2
    if max_basket_size is not None:
        cond = cond & (F.col("_sz") <= int(max_basket_size))
    keep = sized.filter(cond)
    pruned = baskets.join(F.broadcast(keep), "basket")
    a = pruned.select("basket", F.col("item").alias("item_a"), "_sz")
    c = pruned.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(c, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("_sz").cast("double"))).alias(
                "_aa"
            ),
        )
        .filter(F.col("n_common") >= int(min_common))
    )
    return pairs.select(
        "item_a",
        "item_b",
        "n_common",
        F.round(F.col("_aa"), round_to).alias("aa_score"),
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Newman modularity of a vertex partition (Newman & Girvan 2004):
    ``Q = Σ_c [ e_c/m − (d_c/2m)² ]`` over the undirected simple graph
    (self-loops dropped, duplicate edges collapsed) — the quality
    certificate for :func:`label_propagation` output, answering "are
    these communities denser than chance?" One row: ``(m_edges,
    n_nodes, n_communities, intra_edges, q_modularity)``.

    Scale shape: three aggregation passes, all map-side combinable —
    the canonical undirected edge set (:func:`_undirected`, one
    shuffle), its degrees joined to labels for per-community degree sums,
    and intra-community edge counts via two label equi-joins on the
    edge endpoints. Every aggregate is an exact BIGINT; the final Q is
    one fixed chain of double ops (squares cast to double before
    multiplying), so the oracle replays it bit-identically. Unlabeled
    vertices raise — a partition that misses graph nodes is a caller
    bug, not a quantity to silently mis-normalize. An empty graph counts
    0 intra-community edges and has a NULL Q.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    lab = labels.select(
        F.col(node_col).alias("v"), F.col(label_col).alias("_lab")
    )
    deg = _degrees(und)
    dlab = deg.join(lab, "v", "left")
    n_unlabeled = dlab.where(F.col("_lab").isNull()).limit(1).count()
    if n_unlabeled:
        raise ValueError(
            "modularity: the partition misses vertices present in the "
            "edge set — label every graph node before scoring"
        )
    comm = dlab.groupBy("_lab").agg(F.sum("d").alias("_dc"))
    sums = comm.agg(
        F.count(F.lit(1)).alias("_nc"),
        F.sum(F.col("_dc") * F.col("_dc")).alias("_d2"),
    )
    la = lab.select(F.col("v").alias("a"), F.col("_lab").alias("_la"))
    lb = lab.select(F.col("v").alias("b"), F.col("_lab").alias("_lb"))
    intra = (
        und.join(la, "a")
        .join(lb, "b")
        .agg(
            F.sum(
                F.when(F.col("_la") == F.col("_lb"), 1).otherwise(0)
            ).alias("_intra")
        )
    )
    base = und.agg(F.count(F.lit(1)).alias("_m")).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).alias("_nn")))
    )
    d = lambda c: c.cast("double")  # noqa: E731
    two_m = d(F.col("_m")) + d(F.col("_m"))
    q = d(F.col("_intra")) / d(F.col("_m")) - d(F.col("_d2")) / (
        two_m * two_m
    )
    return (
        base.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(intra))
        .select(
            F.col("_m").alias("m_edges"),
            F.col("_nn").alias("n_nodes"),
            F.col("_nc").alias("n_communities"),
            F.coalesce("_intra", F.lit(0)).alias("intra_edges"),
            F.round(q, round_to).alias("q_modularity"),
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst", round_to: int = 6
) -> DataFrame:
    """Global clustering coefficient (transitivity) of the undirected
    simple graph: ``C = 3·triangles / wedges`` with ``wedges =
    Σ_v d_v(d_v−1)/2`` — how often two neighbors of a vertex are
    themselves connected, the one-number "is this graph clumpy?"
    companion of :func:`modularity`. One row: ``(n_nodes, n_edges,
    n_wedges, n_triangles, global_cc)``.

    Scale shape: the wedge count is one degree aggregation with exact
    BIGINT arithmetic (Σ d(d−1)/2 of integer degrees — overflow only
    past ~3·10⁹-degree hubs, far beyond any simple graph that fits);
    triangles are the rows of :func:`_triangles` over the same
    checkpointed canonical edge set and degree table (degree-ordered
    orientation, wedge fan-out bounded O(√m)). The
    final ratio is a fixed double chain over the three exact integers,
    so the oracle replays it bit-identically. A wedge-free graph
    (all degrees <= 1) yields NULL, not a division blow-up; the counts
    of an empty graph are 0.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = _degrees(und)
    stats = deg.agg(
        F.count(F.lit(1)).alias("_nv"),
        # d(d-1) is even, so integer DIV keeps the wedge count an exact
        # BIGINT at any scale (no double round-trip)
        F.expr("sum(d * (d - 1) DIV 2)").cast("bigint").alias("_w"),
    )
    m = und.agg(F.count(F.lit(1)).alias("_m"))
    tri = _triangles(und, deg).agg(F.count(F.lit(1)).alias("n_triangles"))
    d = lambda c: c.cast("double")  # noqa: E731
    cc = F.when(
        F.col("_w") > 0,
        F.lit(3.0) * d(F.col("n_triangles")) / d(F.col("_w")),
    )
    return (
        m.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(tri))
        .select(
            F.col("_nv").alias("n_nodes"),
            F.col("_m").alias("n_edges"),
            F.coalesce("_w", F.lit(0).cast("bigint")).alias("n_wedges"),
            "n_triangles",
            F.round(cc, round_to).alias("global_cc"),
        )
    )


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst", round_to: int = 6
) -> DataFrame:
    """Per-node clustering coefficient: for each vertex,
    ``lcc = 2·t_v / (d_v·(d_v−1))`` where ``t_v`` is the number of
    triangles through v — the node-level companion of
    :func:`clustering_coefficient` (Watts & Strogatz 1998). Returns
    ``(node, degree, triangles, lcc)`` for every vertex; ``lcc`` is
    NULL for degree-<2 vertices (no wedge to close).

    Scale shape: the rows of :func:`_triangles` (degree-ordered
    orientation, wedge fan-out bounded O(√m)) — but instead of counting
    them, each triangle emits its THREE endpoints (a 3× map expansion on
    the triangle stream, which is the small stream), followed by one
    hash aggregation per vertex and a broadcastable join back onto the
    degree table. t_v and d_v are exact BIGINTs; the ratio is one fixed
    double chain, so the oracle replays it bit-identically.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = _degrees(und)
    tri = _triangles(und, deg)
    per_v = (
        tri.select(F.col("u").alias("v"))
        .unionAll(tri.select(F.col("p").alias("v")))
        .unionAll(tri.select(F.col("q").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return (
        deg.join(per_v, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                F.when(
                    F.col("d") >= 2,
                    F.lit(2.0)
                    * d(F.coalesce(F.col("t"), F.lit(0)))
                    / d(F.col("d") * (F.col("d") - 1)),
                ),
                round_to,
            ).alias("lcc"),
        )
        .orderBy("node")
    )


def assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst", round_to: int = 6
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the edge set — positive means
    hubs attach to hubs (social networks), negative means hubs attach
    to leaves (the internet, supply graphs). One row: ``(n_nodes,
    m_edges, r_assortativity)``; NULL r on degree-regular graphs (zero
    variance).

    Scale shape: one degree aggregation, one broadcastable degree join
    per endpoint, then a single global fold of exact BIGINT moments
    (Σj, Σj², Σjk over the 2m ordered endpoint pairs, each canonical
    edge folding in both of its orientations — exact
    while ``Σd² < 2⁶³``, i.e. any graph short of ~10⁹-degree hubs on
    10⁹ edges; beyond that the moments need doubles, documented). The
    coefficient is a fixed chain of double ops over those integers, so
    the oracle replays it bit-identically.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = _degrees(und)
    dj = deg.select(F.col("v").alias("a"), F.col("d").alias("_dj"))
    dk = deg.select(F.col("v").alias("b"), F.col("d").alias("_dk"))
    # each undirected edge stands for the pairs (d_a, d_b) and (d_b, d_a),
    # which makes the j/k marginals identical by construction; both
    # orientations fold into the same integer sums, so no mirror frame
    mom = und.join(dj, "a").join(dk, "b").agg(
        (F.count(F.lit(1)) * 2).alias("_m2"),
        F.sum(F.col("_dj") + F.col("_dk")).alias("_s1"),
        F.sum(F.col("_dj") * F.col("_dj") + F.col("_dk") * F.col("_dk")).alias("_s2"),
        (F.sum(F.col("_dj") * F.col("_dk")) * 2).alias("_s11"),
    )
    nv = deg.agg(F.count(F.lit(1)).alias("_nv"))
    d = lambda c: c.cast("double")  # noqa: E731
    mu = d(F.col("_s1")) / d(F.col("_m2"))
    var = d(F.col("_s2")) / d(F.col("_m2")) - mu * mu
    cov = d(F.col("_s11")) / d(F.col("_m2")) - mu * mu
    r = F.when(var > 0, cov / var)
    return mom.crossJoin(F.broadcast(nv)).select(
        F.col("_nv").alias("n_nodes"),
        (F.col("_m2") / 2).cast("bigint").alias("m_edges"),
        F.round(r, round_to).alias("r_assortativity"),
    )


def neighborhood_function(
    edges: DataFrame,
    radius: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_pairs: int | None = None,
) -> DataFrame:
    """EXACT per-vertex neighborhood function on the undirected graph:
    for every vertex ``id`` and every ``r in 1..radius``, the number of
    DISTINCT vertices reachable in at most ``r`` hops (the vertex itself
    excluded) — long format ``(id, radius, n_reach)``. This is the ball
    size |B_r(v)| behind closeness/harmonic centrality and the
    effective-diameter curve (Palmer et al. KDD'02 ANF; Boldi et al.
    WWW'11 HyperBall compute the same quantity approximately).

    Scale shape: frontier iteration on (vertex, reached) PAIRS — round r
    joins the radius-(r-1) frontier to the edge frame on the reached
    endpoint (one keyed shuffle) and anti-joins the accumulated reach
    set to keep only NEW vertices, so each pair is materialized exactly
    once and ``localCheckpoint`` truncates lineage per round. The pair
    frame is Σ_v |B_radius(v)| rows — EXACT neighborhood functions are
    inherently quadratic-leaning on dense graphs, which is why this is
    the small-radius / sparsified-projection form; for corpus-scale
    graphs or larger radii use :func:`hyperball`, whose per-vertex
    state is a constant-size HLL sketch instead of the reach set
    itself. ``max_pairs`` (checked per round) aborts rather than letting
    a dense graph silently materialize a near-quadratic frame.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    und = symmetrize(edges, src, dst)
    # reach = all (v, w) with 1 <= dist(v, w) <= r so far; frontier =
    # exactly-dist-r pairs. Self pairs are excluded throughout.
    frontier = und.select(F.col("src").alias("_v"), F.col("dst").alias("_w"))
    frontier = frontier.localCheckpoint()
    reach = frontier
    out = frontier.groupBy(F.col("_v").alias("id")).agg(
        F.count(F.lit(1)).alias("n_reach")
    ).select("id", F.lit(1).alias("radius"), "n_reach")
    for r in range(2, int(radius) + 1):
        hop = (
            frontier.join(
                und.select(F.col("src").alias("_w"), F.col("dst").alias("_x")),
                "_w",
            )
            .select("_v", F.col("_x").alias("_w"))
            .filter(F.col("_v") != F.col("_w"))
            .distinct()
        )
        frontier = hop.join(reach, ["_v", "_w"], "left_anti").localCheckpoint()
        reach = reach.unionByName(frontier).localCheckpoint()
        if max_pairs is not None:
            n = reach.count()
            if n > int(max_pairs):
                raise ValueError(
                    f"neighborhood_function: reach-set pairs {n} exceed "
                    f"max_pairs={max_pairs} at radius {r} — the graph is "
                    "too dense for the exact form; use hyperball()"
                )
        out = out.unionByName(
            reach.groupBy(F.col("_v").alias("id"))
            .agg(F.count(F.lit(1)).alias("n_reach"))
            .select("id", F.lit(r).alias("radius"), "n_reach")
        )
    return out


def hyperball(
    edges: DataFrame,
    radius: int = 4,
    src: str = "src",
    dst: str = "dst",
    lg_config_k: int = 12,
) -> DataFrame:
    """APPROXIMATE per-vertex neighborhood function — HyperBall (Boldi,
    Rosa & Vigna WWW'11) re-expressed relationally: each vertex carries
    a constant-size HyperLogLog sketch of its ball; round r unions every
    neighbor's radius-(r-1) sketch into the vertex's own, and the
    estimate of |B_r(v)| is the sketch cardinality (minus the vertex
    itself). Long format ``(id, radius, n_reach_approx)``, directly
    comparable to :func:`neighborhood_function` — the exact twin is the
    certificate (tests pin relative error at the HLL's standard
    ~1.04/sqrt(2^lg_config_k) scale).

    Scale shape: THE point of the sketch form. Exact balls need
    Σ|B_r(v)| pairs (quadratic-leaning); here per-vertex state is one
    2^lg_config_k-register sketch regardless of ball size, so every
    round is one keyed shuffle of (vertex, sketch) rows joined to the
    edge frame + one ``hll_union_agg`` — linear in edges, constant in
    ball size. This is how ANF/effective-diameter runs on billion-edge
    graphs. ``localCheckpoint`` per round keeps the plan O(1) in
    ``radius``. Estimates are deterministic for a given input (HLL
    hashing is seedless), so runs replay bit-identically.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    und = symmetrize(edges, src, dst).localCheckpoint()
    verts = und.select(F.col("src").alias("_v")).distinct()
    # ball(0) sketch = {v} itself; estimates subtract 1 to exclude self
    sk = verts.groupBy("_v").agg(F.hll_sketch_agg("_v", F.lit(int(lg_config_k))).alias("_sk"))
    sk = sk.localCheckpoint()
    out = None
    for r in range(1, int(radius) + 1):
        contrib = und.join(
            sk.withColumnRenamed("_v", "_u"), und["dst"] == F.col("_u")
        ).select(F.col("src").alias("_v"), "_sk")
        sk = (
            contrib.unionByName(sk)
            .groupBy("_v")
            .agg(F.hll_union_agg("_sk").alias("_sk"))
            .localCheckpoint()
        )
        est = sk.select(
            F.col("_v").alias("id"),
            F.lit(r).alias("radius"),
            (F.hll_sketch_estimate("_sk") - F.lit(1)).cast("bigint").alias(
                "n_reach_approx"
            ),
        )
        out = est if out is None else out.unionByName(est)
    return out


def _minlabel_fixpoint(
    verts: DataFrame, edges: DataFrame, max_rounds: int
) -> DataFrame:
    """Min-label propagation along directed edges to a FIXED POINT:
    ``lab(u) = min(u, min over edges v->u of lab(v))`` iterated until no
    label changes (each round: one equi-join + one grouped min, run by
    ``iterate.fixpoint``; a round counts the vertices whose label
    dropped). Returns ``(id, lab)`` where ``lab`` is the
    minimum vertex id that can reach ``u``. Raises at ``max_rounds``,
    because :func:`scc`'s correctness NEEDS the fixed point."""

    def round_(lab: DataFrame, changed) -> DataFrame:
        cand = (
            lab.join(edges, lab["id"] == edges["src"])
            .select(F.col("dst").alias("id"), "lab", F.lit(None).alias("_was"))
        )
        # label shortcut: lab(lab(u)) is also an ancestor of u (lab(u)
        # reaches u, and anything reaching lab(u) reaches u) — folding
        # it in each round doubles the effective hop length, so
        # convergence is O(log diameter) rounds, not O(diameter) (the
        # directed analogue of the CC star-contraction)
        short = lab.join(
            lab.select(
                F.col("id").alias("lab"), F.col("lab").alias("_ll")
            ),
            "lab",
        ).select("id", F.col("_ll").alias("lab"), F.lit(None).alias("_was"))
        best = (
            lab.select("id", "lab", F.col("lab").alias("_was"))
            .unionByName(cand)
            .unionByName(short)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"), F.min("_was").alias("_was"))
        )
        dropped = F.col("_was").isNull() | (F.col("lab") < F.col("_was"))
        return changed(best, dropped).select("id", "lab")

    return fixpoint(
        verts.select("id", F.col("id").alias("lab")),
        round_,
        max_rounds,
        "min-label propagation",
    )


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    max_phases: int = 30,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the directed
    complement of the dedup family's (weakly) connected components.
    Forward–backward min-label coloring (the relational form of the
    FW-BW decomposition, Fleischer et al. IPDPS 2000 / Hong et al.
    PPoPP'13): per phase, propagate the minimum vertex id to a fixed
    point along forward edges (``fwd(u)`` = min id that reaches u) and
    along reversed edges (``bwd(u)`` = min id u reaches); a vertex with
    ``fwd(u) == bwd(u) == m`` is mutually reachable with ``m``, so it is
    IN ``SCC(m)`` — those vertices retire with component id ``m``, the
    unresolved subgraph shrinks, and the next phase runs on the
    remainder. Returns ``(id, scc)`` for every vertex (isolated
    vertices are their own component). Raises if ``max_phases`` phases
    leave vertices unresolved (a long SCC-chain pathology — same
    capped-iteration contract as the CC/k-core/LPA fixpoints, but
    asserted because partial output would be WRONG, not approximate).

    Scale shape: every phase is equi-joins + grouped mins on the
    shrinking remainder (no windows, no pair explosion); the edge frame
    re-filters to unresolved endpoints via two broadcast-or-shuffle
    semi-joins per phase, and ``localCheckpoint`` truncates lineage at
    every step. Real web/social graphs resolve in a handful of phases
    (one giant SCC + trim-able periphery — the FW-BW-Trim literature);
    the caps make the pathological case loud instead of silent.
    """
    e, verts = _directed(edges, src, dst)
    done = None
    remaining = verts
    for _ in range(int(max_phases)):
        if remaining.isEmpty():
            break
        sub = (
            e.join(
                remaining.select(F.col("id").alias("src")), "src", "left_semi"
            )
            .join(
                remaining.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
            .localCheckpoint()
        )
        # the forward and backward propagations are independent job
        # chains over the same checkpointed subgraph — run them from two
        # driver threads so each chain's task tail back-fills the other
        # (guide-§2.6 overlap; results are unchanged)
        from concurrent.futures import ThreadPoolExecutor

        rev = sub.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        with ThreadPoolExecutor(max_workers=2) as _tp:
            _ff = _tp.submit(_minlabel_fixpoint, remaining, sub, max_rounds)
            _fb = _tp.submit(_minlabel_fixpoint, remaining, rev, max_rounds)
            fwd, bwd = _ff.result(), _fb.result()
        both = fwd.withColumnRenamed("lab", "_f").join(
            bwd.withColumnRenamed("lab", "_b"), "id"
        )
        members = (
            both.where(F.col("_f") == F.col("_b"))
            .select("id", F.col("_f").alias("scc"))
            .localCheckpoint()
        )
        done = members if done is None else done.unionByName(members)
        done = done.localCheckpoint()
        remaining = remaining.join(members, "id", "left_anti").localCheckpoint()
    if not remaining.isEmpty():
        raise ValueError(
            f"scc did not resolve all vertices in {max_phases} phases; "
            "raise max_phases"
        )
    return done if done is not None else verts.select(
        "id", F.col("id").alias("scc")
    )


@register("scc")
def scc_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Config form: {"scc": {"src": "src", "dst": "dst",
    "maxRounds": 30, "maxPhases": 30}} — the pipeline frame is the
    directed edge list."""
    return scc(
        df,
        src=cfg.get("src", "src"),
        dst=cfg.get("dst", "dst"),
        max_rounds=int(cfg.get("maxRounds", 30)),
        max_phases=int(cfg.get("maxPhases", 30)),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, JACM'99) with fixed
    iterations → ``(id, hub, authority)``, each score normalized by the
    iteration-final MAX (max of doubles is an exact comparison — no
    fold-order wobble — unlike the textbook L2/L1 norm, whose global
    double sum is not associative across engines; same determinism
    argument as pagerank's no-normalization choice). Start: h₀ = 1.
    Per round: a_v = Σ_{u→v} h_u, then h_u = Σ_{u→v} a_v — the
    authority/hub mutual recursion over the DEDUPLICATED directed edge
    set; vertices with no in-edges keep authority 0, no out-edges keep
    hub 0.

    Scale shape: identical to :func:`pagerank` — each half-round is one
    equi-join of a (vertex, score) frame against the edge frame shuffled
    on the join key plus one hash aggregation; ``localCheckpoint``
    truncates lineage per round so iteration N's plan equals iteration
    1's. Fixed ``iterations`` is the bounded-iteration rule (no
    convergence polling action per round).
    """
    e, nodes = _directed(edges, src, dst)
    hubs = nodes.withColumn("h", F.lit(1.0))
    auth = None
    for _ in range(int(iterations)):
        auth = (
            e.join(hubs.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").alias("a"))
        )
        auth = (
            nodes.join(auth, "id", "left")
            .select("id", F.coalesce("a", F.lit(0.0)).alias("a"))
            .localCheckpoint(eager=True)
        )
        hubs = (
            e.join(auth.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("h"))
        )
        hubs = (
            nodes.join(hubs, "id", "left")
            .select("id", F.coalesce("h", F.lit(0.0)).alias("h"))
            .localCheckpoint(eager=True)
        )
    mh = hubs.agg(F.max("h").alias("_mh"))
    ma = auth.agg(F.max("a").alias("_ma"))
    return (
        hubs.join(auth, "id")
        .crossJoin(F.broadcast(mh))
        .crossJoin(F.broadcast(ma))
        .select(
            "id",
            F.round(
                F.when(F.col("_mh") > 0, F.col("h") / F.col("_mh")).otherwise(
                    F.lit(0.0)
                ),
                round_to,
            ).alias("hub"),
            F.round(
                F.when(F.col("_ma") > 0, F.col("a") / F.col("_ma")).otherwise(
                    F.lit(0.0)
                ),
                round_to,
            ).alias("authority"),
        )
    )


def hits_rounds_sql(
    iterations: int, edges_cte: str, materialized: bool = True
) -> str:
    """DuckDB twin of :func:`hits` — the same mutual recursion unrolled
    (the ``lpa_rounds_sql`` discipline); ``edges_cte`` must end with a
    CTE named ``e(s, d)`` holding the deduplicated directed edges."""
    mat = "MATERIALIZED " if materialized else ""
    parts = [
        f"nodes AS {mat}(SELECT s AS id FROM e UNION SELECT d FROM e)",
        f"h0 AS {mat}(SELECT id, 1.0::DOUBLE AS h FROM nodes)",
    ]
    for r in range(1, int(iterations) + 1):
        parts.append(
            f"a{r} AS {mat}(SELECT n.id, coalesce(x.a, 0.0) AS a FROM nodes n "
            f"LEFT JOIN (SELECT e.d AS id, sum(h{r-1}.h) AS a FROM e "
            f"JOIN h{r-1} ON h{r-1}.id = e.s GROUP BY e.d) x USING (id))"
        )
        parts.append(
            f"h{r} AS {mat}(SELECT n.id, coalesce(x.h, 0.0) AS h FROM nodes n "
            f"LEFT JOIN (SELECT e.s AS id, sum(a{r}.a) AS h FROM e "
            f"JOIN a{r} ON a{r}.id = e.d GROUP BY e.s) x USING (id))"
        )
    rr = int(iterations)
    return (
        edges_cte + ", " + ", ".join(parts) + ", "
        f"mx AS (SELECT max(h) AS mh FROM h{rr}), "
        f"mn AS (SELECT max(a) AS ma FROM a{rr}) "
        f"SELECT h{rr}.id, "
        f"round(CASE WHEN mh > 0 THEN h{rr}.h / mh ELSE 0.0 END, 6) AS hub, "
        f"round(CASE WHEN ma > 0 THEN a{rr}.a / ma ELSE 0.0 END, 6) "
        f"AS authority "
        f"FROM h{rr} JOIN a{rr} ON a{rr}.id = h{rr}.id, mx, mn"
    )


@register("hits")
def hits_transformer(ctx: PipelineContext, df: DataFrame, cfg: dict) -> DataFrame:
    """Config form: {"hits": {"src": "src", "dst": "dst",
    "iterations": 3}} — Kleinberg hubs/authorities over the pipeline
    frame's directed edge list."""
    return hits(
        df,
        src=cfg.get("src", "src"),
        dst=cfg.get("dst", "dst"),
        iterations=int(cfg.get("iterations", 3)),
    )


@register("localClustering")
def local_clustering_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """Config form: {"localClustering": {"src": "src", "dst": "dst"}} —
    per-node clustering coefficient over the pipeline frame's edge
    list (Watts-Strogatz; degree-ordered triangle emission)."""
    return local_clustering_coefficient(
        df, src=cfg.get("src", "src"), dst=cfg.get("dst", "dst")
    )


def louvain_move_pass(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    round_to: int = 6,
    output: str = "summary",
) -> DataFrame:
    """One synchronous Louvain local-move pass (Blondel et al., J.Stat.
    Mech. 2008 phase 1) over an unweighted undirected graph: every node
    simultaneously moves to the neighbor community with the largest
    modularity gain (staying allowed), starting from ``labels``. Emits
    ONE summary row — ``(m2, n_moved, n_comm_before, n_comm_after,
    q_before, q_after, improved)`` — with the exact Newman modularity
    of both labelings, so the pass carries its own measured
    effectiveness certificate (an empty graph has ``m2 = 0`` and NULL
    modularities). Synchronous (all-at-once) moves are what
    a shuffle-parallel engine can do without serializing the node
    order; unlike the sequential original they don't GUARANTEE
    monotone Q, so the certificate reports the measured delta instead
    of asserting one.

    Determinism/portability: the gain argmax is EXACT INTEGER
    arithmetic — gain·2m = 2m·w(i,c) − k_i·Σ'_tot(c) (Σ' excluding i
    when c is i's own community) — and modularity is compared in
    integer-scaled form Q·(2m)² = Σ_c (2m·intra2(c) − Σ_tot(c)²), so
    the move set and both Q values replay bit-for-bit in SQL; the two
    output doubles are single divisions of exact integers.

    Scale shape: degree/Σ_tot/contingency tables are one grouped
    shuffle each (vocabulary-: node- or community-sized); the argmax is
    a per-node rank filter (WindowGroupLimit — bounded frames, never a
    global sort); no driver state, no iteration (run the pass again on
    its output labels for more refinement). Extends the §2.8 graph
    family (label_prop / modularity); reference has no graph analytics
    (SURVEY §2.8).
    """
    from orientdb_etl_spark.operators.relational import topk_per_group

    ed = symmetrize(edges, src, dst).select(
        F.col("src").alias("_u"), F.col("dst").alias("_v")
    ).localCheckpoint(eager=True)
    lab = labels.select(
        F.col(node_col).alias("_u"), F.col(label_col).alias("_l")
    )
    deg = ed.groupBy("_u").agg(F.count(F.lit(1)).alias("_k"))
    m2df = deg.agg(F.sum("_k").alias("_m2"))
    nl = deg.join(lab, "_u")

    def _q_scaled(nlab: DataFrame):
        """(Σ_c (2m·intra2 − Σ_tot²), n_comm) for a (node,deg,label)
        frame — exact integers."""
        sig = nlab.groupBy("_l").agg(F.sum("_k").alias("_sig"))
        lab2 = nlab.select("_u", "_l")
        intra = (
            ed.join(lab2, "_u")
            .join(
                lab2.select(
                    F.col("_u").alias("_v"), F.col("_l").alias("_l2")
                ),
                "_v",
            )
            .where(F.col("_l") == F.col("_l2"))
            .agg(F.count(F.lit(1)).alias("_in2"))
        )
        per = sig.agg(
            F.sum(F.col("_sig") * F.col("_sig")).alias("_ss"),
            F.count(F.lit(1)).alias("_nc"),
        )
        return (
            per.crossJoin(F.broadcast(intra))
            .crossJoin(F.broadcast(m2df))
            .select(
                (F.col("_m2") * F.coalesce(F.col("_in2"), F.lit(0))
                 - F.col("_ss")).alias("_qs"),
                "_nc",
                "_m2",
            )
        )

    sig = nl.groupBy("_l").agg(F.sum("_k").alias("_sig"))
    wic = (
        ed.join(lab.select(F.col("_u").alias("_v"), F.col("_l").alias("_c")), "_v")
        .groupBy("_u", "_c")
        .agg(F.count(F.lit(1)).alias("_w"))
    )
    stay = nl.join(
        wic,
        (nl["_u"] == wic["_u"]) & (nl["_l"] == wic["_c"]),
        "left",
    ).select(
        nl["_u"].alias("_u"),
        nl["_l"].alias("_c"),
        F.coalesce(wic["_w"], F.lit(0).cast("long")).alias("_w"),
    )
    cand = wic.unionByName(stay).distinct()
    scored = (
        cand.join(nl.select("_u", F.col("_l").alias("_cur"), "_k"), "_u")
        .join(sig.select(F.col("_l").alias("_c"), "_sig"), "_c")
        .crossJoin(F.broadcast(m2df))
        .select(
            "_u",
            "_c",
            "_cur",
            (
                F.col("_m2") * F.col("_w")
                - F.col("_k")
                * (
                    F.col("_sig")
                    - F.when(
                        F.col("_c") == F.col("_cur"), F.col("_k")
                    ).otherwise(F.lit(0))
                )
            ).alias("_gain"),
        )
    )
    moved = topk_per_group(
        scored, "_u", ["_gain DESC", "_c ASC"], 1
    ).select("_u", F.col("_c").alias("_l"))
    if output == "labels":
        # the product view: the refined assignment itself (feed it back
        # in for another pass, or into `modularity` for double-form Q)
        return moved.select(
            F.col("_u").alias(node_col), F.col("_l").alias(label_col)
        )
    if output != "summary":
        raise ValueError(f"unknown output mode {output!r}")
    nl_after = deg.join(moved, "_u")
    before = _q_scaled(nl)
    after = _q_scaled(nl_after)
    n_moved = (
        moved.join(lab.select("_u", F.col("_l").alias("_l0")), "_u")
        .where(F.col("_l") != F.col("_l0"))
        .agg(F.count(F.lit(1)).alias("_nm"))
    )
    b = before.select(
        F.col("_m2"),
        F.col("_qs").alias("_qb"),
        F.col("_nc").alias("n_comm_before"),
    )
    a = after.select(
        F.col("_qs").alias("_qa"), F.col("_nc").alias("n_comm_after")
    )
    return (
        b.crossJoin(F.broadcast(a))
        .crossJoin(F.broadcast(n_moved))
        .select(
            F.coalesce("_m2", F.lit(0).cast("long")).alias("m2"),
            F.coalesce(F.col("_nm"), F.lit(0).cast("long")).alias("n_moved"),
            "n_comm_before",
            "n_comm_after",
            F.round(
                F.col("_qb").cast("double")
                / (F.col("_m2").cast("double") * F.col("_m2")),
                round_to,
            ).alias("q_before"),
            F.round(
                F.col("_qa").cast("double")
                / (F.col("_m2").cast("double") * F.col("_m2")),
                round_to,
            ).alias("q_after"),
            (F.col("_qa") >= F.col("_qb")).alias("improved"),
        )
    )


@register("louvainPass")
def louvain_pass_transformer(
    ctx: PipelineContext, df: DataFrame, cfg: dict
) -> DataFrame:
    """{"louvainPass": {"src": "src", "dst": "dst", "labelsTable":
    "labels", "nodeField": "node", "labelField": "label"}} — one
    synchronous Louvain local-move pass over the edge-shaped payload,
    starting from a registered labels table; emits the one-row
    modularity before/after certificate."""
    labels = ctx.tables[cfg["labelsTable"]]
    return louvain_move_pass(
        df,
        labels,
        src=cfg.get("src", "src"),
        dst=cfg.get("dst", "dst"),
        node_col=cfg.get("nodeField", "node"),
        label_col=cfg.get("labelField", "label"),
        output=cfg.get("output", "summary"),
    )
