"""Graph algorithms as iterative DataFrame programs.

Spark has no built-in graph operator set (GraphX is RDD/Scala-only,
GraphFrames is an external package), but the DataFrame expression of
the classic algorithms is exactly joins + aggregations in a loop.
Connected components lives in operators/dedup.py (neardup_clusters).

Every query here runs on one of two graphs, each defined once for the
builders and once for the DuckDB oracles:

* the supplier↔part co-supply graph — undirected, bipartite, from the
  distinct lineitem (supplier, part) pairs, node ids ``2·suppkey`` and
  ``2·partkey + 1`` (``_contrib_edges`` / ``_SUPPLY_SQL``), ranked by
  graph_pagerank and graph_personalized_pagerank;
* the co-purchase item graph — parts bought together in ≥2 orders,
  each undirected edge stored once as ``(lo, hi)`` with lo < hi
  (``_copurchase_edges`` / ``_COPURCHASE_SQL``, which ``_EDGES_SQL``
  and ``_DEG_SQL`` extend with the symmetrised edges and the degrees),
  behind triangles, degrees, label propagation, k-core, BFS,
  modularity and Adamic-Adar.

Min-label propagation is one superstep loop (``_label_propagation``)
with one unrolled oracle (``_LP_SQL``), shared by
graph_label_propagation and graph_modularity.

Determinism contract: ranks are kept in integer fixed-point (1e12
units) with floor division, so every engine computes bit-identical
ranks — a double-based PageRank accumulates sums in different orders
on different engines/partitionings and the last bits diverge, which
would make an exact oracle impossible. The DuckDB oracles unroll the
same iterations as chained CTEs (standard SQL forbids GROUP BY in a
recursive term, so recursion can't express per-iteration
re-aggregation — unrolling can).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.registry import register

R_UNIT = 1_000_000_000_000  # 1.0 of rank mass, in fixed-point units
N_ITER = 10
TOP_K = 50
CHECKPOINT_EVERY = 5  # truncate iterative lineage every N supersteps
LP_ITER = 5
LP_CHECKPOINT_EVERY = 2


def _contrib_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier↔part graph as ONE persisted contribution table
    ``(src, dst, d)`` — both directions of every distinct pair, with
    the out-degree of ``src`` — pre-partitioned by ``src`` so a rank
    superstep's join never re-exchanges the edge side. The caller
    materializes it (its first action) and unpersists it."""
    pairs = (
        load(spark, sf_dir).lineitem.select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("l_partkey") * 2 + 1).alias("p"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("p").alias("dst")
    ).unionAll(pairs.select(F.col("p").alias("src"), F.col("s").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        edges.join(deg, "src")
        # explicit partition count: an AQE-coalesced cached partitioning
        # would be whatever the tiny local run lands on and the loop
        # join could no longer rely on it; defaultParallelism scales
        # with the session, never a constant tuned to one machine
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .persist()
    )


def _spread(contrib_edges: DataFrame, ranks: DataFrame) -> DataFrame:
    """One rank superstep's damped spread ``(node, spread)``: every node
    sends ``rank div d`` along each out-edge, and a receiving node keeps
    85% of its incoming sum, in integer fixed point."""
    return (
        contrib_edges.join(ranks, F.col("src") == F.col("node"))
        .select("dst", F.expr("rank div d").alias("contrib"))
        .groupBy("dst")
        .agg(F.expr("(85 * sum(contrib)) div 100").alias("spread"))
        .select(F.col("dst").alias("node"), "spread")
    )


_SUPPLY_SQL = """
    pairs AS (
      SELECT DISTINCT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p FROM lineitem
    ),
    edges AS MATERIALIZED (
      SELECT s AS src, p AS dst FROM pairs
      UNION ALL
      SELECT p AS src, s AS dst FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM edges GROUP BY src)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edges ``(lo, hi)``, lo < hi: pairs of parts bought
    together in ≥2 orders. Unstaged — each caller checkpoints it where
    its own plan reads it more than once."""
    baskets = load(spark, sf_dir).lineitem.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("lo"), F.col("b.item").alias("hi"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .select("lo", "hi")
    )


def _directed(e: DataFrame) -> DataFrame:
    """Both directions ``(src, dst)`` of every undirected edge."""
    return e.select(F.col("lo").alias("src"), F.col("hi").alias("dst")).unionAll(
        e.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )


def _node_degrees(e: DataFrame) -> DataFrame:
    """``(node, d)``: the degree of every node of the edge list ``e``."""
    return (
        e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


_COPURCHASE_SQL = """
    baskets AS (
      SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
    ),
    e0 AS MATERIALIZED (
      SELECT a.item AS lo, b.item AS hi
      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )"""
# DuckDB evaluates every MATERIALIZED CTE, referenced or not, so each
# oracle takes the shortest prefix it needs
_EDGES_SQL = _COPURCHASE_SQL + """,
    edges AS MATERIALIZED (
      SELECT lo AS src, hi AS dst FROM e0
      UNION ALL
      SELECT hi AS src, lo AS dst FROM e0
    )"""
_DEG_SQL = _EDGES_SQL + """,
    deg AS MATERIALIZED (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
    )"""


def _label_propagation(edges: DataFrame) -> DataFrame:
    """``(node, label)`` after LP_ITER synchronized min-label supersteps
    over the directed ``edges``: every node starts labeled with its own
    id and adopts the minimum label among itself and its neighbors.
    Each superstep is one edges⋈labels join + one min-aggregation (the
    Pregel message pattern); the node-sized label vector is
    localCheckpoint-ed every LP_CHECKPOINT_EVERY supersteps so lineage
    stays bounded (swap for reliable checkpoint() on a cluster)."""
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").cast("long").alias("label")
    )
    for it in range(LP_ITER):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr"))
        )
        labels = labels.join(nbr_min, labels.node == nbr_min.src).select(
            "node", F.least("label", "nbr").alias("label")
        )
        if (it + 1) % LP_CHECKPOINT_EVERY == 0 and (it + 1) < LP_ITER:
            labels = labels.localCheckpoint(eager=False)
    return labels


# the same supersteps unrolled over the oracle's `edges`; l{LP_ITER}
# holds the final labels
_LP_SQL = """l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS label FROM edges
    ),
    """ + ",\n    ".join(
    f"""l{i + 1} AS MATERIALIZED (
      SELECT l.node AS node,
             CAST(least(l.label, min(nl.label)) AS BIGINT) AS label
      FROM l{i} l
      JOIN edges e ON e.src = l.node
      JOIN l{i} nl ON nl.node = e.dst
      GROUP BY l.node, l.label
    )"""
    for i in range(LP_ITER)
)


def _pagerank_oracle() -> str:
    """Unroll the integer power iteration as chained CTEs."""
    unrolled = ",\n    ".join(
        f"""r{i + 1} AS MATERIALIZED (
      SELECT e.dst AS node,
             CAST(base.b + (85 * CAST(sum(r{i}.rank // deg.d) AS BIGINT)) // 100
                  AS BIGINT) AS rank
      FROM r{i}
      JOIN deg   ON deg.src = r{i}.node
      JOIN edges e ON e.src = r{i}.node
      CROSS JOIN base
      GROUP BY e.dst, base.b
    )"""
        for i in range(N_ITER)
    )
    return f"""
    WITH {_SUPPLY_SQL},
    nn AS (SELECT count(*) AS n FROM deg),
    base AS (SELECT CAST((15 * ({R_UNIT} // n)) // 100 AS BIGINT) AS b FROM nn),
    r0 AS (SELECT src AS node,
                  CAST({R_UNIT} // (SELECT n FROM nn) AS BIGINT) AS rank
           FROM deg),
    {unrolled}
    SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS kind,
           node // 2 AS entity_id,
           rank AS rank_fp
    FROM r{N_ITER}
    ORDER BY rank_fp DESC, node
    LIMIT {TOP_K}
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier↔part co-supply graph (undirected
    bipartite, derived from distinct lineitem pairs), 10 power
    iterations, damping 0.85.

    Iterative DataFrame shape (r14, guide §2.4/§5 — hoist everything
    loop-invariant out of the loop): ONE persisted contribution table
    ``(src, dst, d)``, pre-partitioned by ``src``, replaces the r13
    shape's separate edges/deg caches — each superstep previously
    re-ran the edges⋈deg join from the two caches, and the cached
    partitioning now already satisfies the superstep join's
    distribution, so the edge side never re-exchanges inside the loop.
    The node count and teleport constants are loop-invariant SCALARS
    (one count() on the persisted table — a 1-row driver scalar that
    parameterizes the plan, recomputed every build, nothing cached
    across runs); r13 re-derived them per iteration as a 1-row
    crossJoin broadcast, costing a broadcast build per superstep.
    Each iteration is then one join of the current rank vector against
    the contribution table plus one aggregation — the same two-shuffle
    step GraphX/Pregel executes per superstep, minus the invariant
    work. Measured at sf0.01 (byte-identical output): warm 6.3 →
    2.3 s. At 100 TB the rank vector is node-sized (≪ edges). The
    rank vector is ``localCheckpoint``-ed every ``CHECKPOINT_EVERY``
    iterations so the lineage (and optimizer/codegen cost) stays
    O(checkpoint interval) instead of O(total iterations); on a real
    cluster swap ``localCheckpoint`` for a reliable ``checkpoint`` dir
    so executor loss doesn't kill the job. After the final checkpoint
    the contribution cache is released — nothing leaks past the query.
    Integer fixed-point (1e12 units, floor division) keeps every
    engine bit-identical — see module docstring; the scalar teleport
    constants use the same non-negative floor division in Python.
    """
    contrib_edges = _contrib_edges(spark, sf_dir)
    # loop-invariant teleport scalars; the count also materializes the
    # cache so every superstep reads the pre-partitioned table
    n = contrib_edges.select("src").distinct().count()
    r0 = R_UNIT // n if n else 0
    base_add = (15 * r0) // 100
    ranks = (
        contrib_edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(r0).cast("long").alias("rank"))
    )
    for it in range(N_ITER):
        ranks = _spread(contrib_edges, ranks).select(
            "node", (F.lit(base_add) + F.col("spread")).alias("rank")
        )
        if (it + 1) % CHECKPOINT_EVERY == 0 and (it + 1) < N_ITER:
            # lazy: the plan is truncated immediately (LogicalRDD leaf)
            # but materialization folds into the final eager checkpoint's
            # job instead of a separate driver round-trip per segment
            ranks = ranks.localCheckpoint(eager=False)
    ranks = ranks.localCheckpoint(eager=True)
    # final ranks are materialized above, so the scan-side cache can go
    contrib_edges.unpersist()
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, "supplier")
            .otherwise("part")
            .alias("kind"),
            F.expr("node div 2").alias("entity_id"),
            F.col("rank").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), (F.col("entity_id") * 2) + F.when(F.col("kind") == "part", 1).otherwise(0))
        .limit(TOP_K)
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_DEG_SQL},
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e0 e1
      JOIN e0 e2 ON e2.lo = e1.hi
      JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
           n_triangles,
           n_wedges,
           CASE WHEN n_wedges > 0
                THEN round(3.0 * n_triangles / n_wedges, 6) ELSE 0.0
           END AS transitivity
    FROM agg CROSS JOIN tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global transitivity on the co-purchase graph
    (parts bought together in ≥2 orders) — the standard distributed
    graph benchmark after PageRank/CC, here in its ordered-edge form:
    every undirected edge is stored once as (lo < hi), so each triangle
    {a<b<c} is counted exactly once by joining (a,b)⋈(b,c) and
    semi-checking (a,c).

    Scale shape: the wedge join and the closing join are plain
    equi-joins on edge endpoints (two shuffles of the edge table — the
    MapReduce triangle algorithm of Suri & Vassilvitskii 2011 without
    the high-degree-vertex split, which drops in as a degree-ordered
    re-orientation if hub skew appears). Wedges come from the integer
    degree table; transitivity = 3Δ/wedges is one final exact-ratio
    division."""
    # edge table feeds three joins + the degree agg; materialize once
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    e1 = e.select(F.col("lo").alias("a_"), F.col("hi").alias("b_"))
    e2 = e.select(F.col("lo").alias("b_"), F.col("hi").alias("c_"))
    e3 = e.select(F.col("lo").alias("a_"), F.col("hi").alias("c_"))
    tri = (
        e1.join(e2, "b_")
        .join(e3, ["a_", "c_"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    agg = _node_degrees(e).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    trans = F.when(
        F.col("n_wedges") > 0,
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
    ).otherwise(0.0)
    return (
        agg.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles", "n_wedges", trans.alias("transitivity"))
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_DEG_SQL}
    SELECT d AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           round(ln(CAST(d AS DOUBLE)), 6) AS log_degree,
           round(ln(CAST(count(*) AS DOUBLE)), 6) AS log_count
    FROM deg
    GROUP BY d
    ORDER BY d
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph (same ≥2-support
    edge set as graph_triangle_count) with log-log columns — the
    power-law diagnostic that decides whether a graph workload needs
    hub-splitting (degree-ordered orientation, salting) before its
    joins. Two hash-aggs over the edge list; the distribution is
    degree-cardinality, tiny at any scale."""
    return (
        _node_degrees(_copurchase_edges(spark, sf_dir))
        .groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(
            "degree",
            "n_nodes",
            F.round(F.log(F.col("degree").cast("double")), 6).alias("log_degree"),
            F.round(F.log(F.col("n_nodes").cast("double")), 6).alias("log_count"),
        )
        .orderBy("degree")
    )


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH {_EDGES_SQL},
    {_LP_SQL},
    comm AS (
      SELECT label, CAST(count(*) AS BIGINT) AS community_size
      FROM l{LP_ITER} GROUP BY label
    )
    SELECT community_size,
           CAST(count(*) AS BIGINT) AS n_communities,
           CAST(sum(community_size) AS BIGINT) AS n_nodes
    FROM comm GROUP BY community_size ORDER BY community_size
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronized min-label propagation on the
    co-purchase graph (same ≥2-support edge set as graph_triangle_count):
    every node starts labeled with its own id and, for LP_ITER
    supersteps, adopts the minimum label among itself and its
    neighbors — after k steps each node holds the smallest node id
    within k hops, so label groups approximate connected communities
    (exact components for diameter ≤ k). Min-label update is fully
    deterministic, unlike frequency-based LPA whose ties need RNG —
    which is what makes an exact cross-engine oracle possible.

    Iterative DataFrame shape, like graph_pagerank: the supersteps are
    ``_label_propagation``'s Pregel joins over the staged edge list.
    The output is the community-size distribution — bounded by the
    largest community, not by graph size."""
    # every superstep joins against the edge list; materialize once
    edges = _directed(_copurchase_edges(spark, sf_dir)).localCheckpoint(eager=True)
    comm = _label_propagation(edges).groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return (
        comm.groupBy("community_size")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum("community_size").cast("long").alias("n_nodes"),
        )
        .orderBy("community_size")
    )


KCORE_K = 2
KCORE_PEELS = 4


def _kcore_oracle() -> str:
    """Unroll the fixed peeling rounds as chained CTEs (each round
    re-aggregates degrees)."""
    unrolled = ",\n    ".join(
        f"""d{i} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT lo AS node FROM e{i} UNION ALL SELECT hi FROM e{i}
      ) GROUP BY node
    ),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
    e{i + 1} AS MATERIALIZED (
      SELECT lo, hi FROM e{i}
      WHERE lo IN (SELECT node FROM k{i})
        AND hi IN (SELECT node FROM k{i})
    ),
    s{i} AS (
      SELECT {i + 1} AS peel,
             (SELECT CAST(count(*) AS BIGINT) FROM k{i}) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e{i + 1}) AS n_edges
    )"""
        for i in range(KCORE_PEELS)
    )
    final = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(KCORE_PEELS))
    return f"""
    WITH {_COPURCHASE_SQL},
    {unrolled}
    SELECT peel, n_nodes, n_edges FROM ({final}) ORDER BY peel
    """


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k = 2) on the co-purchase graph: each round drops
    nodes whose CURRENT degree is below k and the edges touching them,
    converging to the 2-core — the dense backbone that survives after
    tendrils peel away (the standard graph-mining primitive behind
    community seeding and graph simplification). The output is one row
    per peel round (surviving nodes/edges), i.e. the convergence curve;
    a fixed round count keeps the oracle expressible as unrolled CTEs —
    production peeling loops until a round removes nothing.

    Iterative DataFrame shape: per round one degree aggregation + two
    LEFT SEMI joins filtering the edge list (never IN-subquery
    materialization on the driver), edge table localCheckpoint-ed per
    round so lineage stays O(1) per round — the graph_pagerank contract
    applied to a shrinking edge set."""
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    rows = []
    for i in range(KCORE_PEELS):
        keep = _node_degrees(e).filter(F.col("d") >= KCORE_K).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "lo"), "lo", "left_semi")
            .join(keep.withColumnRenamed("node", "hi"), "hi", "left_semi")
            .select("lo", "hi")
            # each round's survivors feed the next degree agg AND the
            # stats row — truncate lineage per round. LAZY (r14): the
            # truncation happens at plan level immediately; the RDD
            # materializes once inside the final job instead of paying
            # one scheduled driver job per peel (measured at sf0.01:
            # min 2.28 -> 1.71 s, rows identical).
            .localCheckpoint(eager=False)
        )
        n_nodes = keep.agg(F.count(F.lit(1)).alias("n_nodes"))
        n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
        rows.append(
            n_nodes.crossJoin(F.broadcast(n_edges)).select(
                F.lit(i + 1).alias("peel"), "n_nodes", "n_edges"
            )
        )
    return reduce(DataFrame.unionAll, rows).orderBy("peel")


BFS_LAYERS = 4


def _bfs_oracle() -> str:
    """Unrolled BFS rounds (MATERIALIZED — each layer is referenced by
    the next frontier, the visited union, and its stats row)."""
    unrolled = ",\n    ".join(
        f"""l{i + 1} AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node
      FROM l{i} f JOIN edges e ON e.src = f.node
      WHERE e.dst NOT IN (SELECT node FROM v{i})
    ),
    v{i + 1} AS MATERIALIZED (
      SELECT node FROM v{i} UNION SELECT node FROM l{i + 1}
    )"""
        for i in range(BFS_LAYERS)
    )
    final = " UNION ALL ".join(
        f"SELECT {i} AS layer, (SELECT CAST(count(*) AS BIGINT) FROM l{i}) AS n_nodes"
        for i in range(BFS_LAYERS + 1)
    )
    return f"""
    WITH {_DEG_SQL},
    l0 AS MATERIALIZED (
      SELECT node FROM deg ORDER BY d DESC, node LIMIT 1
    ),
    v0 AS MATERIALIZED (SELECT node FROM l0),
    {unrolled}
    SELECT layer, n_nodes FROM ({final}) ORDER BY layer
    """


@register(
    "graph_bfs_layers",
    oracle=_bfs_oracle(),
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability profile from the co-purchase graph's top hub
    (max degree, min-id tiebreak): nodes first reached at each of 4
    breadth layers — the expansion curve that measures effective
    diameter and hub coverage (a layer that swallows most of the graph
    by depth 2 is why label propagation converges in few supersteps
    here).

    Iterative frontier shape: each round joins the frontier against
    the edge list and anti-joins the visited set (LEFT ANTI — never an
    IN-list on the driver), with frontier AND visited checkpointed per
    round; visited is node-bounded, frontiers shrink as the graph
    saturates. The oracle unrolls the same rounds with MATERIALIZED
    CTEs (each layer feeds three consumers)."""
    edges = _directed(_copurchase_edges(spark, sf_dir)).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    root = (
        deg.orderBy(F.col("d").desc(), F.col("src"))
        .limit(1)
        .select(F.col("src").alias("node"))
        # lazy (r14): truncates lineage now, materializes in the final
        # job — same for the per-round frontier/visited checkpoints
        # below (measured at sf0.01: min 1.95 -> 1.37 s, rows equal)
        .localCheckpoint(eager=False)
    )
    frontier = root
    visited = root
    rows = [
        root.agg(F.count(F.lit(1)).alias("n_nodes")).select(
            F.lit(0).alias("layer"), "n_nodes"
        )
    ]
    for i in range(BFS_LAYERS):
        frontier = (
            edges.join(
                frontier.withColumnRenamed("node", "src"), "src", "left_semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(frontier).localCheckpoint(eager=False)
        rows.append(
            frontier.agg(F.count(F.lit(1)).alias("n_nodes")).select(
                F.lit(i + 1).alias("layer"), "n_nodes"
            )
        )
    return reduce(DataFrame.unionAll, rows).orderBy("layer")


N_ITER_PPR = 5
N_SEEDS = 5  # suppliers 1..5 seed the restart distribution
TOP_K_PPR = 30


def _ppr_oracle() -> str:
    """Unrolled personalized-PageRank iterations: each step is the
    contribution aggregate FULL OUTER JOINed with the seed teleport
    mass, so nodes reached only by teleport (the seeds) and nodes
    reached only by spread both survive — the sparse-vector walk."""
    unrolled = ",\n    ".join(
        f"""c{i + 1} AS MATERIALIZED (
      SELECT e.dst AS node,
             (85 * CAST(sum(r{i}.rank // deg.d) AS BIGINT)) // 100 AS spread
      FROM r{i}
      JOIN deg   ON deg.src = r{i}.node
      JOIN edges e ON e.src = r{i}.node
      GROUP BY e.dst
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT coalesce(c.node, s.node) AS node,
             CAST(coalesce(c.spread, 0) + coalesce(s.b, 0) AS BIGINT) AS rank
      FROM c{i + 1} c FULL OUTER JOIN seed_base s ON s.node = c.node
    )"""
        for i in range(N_ITER_PPR)
    )
    return f"""
    WITH {_SUPPLY_SQL},
    seeds AS (SELECT DISTINCT src AS node FROM deg
              WHERE src % 2 = 0 AND src // 2 <= {N_SEEDS}),
    ns AS (SELECT count(*) AS n FROM seeds),
    seed_base AS (
      SELECT node,
             CAST((15 * ({R_UNIT} // n)) // 100 AS BIGINT) AS b
      FROM seeds CROSS JOIN ns
    ),
    r0 AS (SELECT node, CAST({R_UNIT} // (SELECT n FROM ns) AS BIGINT) AS rank
           FROM seeds),
    {unrolled}
    SELECT node // 2 AS part_id, rank AS rank_fp
    FROM r{N_ITER_PPR}
    WHERE node % 2 = 1
    ORDER BY rank_fp DESC, node
    LIMIT {TOP_K_PPR}
    """


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank / random-walk-with-restart from a seed set
    (suppliers 1-{N_SEEDS}) over the supplier↔part co-supply graph: the
    teleport returns to the SEEDS, not the uniform distribution, so the
    stationary mass ranks parts by proximity to those suppliers — the
    item-recommendation / related-entities workload, where global
    PageRank (graph_pagerank) answers a different question (global
    centrality).

    The rank vector starts |seeds|-sparse and only grows along reached
    edges — each superstep joins the CURRENT nonzero ranks against the
    edge list (sparse-matrix × sparse-vector), then FULL OUTER-merges
    the seed teleport mass so unreachable-but-seeded nodes persist.
    At 100 TB the working set is the walk's frontier, not the graph.
    Same integer fixed-point determinism contract as graph_pagerank
    (module docstring); the oracle unrolls the identical recurrence.

    Loop-invariant hoisting (r14, same rewrite as graph_pagerank,
    measured there): ONE persisted (src, dst, d) contribution table
    pre-partitioned by src replaces the separate edges/deg caches, and
    the seed count + teleport constants are computed once as scalars
    instead of a per-iteration 1-row crossJoin broadcast."""
    contrib_edges = _contrib_edges(spark, sf_dir)
    seeds = (
        contrib_edges.filter(
            (F.col("src") % 2 == 0) & (F.expr("src div 2") <= N_SEEDS)
        )
        .select(F.col("src").alias("node"))
        .distinct()
        .persist()
    )
    # loop-invariant teleport scalars (1-row driver scalar per build —
    # parameterizes the plan, nothing cached across runs); the count
    # also materializes both caches
    n = seeds.count()
    r0 = R_UNIT // n if n else 0
    b = (15 * r0) // 100
    seed_base = seeds.select("node", F.lit(b).cast("long").alias("b"))
    ranks = seeds.select("node", F.lit(r0).cast("long").alias("rank"))
    for it in range(N_ITER_PPR):
        ranks = (
            _spread(contrib_edges, ranks)
            .join(seed_base, "node", "full_outer")
            .select(
                "node",
                (
                    F.coalesce(F.col("spread"), F.lit(0))
                    + F.coalesce(F.col("b"), F.lit(0))
                ).cast("long").alias("rank"),
            )
        )
    ranks = ranks.localCheckpoint(eager=True)
    contrib_edges.unpersist()
    seeds.unpersist()
    return (
        ranks.filter(F.col("node") % 2 == 1)
        .select(
            F.expr("node div 2").alias("part_id"),
            F.col("rank").alias("rank_fp"),
        )
        .orderBy(F.col("rank_fp").desc(), F.col("part_id"))
        .limit(TOP_K_PPR)
    )


@register(
    "graph_modularity",
    # exact-integer Newman modularity Q = Σ_c(4m·L_c − D_c²)/(4m²) over
    # the label-propagation communities; every numerator term a BIGINT
    oracle=f"""
    WITH {_DEG_SQL},
    {_LP_SQL},
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    lc AS (
      SELECT a.label, CAST(count(*) AS BIGINT) AS l_in
      FROM e0
      JOIN l{LP_ITER} a ON a.node = e0.lo
      JOIN l{LP_ITER} b ON b.node = e0.hi AND b.label = a.label
      GROUP BY a.label
    ),
    dc AS (
      SELECT l.label, CAST(sum(deg.d) AS BIGINT) AS d_sum
      FROM l{LP_ITER} l JOIN deg ON deg.node = l.node
      GROUP BY l.label
    ),
    qn AS (
      SELECT CAST(sum(4 * mm.m * coalesce(lc.l_in, 0)
                      - dc.d_sum * dc.d_sum) AS BIGINT) AS q_num,
             CAST(count(*) AS BIGINT) AS n_communities,
             CAST(sum(coalesce(lc.l_in, 0)) AS BIGINT) AS intra_edges
      FROM dc LEFT JOIN lc ON lc.label = dc.label CROSS JOIN mm
      GROUP BY ()
    )
    SELECT mm.m AS n_edges, qn.n_communities, qn.intra_edges, qn.q_num,
           round(qn.q_num / (4.0 * mm.m * mm.m), 6) AS modularity
    FROM qn CROSS JOIN mm
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the min-label-propagation communities on
    the co-purchase graph — the single number that says whether the
    detected partition beats random wiring (Q > 0) and the objective
    Louvain/Leiden climb; here it audits graph_label_propagation's
    output, closing the detect→score loop.

    Exactness: with L_c intra-community edge counts, D_c community
    degree sums, and m undirected edges — all exact BIGINTs — Q is
    assembled as Σ_c(4m·L_c − D_c²) / (4m²): an exact integer numerator
    and ONE double division, so both engines agree to the bit before
    the final rounding. Scale shape: the LP supersteps are the same
    Pregel joins as graph_label_propagation; modularity itself adds
    one edge-keyed membership join (L_c) and one node-keyed degree
    rollup (D_c), both label-keyed aggregates after."""
    # read three times: edges union, m count, intra-edge join
    e0 = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    edges = _directed(e0).localCheckpoint(eager=True)
    labels = _label_propagation(edges).localCheckpoint(eager=True)  # read 2x below
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    mm = e0.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = labels.select(F.col("node").alias("lo"), F.col("label").alias("la_l"))
    lb = labels.select(F.col("node").alias("hi"), F.col("label").alias("lb_l"))
    lc = (
        e0.join(la, "lo")
        .join(lb, "hi")
        .filter(F.col("la_l") == F.col("lb_l"))
        .groupBy(F.col("la_l").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("l_in"))
    )
    dc = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("d_sum"))
    )
    qn = (
        dc.join(lc, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            (
                4 * F.col("m") * F.coalesce(F.col("l_in"), F.lit(0))
                - F.col("d_sum") * F.col("d_sum")
            ).alias("term"),
            F.coalesce(F.col("l_in"), F.lit(0)).alias("l_in"),
        )
        .agg(
            F.sum("term").cast("long").alias("q_num"),
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.sum("l_in").cast("long").alias("intra_edges"),
        )
    )
    return qn.crossJoin(F.broadcast(mm)).select(
        F.col("m").alias("n_edges"),
        "n_communities",
        "intra_edges",
        "q_num",
        F.round(
            F.col("q_num") / (4.0 * F.col("m").cast("double") * F.col("m")), 6
        ).alias("modularity"),
    )


AA_DEG_CAP = 8  # hub cap: wedges route only through common neighbors
#                 with deg(z) <= CAP — the 100 TB wedge-blowup control


def _adamic_adar_oracle(cap: int | None) -> str:
    """Top-20 Adamic-Adar non-edges; with ``cap``, wedges count only
    through common neighbors of degree <= cap (plus a deg_cap column)."""
    cap_filter = f" AND d <= {cap}" if cap else ""
    cap_col = f",\n           CAST({cap} AS INT) AS deg_cap" if cap else ""
    return f"""
    WITH {_DEG_SQL},
    iw AS (SELECT node,
                  CAST(floor(1000000.0 / ln(d) + 0.001) AS BIGINT)
                    AS inv_micro
           FROM deg WHERE d >= 2{cap_filter}),
    wedge AS (
      SELECT s1.dst AS lo, s2.dst AS hi, s1.src AS z
      FROM edges s1 JOIN edges s2 ON s1.src = s2.src AND s1.dst < s2.dst
    ),
    cand AS (
      SELECT wedge.lo, wedge.hi,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(iw.inv_micro) AS BIGINT) AS aa_micro
      FROM wedge JOIN iw ON iw.node = wedge.z
      GROUP BY 1, 2
    )
    SELECT c.lo AS item_a, c.hi AS item_b, c.n_common, c.aa_micro,
           round(c.aa_micro / 1000000.0, 6) AS aa_score{cap_col}
    FROM cand c LEFT JOIN e0 ON e0.lo = c.lo AND e0.hi = c.hi
    WHERE e0.lo IS NULL
    ORDER BY c.aa_micro DESC, c.lo, c.hi LIMIT 20
    """


def _adamic_adar_inputs(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(e, sym, iw)``: the staged edge table, its directed form
    ``(src, dst)``, and the exact 1/ln(deg) weight ``(node, inv_micro)``
    of every node of degree >= 2 (and <= ``cap`` when given)."""
    # narrow staged edge table (2 longs/row, catalog-pair-sized — the
    # grid_lof staged-model-table precedent): sym/deg/wedge/anti-join
    # otherwise re-derive the basket self-join 7x
    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = _directed(e)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    keep = F.col("d") >= 2
    if cap:
        keep = keep & (F.col("d") <= cap)
    iw = deg.filter(keep).select(
        "node",
        F.expr("CAST(floor(1000000.0 / ln(d) + 0.001) AS BIGINT)").alias(
            "inv_micro"
        ),
    )
    return e, sym, iw


def _adamic_adar_top(cand: DataFrame, e: DataFrame, *extra) -> DataFrame:
    """Drop existing edges from the scored ``cand`` pairs by anti-join
    (never materializing the non-edge complement) and keep the top 20."""
    ex = e.select(F.col("lo").alias("elo"), F.col("hi").alias("ehi"))
    return (
        cand.join(
            ex,
            (F.col("lo") == F.col("elo")) & (F.col("hi") == F.col("ehi")),
            "left_anti",
        )
        .select(
            F.col("lo").alias("item_a"),
            F.col("hi").alias("item_b"),
            "n_common",
            "aa_micro",
            F.round(F.col("aa_micro") / 1_000_000.0, 6).alias("aa_score"),
            *extra,
        )
        .orderBy(F.col("aa_micro").desc(), "item_a", "item_b")
        .limit(20)
    )


@register(
    "adamic_adar_link_prediction",
    oracle=_adamic_adar_oracle(None),
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003; the classic
    common-neighbors index, LibenNowell & Kleinberg 2007) on the
    co-purchase item graph (graph_triangle_count's edge set): for every
    NON-adjacent item pair, AA = sum over common neighbors z of
    1/ln(deg(z)) — rare shared neighbors count more — and the top-20
    scored pairs are the recommended new links. Completes the graph
    tier's analytics (degree/PageRank/triangles/k-core/communities)
    with the prediction task they usually feed.

    Determinism: 1/ln(d) is evaluated once per node on the bounded
    degree table behind the floor(x*1e6+1e-3) guard (common neighbors
    have deg >= 2 by construction, so ln > 0), making every pair score
    an exact BIGINT sum; ranking ties break on (item_a, item_b).

    Scale: the wedge join s1(z)-s2(z) is the standard two-path
    enumeration — hub-bounded here by the >= 2-support co-purchase
    edge definition; at 100 TB you'd cap per-node neighbor lists
    (top-d by weight) before the wedge join, the same mitigation the
    triangle count documents. Existing edges are removed by an
    anti-join, never materializing the non-edge complement."""
    e, sym, iw = _adamic_adar_inputs(spark, sf_dir, None)
    # r13: the 1/ln(deg) weight joins the EDGE-sized sym table (one
    # row per directed edge) BEFORE the wedge self-join, so the
    # wedge-sized intermediate — sum over z of C(deg(z), 2) rows, the
    # plan's largest relation by orders of magnitude — flows straight
    # into the groupBy instead of through another join on z. (The
    # wedge VOLUME itself is irreducible for exact AA: every
    # common-neighbor pair contributes to every z's score, so unlike
    # triangle counting no degree orientation can prune wedges — the
    # deg-capped twin below is the 100 TB mitigation.)
    s1 = sym.join(iw, F.col("node") == F.col("src")).select(
        F.col("src").alias("z"), F.col("dst").alias("lo"), "inv_micro"
    )
    s2 = sym.select(F.col("src").alias("z2"), F.col("dst").alias("hi"))
    wedge = s1.join(
        s2, (F.col("z") == F.col("z2")) & (F.col("lo") < F.col("hi"))
    )
    cand = wedge.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("inv_micro").cast("long").alias("aa_micro"),
    )
    return _adamic_adar_top(cand, e)


@register(
    "adamic_adar_capped",
    oracle=_adamic_adar_oracle(AA_DEG_CAP),
)
def adamic_adar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped Adamic-Adar (r12, VERDICT r11 #5): identical to
    adamic_adar_link_prediction except wedges route ONLY through
    common neighbors z with deg(z) <= AA_DEG_CAP — the per-node cap
    that bounds the two-path enumeration at 100 TB, where one hub of
    degree D alone generates D² wedge rows. The approximation is
    principled for AA specifically: a skipped hub contributes at most
    1/ln(deg) < 1/ln(CAP) per pair, exactly the neighbors the index
    already down-weights. The cap is part of the query contract
    (deg_cap output column) and the oracle applies the identical
    d <= CAP filter, so this stays hash-exact — the capped production
    shape, with the uncapped twin as its losslessness yardstick at
    test SF.

    Scale: each surviving z generates <= CAP² wedge rows, so the wedge
    join is O(CAP² · |nodes|) regardless of the degree distribution;
    everything else matches the uncapped twin (one staged edge table,
    anti-join for non-edges, exact integer scores)."""
    e, sym, iw = _adamic_adar_inputs(spark, sf_dir, AA_DEG_CAP)
    # cap applied BEFORE the wedge self-join: only capped z fan out,
    # so no hub ever enters the two-path enumeration
    symc = sym.join(
        iw.select(F.col("node").alias("zok")),
        F.col("src") == F.col("zok"),
        "left_semi",
    )
    s2 = symc.select(F.col("src").alias("z2"), F.col("dst").alias("hi"))
    wedge = symc.select(F.col("src").alias("z"), F.col("dst").alias("lo")).join(
        s2, (F.col("z") == F.col("z2")) & (F.col("lo") < F.col("hi"))
    )
    cand = (
        wedge.join(iw, F.col("node") == F.col("z"))
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("inv_micro").cast("long").alias("aa_micro"),
        )
    )
    return _adamic_adar_top(
        cand, e, F.lit(AA_DEG_CAP).cast("int").alias("deg_cap")
    )
