"""Distributed graph operators over the part co-purchase graph.

The reference pipeline moves statement/report files (REPORT:
script-dag-dock-report, STMTS: script-dag-dock-statements); a consumer
of that data runs product-affinity analytics on it. These operators
implement the two classic distributed-graph shapes on the co-purchase
graph (parts that appear in the same order):

- ``g_pagerank_copurchase`` — 2 power iterations of PageRank expressed
  as join+groupBy rounds (the Pregel message-passing pattern restated
  declaratively).
- ``g_triangle_count`` — global triangle count via the ordered-edge
  two-join scheme.

BIGINT headroom: a node's inflow is at most (total mass)/min_degree ≤
N·1e12, and the damping multiply adds a factor 85 — with ANSI mode on
(Spark 4 default) an overflow would THROW, not wrap, so the failure
mode is loud. N·85·1e12 < 2^63 holds to N ≈ 10^5 in the worst
all-mass-on-one-node case and to N ≈ 10^6+ for any real degree
distribution; beyond that, drop the scale to 1e9 — rank resolution
only needs to separate the top-k.

Cross-engine exactness: PageRank in floating point is NOT reproducible
across engines (accumulation order). Ranks here use fixed-point integer
arithmetic — rank scaled by 1e12, per-edge contribution is integer
division ``rank div degree``, damping is ``150e9 + (85 * sum) div 100``
— so every intermediate is a BIGINT and the DuckDB oracle reproduces
the engine bit-for-bit. The scheme is standard fixed-point PageRank
(see e.g. the integer-scaled formulations used in vertex-centric
systems); only the 1e12 scale is a local choice.

Scale (100 TB): edge generation is a self-equi-join on l_orderkey —
per-order fanout is bounded by order size (≤ items²), never all-pairs
across orders. Each PageRank iteration is one shuffle on src (join
ranks+degrees to edges) plus one on dst (sum contributions): 2 shuffles
× 2 iterations, all equi-key. Triangle counting uses the a<b<c ordered
orientation so each triangle is counted exactly once and the join fans
out on the smaller-degree endpoint; at web scale one would additionally
degree-cap hub nodes (documented, not needed at fixture scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load, local_frame
from dock_financial_data_pipelines_spark.hashing import h60_sql
from dock_financial_data_pipelines_spark.registry import query

_SCALE = 1_000_000_000_000  # fixed-point rank scale (1e12)
_TOP = 20


def _directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct directed co-purchase edges (both orientations): parts
    appearing together in at least one order."""
    ip = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = ip.alias("a")
    b = ip.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )


_EDGES_CTE = """
    ip AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM ip a JOIN ip b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )
"""


@query(
    "g_pagerank_copurchase",
    oracle=f"""
    WITH {_EDGES_CTE},
    deg AS (SELECT src, count(*) AS degree FROM e GROUP BY 1),
    r1 AS (
        SELECT e.dst AS node,
               150000000000 + (85 * CAST(sum({_SCALE} // d.degree) AS BIGINT))
                   // 100 AS r
        FROM e JOIN deg d ON e.src = d.src GROUP BY 1
    ),
    r2 AS (
        SELECT e.dst AS node,
               150000000000 + (85 * CAST(sum(r1.r // d.degree) AS BIGINT))
                   // 100 AS r
        FROM e
        JOIN deg d ON e.src = d.src
        JOIN r1 ON r1.node = e.src
        GROUP BY 1
    )
    SELECT r2.node AS part_key, d.degree, r2.r AS rank_fp
    FROM r2 JOIN deg d ON d.src = r2.node
    ORDER BY rank_fp DESC, part_key LIMIT {_TOP}
    """,
)
def g_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} parts by 2-iteration fixed-point PageRank.

    Every node starts at rank 1e12; one iteration sends ``rank div
    degree`` along each edge and re-damps: ``0.15e12 + 0.85 × inflow``
    in integer arithmetic. Nodes are defined by edges, so every node
    has degree ≥ 1 and there is no dangling mass."""
    e = _directed_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))

    def iterate(ranks: DataFrame) -> DataFrame:
        # ranks: (node, r). One message-passing round: shuffle edges on
        # src to meet (rank, degree), shuffle contributions on dst.
        return (
            e.join(deg, "src")
            .join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.expr(
                    "CAST(150000000000 + (85 * sum(r div degree)) div 100"
                    " AS BIGINT)"
                ).alias("r")
            )
        )

    r0 = deg.select(F.col("src").alias("node"), F.lit(_SCALE).alias("r"))
    r1 = iterate(r0)
    r2 = iterate(r1)
    return (
        r2.join(deg.withColumnRenamed("src", "node"), "node")
        .select(
            F.col("node").alias("part_key"),
            "degree",
            F.col("r").alias("rank_fp"),
        )
        .orderBy(F.desc("rank_fp"), "part_key")
        .limit(_TOP)
    )


@query(
    "g_triangle_count",
    oracle=f"""
    WITH {_EDGES_CTE},
    und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT count(DISTINCT src) FROM e) AS n_nodes,
           (SELECT count(*) FROM und) AS n_edges,
           n_triangles
    FROM tri
    """,
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count with the ordered-orientation two-join
    scheme: undirected edges kept as a<b, then (a,b)+(b,c) wedges
    closed against (a,c). Counts each triangle exactly once."""
    e = _directed_edges(spark, sf_dir).localCheckpoint(eager=True)
    und = e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    e1 = und.alias("e1")
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3")).alias("e3")
    wedges = e1.join(e2, "b")
    tri = wedges.join(
        e3,
        (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = e.agg(F.countDistinct("src").alias("n_nodes"))
    edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    # 1-row × 1-row scalar combines (guarded-crossJoin convention).
    return nodes.crossJoin(edges).crossJoin(tri)


# ---------------------------------------------------------------------------
# G3 — degree distribution of the co-purchase graph: the first sanity
# check run on any large graph (skew detection before joins/PageRank —
# a hub-heavy histogram is the signal to degree-cap). Distinct-neighbor
# degree per node, then a histogram over degrees. Pure integer counts;
# two equi-key shuffles after the bounded per-order edge fanout.
# ---------------------------------------------------------------------------
@query(
    "g_degree_distribution",
    oracle=f"""
    WITH {_EDGES_CTE},
    deg AS (SELECT src, count(*) AS degree FROM e GROUP BY 1)
    SELECT degree, count(*) AS n_parts
    FROM deg GROUP BY 1 ORDER BY 1
    """,
)
def g_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = (
        _directed_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# G4 — neighbor-set Jaccard similarity ("parts bought with the same
# things"): for each probe part, the top-5 most-similar parts by
# J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| over co-purchase neighbor sets —
# the item-item collaborative similarity every recommender starts
# from. Probe-bounded exact form (the l5_cosine_topk contract): probe
# = part_key < 200, so the wedge join (edges ⋈ edges on the middle
# node) fans out at most deg_probe(x)·deg(x) per middle node instead
# of deg(x)² — bounded at any corpus scale. Common-neighbor counts are
# integers, |N∪| = deg(a)+deg(b)−common needs no second pass, and the
# top-5 cut orders by the integer pair (common·denominator cross-
# multiplication is avoided by ordering on the identical-everywhere
# double ratio, tie-broken by part_b). At full-catalog scale the probe
# set becomes the partition unit and hub middles get degree-capped
# (the g_triangle note).
# ---------------------------------------------------------------------------
_SIM_PROBE_MAX = 200
_SIM_TOP = 5


@query(
    "g_jaccard_similar_parts",
    oracle=f"""
    WITH {_EDGES_CTE},
    deg AS (SELECT src, count(*) AS degree FROM e GROUP BY 1),
    wedges AS (
        SELECT e1.dst AS a, e2.dst AS b, count(*) AS common
        FROM e e1 JOIN e e2
          ON e1.src = e2.src AND e1.dst <> e2.dst
         AND e1.dst < {_SIM_PROBE_MAX}
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT w.a, w.b, w.common,
               CAST(w.common AS DOUBLE)
                   / (da.degree + db.degree - w.common) AS j,
               row_number() OVER (
                   PARTITION BY w.a
                   ORDER BY CAST(w.common AS DOUBLE)
                            / (da.degree + db.degree - w.common) DESC, w.b
               ) AS rk
        FROM wedges w
        JOIN deg da ON da.src = w.a
        JOIN deg db ON db.src = w.b
        WHERE w.common >= 2
    )
    SELECT a AS part_a, b AS part_b, common, rk,
           floor(j * 1e6 + 0.5) / 1e6 AS jaccard
    FROM scored WHERE rk <= {_SIM_TOP}
    """,
)
def g_jaccard_similar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    edges = _directed_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    wedges = (
        edges.where(F.col("dst") < _SIM_PROBE_MAX)
        .alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") != F.col("e2.dst")),
        )
        .groupBy(F.col("e1.dst").alias("a"), F.col("e2.dst").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= 2)
    )
    j = F.col("common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("common")
    )
    scored = (
        wedges.join(
            deg.select(F.col("src").alias("a"), F.col("degree").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("src").alias("b"), F.col("degree").alias("deg_b")),
            "b",
        )
        .withColumn("j", j)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("a").orderBy(F.desc("j"), "b")
            ),
        )
        .where(F.col("rk") <= _SIM_TOP)
    )
    return scored.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        "common",
        "rk",
        (F.floor(F.col("j") * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# G — two-hop neighborhood expansion: for a bounded probe set of parts,
# the parts reachable in exactly two co-purchase hops (excluding the
# probe itself and its direct neighbors) with path-count multiplicity —
# the BFS frontier primitive behind "customers also bought" and
# graph-feature extraction. Probe-bounded (src < 50) so the audit stays
# corpus-independent; each hop is a broadcast-frontier equi-join into
# the edge table — at 100 TB the frontier stays small while the edge
# table is the big, partitioned side (never the other way round).
# ---------------------------------------------------------------------------
@query(
    "g_two_hop_copurchase",
    oracle=f"""
    WITH {_EDGES_CTE},
    probe AS (SELECT DISTINCT src FROM e WHERE src < 50),
    hop1 AS (
        SELECT p.src AS origin, e.dst AS mid
        FROM probe p JOIN e ON e.src = p.src
    ),
    hop2 AS (
        SELECT h.origin, e.dst AS reach, count(*) AS n_paths
        FROM hop1 h JOIN e ON e.src = h.mid
        WHERE e.dst <> h.origin
        GROUP BY h.origin, e.dst
    )
    SELECT h2.origin AS part_key, h2.reach AS two_hop_part,
           h2.n_paths
    FROM hop2 h2
    LEFT JOIN hop1 d ON d.origin = h2.origin AND d.mid = h2.reach
    WHERE d.mid IS NULL
    """,
)
def g_two_hop_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _directed_edges(spark, sf_dir).localCheckpoint(eager=True)
    probe = e.where(F.col("src") < 50).select("src").distinct()
    hop1 = (
        F.broadcast(probe)
        .join(e, "src")
        .select(F.col("src").alias("origin"), F.col("dst").alias("mid"))
    )
    hop2 = (
        F.broadcast(hop1)
        .join(e, hop1.mid == e.src)
        .where(F.col("dst") != F.col("origin"))
        .groupBy(F.col("origin"), F.col("dst").alias("reach"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    direct = hop1.select("origin", F.col("mid").alias("reach")).distinct()
    return (
        hop2.join(F.broadcast(direct), ["origin", "reach"], "left_anti")
        .select(
            F.col("origin").alias("part_key"),
            F.col("reach").alias("two_hop_part"),
            "n_paths",
        )
    )


# ---------------------------------------------------------------------------
# G5 — deterministic random-walk corpus over the co-purchase graph: the
# walk-generation pass of DeepWalk/node2vec-style graph embedding prep,
# with the RNG replaced by the engine-portable md5 draw so both engines
# produce THE SAME walks (walk corpora must be reproducible artifacts,
# not run-local noise). Adjacency = edges with a per-source neighbor
# index (row_number over dst — a source-partitioned window, parallel at
# any scale); step t of the walk from start s picks neighbor
# md5('rw#s#t') mod degree — one equi-join on (node, idx) per step,
# K=3 steps unrolled, walk starts decimated to md5(node)%4==0. Output
# is one row per walk with the full path — the training corpus a
# skip-gram embedder consumes.
# ---------------------------------------------------------------------------
_WALK_STEPS = 3


def _rw_pick(node_col: str, step: int) -> str:
    return h60_sql(
        f"concat('rw#', CAST({node_col} AS STRING), '#', '{step}')", "spark"
    )


def _rw_oracle() -> str:
    steps_sql = ""
    prev_col = "start_node"
    for t in range(1, _WALK_STEPS + 1):
        p = h60_sql(
            f"'rw#' || CAST(w.start_node AS VARCHAR) || '#' || '{t}'", "duckdb"
        )
        steps_sql += f""",
    w{t} AS (
        SELECT w.*, a.dst AS n{t}
        FROM w{t - 1} w
        JOIN adj a ON a.src = w.{prev_col} AND a.idx = {p} % a.deg
    )"""
        prev_col = f"n{t}"
    return f"""
    WITH ip AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM ip a JOIN ip b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    adj AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
               count(*) OVER (PARTITION BY src) AS deg
        FROM e
    ),
    w0 AS (
        SELECT DISTINCT src AS start_node FROM e
        WHERE {h60_sql("CAST(src AS VARCHAR)", "duckdb")} % 4 = 0
    ){steps_sql}
    SELECT start_node, n1, n2, n3
    FROM w{_WALK_STEPS} ORDER BY start_node
    """


@query("g_random_walks", oracle=_rw_oracle())
def g_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _directed_edges(spark, sf_dir)
    adj = e.select(
        "src",
        "dst",
        (F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1).alias(
            "idx"
        ),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
    )
    starts = (
        e.select("src")
        .distinct()
        .where(
            F.expr(h60_sql("CAST(src AS STRING)", "spark") + " % 4 = 0")
        )
        .select(F.col("src").alias("start_node"))
    )
    w = starts
    prev_col = "start_node"
    for t in range(1, _WALK_STEPS + 1):
        step_adj = adj.select(
            F.col("src").alias("_s"),
            F.col("dst").alias(f"n{t}"),
            F.col("idx").alias("_i"),
            F.col("deg").alias("_d"),
        )
        w = (
            w.join(
                step_adj,
                (F.col(prev_col) == F.col("_s"))
                & (
                    F.col("_i")
                    == F.expr(_rw_pick("start_node", t)) % F.col("_d")
                ),
            )
            .drop("_s", "_i", "_d")
        )
        prev_col = f"n{t}"
    return w.select("start_node", "n1", "n2", "n3").orderBy("start_node")


# ---------------------------------------------------------------------------
# G6 — k-core decomposition trajectory: iteratively peel nodes whose
# degree in the surviving subgraph falls below k (k = the exact median
# initial degree, derived from the data so the report stays
# non-degenerate at every scale factor), for 6 unrolled rounds — the
# community-detection / spam-subgraph primitive. Per round: surviving
# node and edge counts; plus the convergence flag (round 6 peeled
# nothing) emitted UNCONDITIONALLY so both engines must agree on the
# fixpoint claim itself. Same bounded-unroll contract as the PageRank /
# Lloyd oracles: each round is one induced-subgraph equi-join + one
# degree aggregate — at 100 TB, R rounds = R bounded shuffles on the
# node key, and the edge list is re-filtered, never recomputed.
# ---------------------------------------------------------------------------
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    parts = [f"""
    WITH {_EDGES_CTE},
    em AS MATERIALIZED (SELECT * FROM e),
    d0 AS MATERIALIZED (SELECT src, count(*) AS d FROM em GROUP BY 1),
    kval AS (
        SELECT d AS k FROM (
            SELECT d, row_number() OVER (ORDER BY d, src) AS rn,
                   count(*) OVER () AS n
            FROM d0
        ) WHERE rn = (n + 1) // 2
    ),
    a0 AS MATERIALIZED (SELECT src AS node FROM d0)"""]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(f""",
    e{i} AS MATERIALIZED (
        SELECT em.src, em.dst FROM em
        JOIN a{i - 1} x ON x.node = em.src
        JOIN a{i - 1} y ON y.node = em.dst
    ),
    d{i} AS (SELECT src, count(*) AS d FROM e{i} GROUP BY 1),
    a{i} AS MATERIALIZED (SELECT src AS node FROM d{i}, kval WHERE d >= k)""")
    rows = ",\n        ".join(
        f"({i}, (SELECT count(*) FROM a{i}),"
        f" (SELECT count(*) FROM e{i}) // 2)"
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    parts.append(f""",
    trajectory(round, n_nodes, n_edges) AS (VALUES
        (0, (SELECT count(*) FROM a0), (SELECT count(*) FROM em) // 2),
        {rows})
    SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           (SELECT CAST(k AS BIGINT) FROM kval) AS k,
           (SELECT count(*) FROM a{_KCORE_ROUNDS})
               = (SELECT count(*) FROM a{_KCORE_ROUNDS - 1}) AS converged
    FROM trajectory ORDER BY round""")
    return "".join(parts)


@query("g_k_core", oracle=_kcore_oracle())
def g_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _directed_edges(spark, sf_dir).localCheckpoint(eager=True)
    d0 = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    kval = (
        d0.select(
            "d",
            F.row_number().over(Window.orderBy("d", "src")).alias("rn"),
            F.count(F.lit(1))
            .over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("d").alias("k"))
    )
    krows = kval.collect()  # scalar: the peel threshold (driver-safe)
    if not krows:
        # Empty graph: every peel round holds 0 nodes / 0 edges, the
        # median degree k is undefined (NULL), and the peel is trivially
        # converged — the same ladder the oracle's CTE chain emits.
        return local_frame(spark, 
            [(i, 0, 0, None, True) for i in range(_KCORE_ROUNDS + 1)],
            "round INT, n_nodes BIGINT, n_edges BIGINT, k BIGINT, "
            "converged BOOLEAN",
        ).orderBy("round")
    k = krows[0]["k"]
    active = d0.select(F.col("src").alias("node"))
    counts = [(0, active.count(), e.count() // 2)]
    cur_edges = e
    prev_n = counts[0][1]
    for i in range(1, _KCORE_ROUNDS + 1):
        cur_edges = (
            cur_edges.join(active.withColumnRenamed("node", "src"), "src")
            .join(active.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
        di = cur_edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        active = di.where(F.col("d") >= k).select(
            F.col("src").alias("node")
        ).localCheckpoint(eager=True)
        counts.append((i, active.count(), cur_edges.count() // 2))
    converged = counts[-1][1] == counts[-2][1]
    rows = [
        (r, int(n), int(m), int(k), converged) for r, n, m in counts
    ]
    return local_frame(spark, 
        rows,
        "round INT, n_nodes BIGINT, n_edges BIGINT, k BIGINT, "
        "converged BOOLEAN",
    ).orderBy("round")


# ---------------------------------------------------------------------------
# G7 — single-source BFS distances: unweighted shortest hops from the
# minimum part key, 4 unrolled frontier expansions (the Pregel BFS
# shape restated as join rounds — each hop is ONE equi-join of the
# frontier against the edge list plus an anti-join against the
# visited set). Output: node count per distance 0-4 plus the
# still-unreached remainder — the connectivity profile a graph
# operator reads before running anything iterative. Same bounded-
# unroll oracle contract as PageRank/k-core (MATERIALIZED CTE per
# hop). On the co-purchase graph the diameter is tiny, so the
# unreached row doubles as a disconnection detector.
# ---------------------------------------------------------------------------
_BFS_HOPS = 4


def _bfs_oracle() -> str:
    parts = [f"""
    WITH {_EDGES_CTE},
    em AS MATERIALIZED (SELECT * FROM e),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM em),
    seed AS (SELECT min(node) AS s FROM nodes),
    v0 AS MATERIALIZED (
        SELECT node, 0 AS dist FROM nodes WHERE node = (SELECT s FROM seed)
    )"""]
    for i in range(1, _BFS_HOPS + 1):
        parts.append(f""",
    f{i} AS (
        SELECT DISTINCT em.dst AS node
        FROM em JOIN v{i - 1} v ON v.node = em.src AND v.dist = {i - 1}
    ),
    v{i} AS MATERIALIZED (
        SELECT node, dist FROM v{i - 1}
        UNION ALL
        SELECT f.node, {i} AS dist FROM f{i} f
        WHERE NOT EXISTS (SELECT 1 FROM v{i - 1} p WHERE p.node = f.node)
    )""")
    parts.append(f"""
    SELECT CAST(coalesce(v.dist, -1) AS INT) AS distance,
           count(*) AS n_nodes
    FROM nodes n LEFT JOIN v{_BFS_HOPS} v ON v.node = n.node
    GROUP BY 1 ORDER BY 1""")
    return "".join(parts)


@query("g_bfs_distance", oracle=_bfs_oracle())
def g_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _directed_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = e.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    seed = nodes.agg(F.min("node").alias("s"))
    visited = nodes.join(
        F.broadcast(seed), F.col("node") == F.col("s")
    ).select("node", F.lit(0).alias("dist")).localCheckpoint(eager=True)
    for hop in range(1, _BFS_HOPS + 1):
        frontier = (
            e.join(
                visited.where(F.col("dist") == hop - 1).withColumnRenamed(
                    "node", "src"
                ).select("src"),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = frontier.join(visited.select("node"), "node", "left_anti")
        visited = visited.unionByName(
            new.select("node", F.lit(hop).alias("dist"))
        ).localCheckpoint(eager=True)
    return (
        nodes.join(visited, "node", "left")
        .select(
            F.coalesce(F.col("dist"), F.lit(-1)).cast("int").alias("distance")
        )
        .groupBy("distance")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("distance")
    )


# ---------------------------------------------------------------------------
# q_bom_explosion — multi-level bill-of-materials explosion + cost
# rollup, the classic recursive-CTE workload (the reference's statement
# pipeline feeds exactly this kind of assembly costing downstream;
# REPORT: script-dag-dock-report consumers). The part hierarchy is
# derived deterministically from the key space (child c >= 10 has
# parent c div 10 when that part exists, per-edge quantity
# (c mod 5) + 1), giving a forest whose depth grows with log10(N) —
# 5-6 levels at production key ranges.
#
# Spark has no recursive CTE, so the ancestor closure is built with the
# standard iterative frontier expansion: each round joins the frontier
# to the edge list (equi-join on the child key — one bounded shuffle per
# level), localCheckpoints the frontier to truncate lineage, and stops
# when a level adds no rows. Depth is bounded by log10(max key), so the
# loop is O(log N) rounds — at 100 TB that is ~7 equi-joins, each
# shuffling only the still-open frontier, never the full closure.
# Path quantity multiplies BIGINT edge quantities (<= 5^depth, far
# inside 2^63); extended cost casts the per-row mult x retailprice
# double to DECIMAL(27,2) before the order-independent decimal sum.
# The DuckDB oracle is the same closure as a WITH RECURSIVE CTE.
# ---------------------------------------------------------------------------
_BOM_MAX_DEPTH = 12


@query(
    "q_bom_explosion",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT c.p_partkey AS child,
               c.p_partkey // 10 AS parent,
               (c.p_partkey % 5) + 1 AS qty
        FROM part c JOIN part p ON p.p_partkey = c.p_partkey // 10
        WHERE c.p_partkey >= 10
    ),
    clo AS (
        SELECT p_partkey AS dsc, p_partkey AS anc,
               CAST(1 AS BIGINT) AS mult, 0 AS lvl
        FROM part
        UNION ALL
        SELECT c.dsc, e.parent, c.mult * e.qty, c.lvl + 1
        FROM clo c JOIN edges e ON c.anc = e.child
    )
    SELECT c.anc AS assembly_key,
           count(*) AS n_components,
           CAST(max(c.lvl) AS INT) AS subtree_depth,
           CAST(sum(c.mult) AS BIGINT) AS total_units,
           CAST(round(sum(CAST(c.mult * p.p_retailprice
                               AS DECIMAL(27,2))), 2) AS DOUBLE)
               AS rolled_up_cost
    FROM clo c JOIN part p ON p.p_partkey = c.dsc
    GROUP BY 1
    """,
)
def q_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    keys = part.select("p_partkey")
    edges = (
        keys.where(F.col("p_partkey") >= 10)
        .select(
            F.col("p_partkey").alias("child"),
            F.expr("p_partkey div 10").alias("parent"),
            ((F.col("p_partkey") % 5) + 1).cast("long").alias("qty"),
        )
        .join(
            keys.select(F.col("p_partkey").alias("parent")),
            "parent",
            "semi",
        )
        .localCheckpoint(eager=True)
    )
    base = keys.select(
        F.col("p_partkey").alias("dsc"),
        F.col("p_partkey").alias("anc"),
        F.lit(1).cast("long").alias("mult"),
        F.lit(0).alias("lvl"),
    ).localCheckpoint(eager=True)
    closure = base
    frontier = base
    for _ in range(_BOM_MAX_DEPTH):
        nxt = (
            frontier.join(edges, frontier["anc"] == edges["child"])
            .select(
                "dsc",
                F.col("parent").alias("anc"),
                (F.col("mult") * F.col("qty")).alias("mult"),
                (F.col("lvl") + 1).alias("lvl"),
            )
        )
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return (
        closure.join(part, closure["dsc"] == part["p_partkey"])
        .groupBy(F.col("anc").alias("assembly_key"))
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.max("lvl").cast("int").alias("subtree_depth"),
            F.sum("mult").cast("long").alias("total_units"),
            F.round(
                F.sum(
                    (F.col("mult") * F.col("p_retailprice")).cast(
                        "decimal(27,2)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("rolled_up_cost"),
        )
    )
