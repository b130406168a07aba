"""Graph workload — integer-quantized PageRank over the customer↔supplier
bipartite trade graph (edges = distinct (customer, supplier) pairs that
traded, both directions so mass circulates).

Node encoding packs both key spaces into one int64 id: customer → 2k,
supplier → 2k+1. The DuckDB twin unrolls the fixed iteration count into
chained CTEs and replays the exact integer trajectory (see
``operators/graph.py`` for why there is no float anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.operators.graph import (
    SCALE,
    bfs_hops,
    pagerank,
)
from feature_generation_benchmark_spark.sources.testdata import load_table
from feature_generation_benchmark_spark.workloads import QueryDef

_PR_ITERS = 5
_PR_DAMP = 85


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    # both directions from ONE pass: the former fwd/bwd UNION referenced
    # the pairs subtree twice, so the lineitem⋈orders join AND its
    # distinct executed twice on every (re)materialization (Catalyst
    # does not CSE across union legs) — exploding each distinct pair
    # into its two directed edges emits identical rows from one join
    # (r7, guide §2.4); row order within a partition differs but every
    # consumer aggregates
    return pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("cnode").alias("src"), F.col("snode").alias("dst")
                ),
                F.struct(
                    F.col("snode").alias("src"), F.col("cnode").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_generation_benchmark_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    edges = _trade_edges(spark, sf_dir).cache()
    scores = pagerank(
        edges,
        iterations=_PR_ITERS,
        damping_pct=_PR_DAMP,
        # node space = customers + suppliers (dim-sized) even though the
        # edge list is fact-sized — the broadcast-state iteration applies
        small_state=True,
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        scores.filter(F.col("node") % 2 == 1)
        .select(((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"),
                "score_e9")
        .join(F.broadcast(supp), "s_suppkey")
        .select("s_suppkey", "s_name", "score_e9")
    )


def _pagerank_oracle() -> str:
    d = _PR_DAMP
    sql = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
s0 AS (SELECT node, CAST({SCALE} // n AS BIGINT) AS score
       FROM nodes CROSS JOIN nn)"""
    for i in range(_PR_ITERS):
        sql += f""",
m{i + 1} AS (
  SELECT e.dst, sum(s.score // deg.out_deg) AS in_mass
  FROM edges e JOIN s{i} s ON e.src = s.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
s{i + 1} AS (
  SELECT nodes.node,
    CAST(({100 - d}::BIGINT * {SCALE}) // (100 * nn.n)
         + ({d}::BIGINT * coalesce(m.in_mass, 0)) // 100 AS BIGINT)
      AS score
  FROM nodes CROSS JOIN nn LEFT JOIN m{i + 1} m ON nodes.node = m.dst
)"""
    sql += f"""
SELECT s_suppkey, s_name, score AS score_e9
FROM s{_PR_ITERS} JOIN supplier ON (node - 1) // 2 = s_suppkey
WHERE node % 2 = 1
"""
    return sql


QUERIES = [
    QueryDef(
        "pagerank_suppliers",
        pagerank_suppliers,
        _pagerank_oracle(),
        "integer-quantized PageRank over the trade graph, 5 unrolled iters",
    ),
]


# --------------------------------------------------------------------------
# triangle counting (r3b) — the co-purchase graph clustering primitive,
# implemented with the degree-orientation trick from Suri &
# Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer"
# (WWW'11): orient every edge from its lower-(degree, id) endpoint to the
# higher one, so each wedge is generated exactly once at its lowest-degree
# apex and per-node wedge fan-out is bounded by O(sqrt(m)) — THE published
# fix for the hot-vertex straggler that kills naive triangle joins at
# scale.
# --------------------------------------------------------------------------


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) distinct edges between parts co-ordered in the
    same order. Per-order fan-out is bounded by order size (≤ 7
    lineitems), so the pair explosion is linear in lineitems."""
    lp = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = lp.alias("a"), lp.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )


def triangle_counts_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation counts in the co-order graph.

    Plan: canonical edge list → degree table (edge-keyed agg) → degree
    orientation (two broadcast-joinable degree lookups — the degree table
    is node-sized, ≪ edges) → wedge self-join on the apex → closing-edge
    semi-join → explode corners → count per part. Every join is an
    equi-join; the orientation bounds the wedge join's per-key fan-out,
    which is what makes the self-join survive hot parts at 100 TB."""
    # cache: the edge list (the costliest subtree — distinct of a
    # per-order pair join over lineitem) feeds the degree agg, BOTH
    # sides of the wedge self-join, and the closing-edge probe — four
    # evaluations without the cache (r6 session-3 review; the sibling
    # pagerank/BFS queries already cache their shared edge lists).
    # Storage ownership follows the operators/dedup.py contract: the
    # session owner clears caches between workloads.
    edges = _part_edges(spark, sf_dir).cache()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(
        F.col("node").alias("u"), F.col("deg").alias("du")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("deg").alias("dv")
    )
    ranked = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    # orient low (deg, id) -> high (deg, id); ties impossible to cycle
    # because (deg, id) is a total order
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = (
        e1.join(e2, "src")
        .where(F.col("e1.dst") < F.col("e2.dst"))
        .select(
            F.col("src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    closing = edges.select(
        F.col("u").alias("b"), F.col("v").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"])
    corners = (
        tris.select(F.col("a").alias("part"))
        .unionAll(tris.select(F.col("b").alias("part")))
        .unionAll(tris.select(F.col("c").alias("part")))
    )
    return (
        corners.groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


_TRIANGLE_ORACLE = """
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
),
corners AS (
  SELECT a AS part FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t
)
SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY part
"""

# bench=False: the co-order graph densifies superlinearly with sf (sf0.1
# is ~30M wedges), so this entry's cost is a property of the fixture's
# graph density, not of engine throughput — it would dominate the
# headline total the way duplicate_clusters' iteration count would.
# Correctness stays gated through the sf0.01 oracle run.
QUERIES.append(
    QueryDef(
        "triangle_counts_parts",
        triangle_counts_parts,
        _TRIANGLE_ORACLE,
        "degree-oriented triangle counting on the co-order part graph",
        bench=False,
    )
)


# --------------------------------------------------------------------------
# bounded-depth BFS (r4c) — min-hop distances over the trade graph, the
# reachability/neighborhood primitive (supplier risk propagation, entity
# neighborhood features). Iterative frontier expansion on the Spark side;
# the DuckDB twin is a depth-bounded recursive CTE + min(hop), which
# replays the integer-only program exactly.
# --------------------------------------------------------------------------

_BFS_HOPS = 4
_BFS_SRC_SUPPKEY = 1


def supplier_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop distance from supplier #1 to every supplier reachable in
    <= 4 hops of the customer<->supplier trade graph (supplier-to-supplier
    distance = 2 hops via a shared customer).

    Plan: `operators/graph.py::bfs_hops` — per level ONE fact-sized
    equi-join (edges x broadcast frontier) + one dedup shuffle; frontier
    state is node-sized and broadcast; each level localCheckpoints so the
    K-level program never replays lineage. No early exit: all 4 levels
    are built.
    """
    from feature_generation_benchmark_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    edges = _trade_edges(spark, sf_dir).cache()
    dist = bfs_hops(
        edges, [2 * _BFS_SRC_SUPPKEY + 1], _BFS_HOPS, small_state=True
    )
    return dist.filter(F.col("node") % 2 == 1).select(
        ((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"),
        F.col("hop").alias("hops"),
    )


_BFS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
),
walk(node, hop) AS (
  SELECT CAST({2 * _BFS_SRC_SUPPKEY + 1} AS BIGINT) AS node, 0 AS hop
  UNION
  SELECT e.dst, w.hop + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.hop < {_BFS_HOPS}
)
SELECT (node - 1) // 2 AS s_suppkey, CAST(min(hop) AS INTEGER) AS hops
FROM walk WHERE node % 2 = 1 GROUP BY node
"""

QUERIES.append(
    QueryDef(
        "supplier_bfs_hops",
        supplier_bfs_hops,
        _BFS_ORACLE,
        "bounded-depth BFS min-hop distances over the trade graph "
        "(frontier iteration vs recursive-CTE oracle)",
    )
)


# ---------------------------------------------------------------------------
# GNN-style feature propagation — the message-passing pre-compute
# (SGC / "feature smoothing") that graph ML pipelines run before training
# ---------------------------------------------------------------------------

def graph_feature_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One and two hops of neighbor-mean aggregation over the bipartite
    customer↔supplier trade graph, per supplier: own account balance,
    mean of trading customers' balances (1-hop), and mean over all
    supplier endpoints of 2-hop paths supplier→customer→supplier
    (MULTISET path semantics — a supplier reachable via k shared
    customers contributes k times, the standard GNN message-passing
    weighting; self-paths included).

    Plan: ONE distinct (cust, supp) edge build; 1-hop = edge ⋈ customer
    features + supplier-keyed agg; 2-hop = TWO chained keyed
    aggregations (customer-level sum/count of neighbor supplier
    balances, then supplier-level sum over its customers) — linear in
    |edges|, never materializing the deg(c)² path fan-out an edge ⋈ edge
    join would (r4 verdict: one viral-hub customer at 100× scale would
    make that join a straggler). Multiset path semantics are preserved
    exactly by the sum/count decomposition: Σ_{c∈N(s)} Σ_{s2∈N(c)} x_s2
    with counts Σ_{c∈N(s)} deg(c). No iteration, no driver loop. All
    sums are exact integer cents; the two means are single e6-quantized
    divisions."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .distinct()
        # cache: the distinct edge list feeds THREE aggregations (h1,
        # cust_totals, h2) — uncached, the plan re-ran the fact-sized
        # join + distinct (scan, broadcast join, 2-level agg + exchange)
        # three times over (r7 plan audit: 26 Exchanges → 8; the sibling
        # pagerank/BFS/triangle queries already cache their edge lists,
        # and the bench clears caches between queries)
        .cache()
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("c_cents"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"),
        F.round(F.col("s_acctbal") * 100, 0).cast("long").alias("s_cents"),
    )
    from feature_generation_benchmark_spark.operators.graph import (
        feature_propagation,
    )

    return feature_propagation(edges, cust, supp)


_GFP_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cust AS (
  SELECT c_custkey AS custkey,
         CAST(round(c_acctbal*100) AS BIGINT) AS c_cents
  FROM customer
),
supp AS (
  SELECT s_suppkey AS suppkey,
         CAST(round(s_acctbal*100) AS BIGINT) AS s_cents
  FROM supplier
),
h1 AS (
  SELECT suppkey, count(*) AS n_1hop, sum(c_cents) AS sum_1hop_cents
  FROM edges JOIN cust USING (custkey) GROUP BY suppkey
),
h2 AS (
  SELECT a.suppkey, count(*) AS n_2hop, sum(s2.s_cents) AS sum_2hop_cents
  FROM edges a JOIN edges b ON a.custkey = b.custkey
  JOIN supp s2 ON s2.suppkey = b.suppkey
  GROUP BY a.suppkey
)
SELECT supp.suppkey, s_cents,
  CAST(n_1hop AS BIGINT) AS n_1hop,
  CAST(round(sum_1hop_cents * 1e6 / n_1hop) AS BIGINT) AS mean_1hop_e6,
  CAST(n_2hop AS BIGINT) AS n_2hop,
  CAST(round(sum_2hop_cents * 1e6 / n_2hop) AS BIGINT) AS mean_2hop_e6
FROM supp JOIN h1 USING (suppkey) JOIN h2 USING (suppkey)
"""

QUERIES.append(
    QueryDef(
        "graph_feature_propagation",
        graph_feature_propagation,
        _GFP_ORACLE,
        "GNN-style 1- and 2-hop neighbor-mean feature smoothing over "
        "the trade graph (multiset path semantics, no iteration)",
    )
)
