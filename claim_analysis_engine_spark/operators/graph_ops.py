"""Graph-analytic operators over relationship graphs DERIVED from the
relational tables (the reference has none — SURVEY §2.12 extensions):
PageRank centrality over the part co-purchase network.

Connected components (the other canonical iterative graph op) lives
with its consumers in dedup_text.py (min-label propagation + the
alternating-star variant); this module holds the eigenvector-style
iterations.

Scale notes: the edge list shuffles on the join key when built, then
every power iteration is one (broadcast rank) join + one dst-keyed
aggregate over the EDGE table — the rank vector is |V| rows (tiny next
to |E|) and ships as a broadcast, so iterations never reshuffle the
graph. Per-iteration rank quantization (round 9dp) makes the float
fixpoint hash-identical across engines and partitionings — drift from
summation order (~1e-18) is healed every round, the same discipline
the CC checksum fixpoints use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import load

REG = OpRegistry()

PR_MIN_COOCCUR = 2   # co-purchase count that makes an edge
PR_DAMPING = 0.85
PR_ITERS = 10
PR_QUANT = 9         # per-iteration rank quantization (decimal places)


@REG.op(
    "graph_pagerank",
    oracle=f"""
    WITH RECURSIVE
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= {PR_MIN_COOCCUR}
    ),
    edges AS (
        SELECT pa AS src, pb AS dst FROM pair
        UNION ALL SELECT pb, pa FROM pair
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM deg),
    pr(iter, node, r) AS (
        SELECT 0, node, 1.0 / (SELECT n FROM nn) FROM deg
        UNION ALL
        SELECT pr.iter + 1, e.dst,
               round((1 - {PR_DAMPING}) / (SELECT n FROM nn)
                     + {PR_DAMPING} * sum(pr.r / d.deg), {PR_QUANT})
        FROM pr
        JOIN edges e ON e.src = pr.node
        JOIN deg d ON d.node = pr.node
        WHERE pr.iter < {PR_ITERS}
        GROUP BY pr.iter + 1, e.dst
    )
    SELECT p.node AS l_partkey, CAST(d.deg AS BIGINT) AS degree,
           round(p.r, 6) AS pagerank
    FROM pr p JOIN deg d ON d.node = p.node
    WHERE p.iter = {PR_ITERS}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of the part co-purchase network: parts are
    nodes, an edge links parts bought together in ≥ {PR_MIN_COOCCUR}
    orders (the agg_basket_pairs graph); {PR_ITERS} damped power
    iterations rank the parts a recommender should anchor on — the
    eigenvector upgrade of raw degree (a part tied to other WELL-TIED
    parts outranks one with the same degree on the periphery).

    The undirected-symmetric construction means every node has both
    out- and in-edges, so no dangling-mass term is needed and the
    rank total is conserved up to quantization. Fixed iteration count
    + per-round quantization (round {PR_QUANT}dp, see module note)
    make the result a deterministic value the DuckDB recursive-CTE
    oracle reproduces bit-for-bit — an ORACLE-CHECKED iterative graph
    algorithm, like dedup_cluster_cc.

    Scale: the rank vector (|V|) broadcasts into the edge join each
    round; only the dst-keyed partial-sum aggregate shuffles, and it
    map-side combines. |V| beyond broadcast size → swap the broadcast
    for a co-partitioned (src ↔ node) join, same loop."""
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    pair = (
        a.join(b, "k")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= PR_MIN_COOCCUR)
    )
    edges = (
        pair.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .union(pair.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    )
    # tiny iterative frames: low partition count (the CC lesson),
    # checkpoint the loop-invariant edge+degree table once
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src").repartition(8, "dst").localCheckpoint()
    n_nodes = deg.count()  # |V|: model-state scalar, like the IVF centroids
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("r")
    )
    base = (1.0 - PR_DAMPING) / n_nodes
    for _ in range(PR_ITERS):
        contrib = (
            ed.join(F.broadcast(ranks), ed.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("c"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            F.round(F.lit(base) + PR_DAMPING * F.col("c"), PR_QUANT).alias("r"),
        )
    return (
        ranks.join(
            F.broadcast(deg.select(F.col("src").alias("node"), "deg")), "node"
        )
        .select(
            F.col("node").alias("l_partkey"),
            F.col("deg").alias("degree"),
            F.round("r", 6).alias("pagerank"),
        )
    )


# shared SQL prefix: the canonical (a < b) co-purchase edge set
_EDGES_SQL = f"""
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= {PR_MIN_COOCCUR}
    ),
    edges AS (
        SELECT pa AS src, pb AS dst FROM pair
        UNION ALL SELECT pb, pa FROM pair
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1)
"""


def _canonical_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (pa < pb) co-purchase edge list shared by the graph ops."""
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "k")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= PR_MIN_COOCCUR)
        .select("pa", "pb")
    )


# ------------------------------------------------------- graph_triangles

@REG.op(
    "graph_triangles",
    oracle=f"""
    WITH {_EDGES_SQL},
    tri AS (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM pair e1
        JOIN pair e2 ON e2.pa = e1.pb
        JOIN pair e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    pertri AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    t AS (SELECT node, count(*) AS n_triangles FROM pertri GROUP BY 1)
    SELECT d.node AS l_partkey, CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg < 2 THEN 0.0
                ELSE round(coalesce(t.n_triangles, 0) * 2.0
                           / (d.deg * (d.deg - 1)), 4)
           END AS clustering
    FROM deg d LEFT JOIN t ON t.node = d.node
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    co-purchase graph — the cohesion metric that separates a part in a
    tight bundle (its neighbors also co-sell with each other) from a
    bridge part with the same degree. The classic distributed
    formulation: canonical a<b<c ordering makes each triangle ONE
    wedge join hit (e1(a,b) ⋈ e2(b,c) checked against e3(a,c)) —
    no 6-fold double counting, no direction explosion.

    Scale: the wedge join shuffles on the middle node; its size is
    Σ deg(b)² over canonical-out-degrees, the quantity a real
    deployment bounds by ordering nodes by TOTAL degree before
    canonicalizing (high-degree hubs become wedge ENDS, not middles).
    Clustering = 2T/(d(d-1)); the ratio of small ints rounds
    identically in both engines (denominators here never terminate at
    the 5th decimal, so no rounding tie exists)."""
    pair = _canonical_pairs(spark, sf_dir).localCheckpoint()
    e1 = pair.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = pair.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = pair.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    pertri = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
    )
    t = pertri.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    edges = pair.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).union(
        pair.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.select(F.col("src").alias("node"), "deg")
        .join(F.broadcast(t), "node", "left")
        .select(
            F.col("node").alias("l_partkey"),
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_triangles", F.lit(0))
                    * 2.0
                    / (F.col("deg") * (F.col("deg") - 1)),
                    4,
                )
            )
            .alias("clustering"),
        )
    )


# --------------------------------------------------- graph_link_predict

LINK_MIN_COMMON = 2  # recommend pairs sharing at least this many neighbors


@REG.op(
    "graph_link_predict",
    oracle=f"""
    WITH {_EDGES_SQL},
    wedge AS (
        SELECT e1.dst AS a, e2.dst AS c, count(*) AS n_common
        FROM edges e1 JOIN edges e2
          ON e1.src = e2.src AND e1.dst < e2.dst
        GROUP BY 1, 2 HAVING count(*) >= {LINK_MIN_COMMON}
    ),
    nonadj AS (
        SELECT w.a, w.c, w.n_common FROM wedge w
        WHERE NOT EXISTS (
            SELECT 1 FROM pair p WHERE p.pa = w.a AND p.pb = w.c
        )
    )
    SELECT n.a AS part_a, n.c AS part_b,
           CAST(n.n_common AS BIGINT) AS n_common,
           round(n.n_common * 1.0 / (da.deg + dc.deg - n.n_common), 4)
             AS jaccard
    FROM nonadj n
    JOIN deg da ON da.node = n.a
    JOIN deg dc ON dc.node = n.c
    """,
)
def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the co-purchase graph: part
    pairs NOT yet bought together whose neighborhoods overlap in ≥
    {LINK_MIN_COMMON} parts — the "customers who bundle A also bundle
    things B bundles" recommendation, scored by neighborhood Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)|.

    The wedge aggregate (two edges sharing a middle node, endpoints
    ordered) counts common neighbors without materializing
    neighborhoods; the existing-edge anti join (NOT EXISTS) leaves
    only novel candidates. Same Σ deg(mid)² scale bound as
    graph_triangles, same hub remedy. The HAVING prunes the pair tail
    BEFORE the anti join and degree joins touch it."""
    pair = _canonical_pairs(spark, sf_dir).localCheckpoint()
    edges = pair.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).union(
        pair.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = edges.select(F.col("src").alias("m"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("m"), F.col("dst").alias("c"))
    wedge = (
        e1.join(e2, "m")
        .where(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= LINK_MIN_COMMON)
    )
    nonadj = wedge.join(
        pair,
        (wedge.a == pair.pa) & (wedge.c == pair.pb),
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("da"))
    dc = deg.select(F.col("src").alias("c"), F.col("deg").alias("dc"))
    return (
        nonadj.join(F.broadcast(da), "a")
        .join(F.broadcast(dc), "c")
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("dc") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )
