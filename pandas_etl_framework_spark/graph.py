"""Iterative graph algorithms on DataFrames.

PageRank over the customer–supplier purchase graph: the canonical
driver-side-loop iterative pattern (each iteration = one join + one
aggregate; no RDDs, no collect). Ranks are QUANTIZED: held as integers
scaled by 10^12, with every division an integer floor-div — so the
fixed-iteration result is bit-identical across engines and partitionings,
and the DuckDB oracle is simply the 3 iterations unrolled as CTEs.

Damping 0.85 is the rational 17/20: rank' = (3*S)//(20*N) + (17*contrib)//20
with S = 10^12. Overflow headroom: rank_q ≤ 10^12, edge weight ≤ 10^6 →
products ≤ 10^18 < 2^63.

Scale: each iteration shuffles the contribution sums once (groupBy dst);
the loop-invariant relations are materialized once — the corpus-sized
out-weighted edges as a SERIALIZED memory/disk persist (streaming build,
no deserialized unroll: the r12 sf10 rehearsal OOM'd the old eager
localCheckpoint there), the node set as a localCheckpoint — so no
iteration re-reads or re-shuffles the input, and each iteration's ranks
are lazily checkpointed so lineage (and with it planning time and the
unrolled Exchange/FileScan cascade) stays flat in the iteration count.
At 100 TB pre-partition edges on src so the per-iteration join reuses
the partitioning.

Related llmops operator: connected components (llmops/dedup.py) uses the
same iterate-until-fixpoint join shape for near-dup clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import broadcast_threshold_bytes, maybe_broadcast

PR_SCALE = 1_000_000_000_000  # 10^12

# estimated on-wire bytes per (long node, long value) row for the
# broadcast-size gate; deliberately generous (row overhead included)
_NODE_ROW_BYTES = 32


def _node_hinter(spark, count_nodes):
    """Per-loop broadcast decision for node-sized relations (ranks,
    frontier/visited, labels/winner): count the nodes ONCE (the relation
    is already checkpointed, so the count is a cheap job) and hint only
    when ``n_nodes * _NODE_ROW_BYTES`` fits under the session's
    autoBroadcastJoinThreshold; with broadcasting disabled (threshold
    <= 0) the count is skipped. Returns a df->df hinter applied at every
    loop join — the fallback is a plain key-partitioned join, so the
    fixpoints never force node-sized broadcasts at any scale
    (VERDICT r05 item 2)."""
    if broadcast_threshold_bytes(spark) <= 0:
        return lambda df: df
    n_nodes = count_nodes()
    return lambda df: maybe_broadcast(
        df, est_rows=n_nodes, bytes_per_row=_NODE_ROW_BYTES
    )


def _weighted_edges(edges: DataFrame):
    """``(e, nodes, bc)`` for a damped walk over ``edges`` (src, dst, w):
    the edges joined with their source's out-weight (src, dst, w, out_w),
    the node set, and the node-sized broadcast hinter. Shared by
    :func:`pagerank_quantized` and :func:`trustrank_quantized`."""
    # Materialize the loop invariants once. The edge relation is often
    # itself a join/aggregate pipeline (purchase_edges is orders x lineitem),
    # and it feeds the node set, the out-weight join, and the weighted-edge
    # build — without materialization the plan re-derives it once per
    # reference (the r01 audit measured Exchange x81 / FileScan x56 for 3
    # iterations). But it is BUILD-TIME scratch: the loop only ever reads
    # ``e`` (edges + out-weights) and ``nodes``. The r12 sf10 rehearsal
    # showed why that distinction matters — an eager localCheckpoint here
    # pinned a second full copy of a ~100M-row edge relation in executor
    # storage next to ``e``'s, and the build OOM'd the heap while
    # unrolling ``e`` (java.lang.OutOfMemoryError, then the truncated
    # lineage turned block eviction into "Block rdd_N does not exist").
    # SERIALIZED persist (memory with graceful disk overflow) for both:
    # localCheckpoint stores deserialized MEMORY_AND_DISK blocks, and at
    # ~100M edges 32 tasks unrolling ~120 MB deserialized partitions
    # concurrently blew the heap even with ``edges`` off-heap (second
    # r12 OOM, in UnsafeRow.readExternal during the checkpoint build).
    # PySpark's StorageLevel.MEMORY_AND_DISK (the SERIALIZED variant —
    # deserialized is the _DESER level) builds blocks by STREAMING
    # serialization with
    # incremental unroll accounting — a partition that stops fitting
    # spills mid-build instead of OOMing — and reads back by iterator;
    # at sf1 both relations fit in memory serialized (no slowdown vs the
    # old checkpoint), at sf10 the overflow lands on disk and the job
    # completes (measured: crash → 56 s). Like the checkpoint, the
    # persist substitutes an InMemoryRelation into every iteration's
    # plan, so planning cost stays constant with iteration depth. The
    # node-sized relations (``nodes``, the per-iteration ``ranks``) keep
    # localCheckpoint: small at any corpus scale, and truncation there
    # is what stops lineage growth across rounds.
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    e = edges.join(out_w, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e.count()  # materialize while the build-scratch blocks still exist
    edges.unpersist()
    # ranks/sums are one row per node — orders of magnitude smaller than
    # the edge relation. Broadcasting keeps `e` in place all rounds (no
    # per-iteration shuffle of the big side); the hinter broadcasts only
    # while the counted node set fits the session threshold, else every
    # loop join runs as a plain shuffle join on the node key (the
    # beyond-10^8-nodes plan, an executable path).
    return e, nodes, _node_hinter(e.sparkSession, nodes.count)


def _walk_sums(e: DataFrame, ranks: DataFrame, bc) -> DataFrame:
    """(node, s): one round's integer contribution sums — each source's
    rank split over its out-edges by weight, summed per destination."""
    contrib = e.join(bc(ranks), e.src == ranks.node).select(
        F.col("dst").alias("node"),
        F.expr("div(rank_q * w, out_w)").alias("c"),
    )
    return contrib.groupBy("node").agg(F.sum("c").alias("s"))


def pagerank_quantized(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """(node, rank_q) after ``iterations`` damped rounds over ``edges``
    (src, dst, w). All arithmetic integer; deterministic by construction.

    The per-iteration broadcast of the node-sized rank/sum relations is
    gated on the session broadcast threshold vs the counted node set;
    threshold -1 gives the pre-partitioned shuffle-join plan (the
    beyond-10^8-nodes plan)."""
    e, nodes, bc = _weighted_edges(edges)
    # the 1-row n_df stays unconditionally broadcast
    n_df = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", F.expr(f"div({PR_SCALE}, n)").alias("rank_q")
    )
    for _ in range(iterations):
        sums = _walk_sums(e, ranks, bc)
        ranks = (
            nodes.join(bc(sums), "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (
                    F.expr(f"div(3 * {PR_SCALE}, 20 * n)")
                    + F.expr("div(17 * coalesce(s, 0), 20)")
                ).alias("rank_q"),
            )
            # lazy: materializes with the next iteration's first action, so
            # lineage never accumulates across rounds
            .localCheckpoint(eager=False)
        )
    return ranks


def purchase_edges(spark, sf_dir: str) -> DataFrame:
    """Symmetric bipartite edges c<->s weighted by lineitem count.

    Node ids are packed longs (customer 2k, supplier 2k+1) so the edge
    aggregation and every downstream shuffle move 8-byte keys; the display
    form ('c123' / 's45') is decoded only at the top-50 output."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count("*").alias("w"))
    )
    return pairs.selectExpr("c AS src", "s AS dst", "w").unionByName(
        pairs.selectExpr("s AS src", "c AS dst", "w")
    )


def decode_node(col: F.Column) -> F.Column:
    """Packed long -> display id ('c<custkey>' / 's<suppkey>')."""
    return F.when(
        col % 2 == 0, F.concat(F.lit("c"), (col / 2).cast("long").cast("string"))
    ).otherwise(
        F.concat(F.lit("s"), ((col - 1) / 2).cast("long").cast("string"))
    )


def q_graph_pagerank(spark, sf_dir):
    """Top-50 nodes of the purchase graph by 3-iteration PageRank. The
    decode + display-order sort happen on the 50-row result, after the
    integer-keyed iterations."""
    ranks = pagerank_quantized(purchase_edges(spark, sf_dir), iterations=3)
    return (
        ranks.select(
            decode_node(F.col("node")).alias("node"),
            (F.col("rank_q").cast("double") / PR_SCALE).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "node")
        .limit(50)
    )


def _sql_pagerank(iterations: int = 3) -> str:
    head = f"""
WITH pairs AS (
    SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
           's' || CAST(l_suppkey AS VARCHAR) AS s,
           COUNT(*) AS w
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
),
edges AS (
    SELECT c AS src, s AS dst, w FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst, w FROM pairs
),
nodes AS (
    SELECT DISTINCT src AS node FROM edges
    UNION
    SELECT DISTINCT dst AS node FROM edges
),
outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, edges.w, outw.out_w
      FROM edges JOIN outw ON edges.src = outw.src),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT node, {PR_SCALE} // n AS rank_q FROM nodes CROSS JOIN nn)"""
    steps = []
    for k in range(1, iterations + 1):
        steps.append(f""",
c{k} AS (
    SELECT dst AS node, SUM((rank_q * w) // out_w) AS s
    FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node
    GROUP BY dst
),
r{k} AS (
    SELECT nodes.node,
           (3 * {PR_SCALE}) // (20 * nn.n)
           + (17 * COALESCE(c{k}.s, 0)) // 20 AS rank_q
    FROM nodes CROSS JOIN nn
    LEFT JOIN c{k} ON nodes.node = c{k}.node
)""")
    tail = f"""
SELECT node, CAST(rank_q AS DOUBLE) / {PR_SCALE} AS rank
FROM r{iterations}
ORDER BY rank DESC, node LIMIT 50
"""
    return head + "".join(steps) + tail


SQL_GRAPH_PAGERANK = _sql_pagerank(3)


# --------------------------------------------------------------------------
# Triangle counting over the co-supply backbone
# --------------------------------------------------------------------------

def cosupply_backbone(spark, sf_dir: str) -> DataFrame:
    """Strong-tie supplier graph: (u, v) supplier pairs that share
    SIGNIFICANTLY more distinct parts than chance — shared > μ + z·√μ with
    z = 3/2, where μ is the mean shared-part count over all co-supplying
    pairs. The raw co-supply graph on uniform fixture data is complete
    (every pair shares something), so backbone extraction — keep edges
    whose weight is a Poisson surprise — is what makes downstream graph
    analytics meaningful; it's the standard normalization for
    co-occurrence networks.

    The test is EXACT INTEGER arithmetic (both engines agree bit-for-bit):
    shared > S/P  ⟺  shared·P > S, and
    shared > S/P + (3/2)·√(S/P)  ⟺  4·(shared·P − S)² > 9·S·P
    (given the first inequality holds). Overflow headroom: shared·P and
    S·P stay < 2^63 while P·max(shared) < ~3·10^9; at corpus scales beyond
    that, divide S and P by their gcd or switch the surprise test to
    doubles (the backbone is a heuristic — only the triangle count below
    needs exactness).

    One shuffle on part for the pair expansion, one on (u, v) for the
    weights; the per-part pair fan-out is C(suppliers_per_part, 2) — for
    skewed catalogs cap it by sampling suppliers within ultra-common parts
    before pairing. The self-join is DELIBERATE: Catalyst reuses the
    distinct's exchange for both sides, and the codegen'd sort-merge
    pair expansion measured ~2x FASTER than the shuffle-free-looking
    alternative (groupBy/collect_set per part + nested-transform array
    explode: 6.2-6.7 s vs 3.3-4.9 s at sf0.1 — interpreted higher-order
    struct building loses to whole-stage codegen even with one fewer
    exchange)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    a, b = ps.alias("a"), ps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count("*").alias("shared"))
    )
    stats = pairs.agg(
        F.sum("shared").alias("s_sum"), F.count("*").alias("p_cnt")
    )
    lhs = F.col("shared") * F.col("p_cnt") - F.col("s_sum")
    return (
        pairs.crossJoin(F.broadcast(stats))
        .filter(
            (F.col("shared") * F.col("p_cnt") > F.col("s_sum"))
            & (4 * lhs * lhs > 9 * F.col("s_sum") * F.col("p_cnt"))
        )
        .select("u", "v")
    )


# cosupply_backbone in SQL, ending in the canonical (u < v) backbone edges
# ``eb`` — the shared head of every backbone oracle. Every multiply-
# referenced CTE is MATERIALIZED (ps twice by pairs' self-join, pairs by
# stats + eb, eb by each oracle's own edge CTEs), so DuckDB's default
# inlining never runs the quadratic ps self-join twice per oracle
# evaluation (ADVICE r08).
_SQL_BACKBONE = """
WITH ps AS MATERIALIZED (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
pairs AS MATERIALIZED (
    SELECT a.s AS u, b.s AS v, CAST(COUNT(*) AS BIGINT) AS shared
    FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
    GROUP BY a.s, b.s
),
stats AS (
    SELECT CAST(SUM(shared) AS BIGINT) AS s_sum,
           CAST(COUNT(*) AS BIGINT) AS p_cnt
    FROM pairs
),
eb AS MATERIALIZED (
    SELECT u, v FROM pairs, stats
    WHERE shared * p_cnt > s_sum
      AND 4 * (shared * p_cnt - s_sum) * (shared * p_cnt - s_sum)
            > 9 * s_sum * p_cnt
)"""


def _symmetric_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) in both directions for undirected (u, v) edges."""
    return edges.selectExpr("u AS src", "v AS dst").unionByName(
        edges.selectExpr("v AS src", "u AS dst")
    )


def _exact_ball2(sym: DataFrame) -> DataFrame:
    """(node, ball2): the EXACT radius-2 ball size over symmetric edges
    (self + neighbors + neighbors-of-neighbors) — a Σdeg² wedge
    expansion, feasible only at gate scale (see q_graph_hyperball)."""
    a, b = sym.alias("a"), sym.alias("b")
    return (
        sym.select(F.col("src").alias("node"), F.col("src").alias("x"))
        .unionByName(sym.select(F.col("src").alias("node"),
                                F.col("dst").alias("x")))
        .unionByName(
            a.join(b, F.col("a.dst") == F.col("b.src")).select(
                F.col("a.src").alias("node"), F.col("b.dst").alias("x")
            )
        )
        .distinct()
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("ball2"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected simple graph given as
    canonical (u < v) edges: one row (n_edges, n_triangles, n_wedges,
    clustering_coeff).

    DEGREE-ORDERED ORIENTATION: re-key every node to
    degree·2^32 + node_id and orient each edge from the smaller to the
    larger key. Every out-neighborhood is then bounded by O(√m) — the
    classic arboricity bound — so the wedge join (e1.a = e2.a) fans out to
    Σ outdeg² = O(m^1.5) candidates REGARDLESS of hub skew, instead of
    Σ deg² (quadratic in the hottest hub) for the naive orientation.
    That re-key is the entire 100 TB story: the two joins below shuffle on
    long keys and AQE handles the residual skew. The count is
    orientation-invariant — each triangle has exactly one vertex that
    precedes the other two in ANY total order, so it is counted exactly
    once whatever order is used (the DuckDB oracle uses raw id order).

    n_wedges = Σ C(deg, 2) in exact integers (deg·(deg−1) is always even);
    clustering_coeff = 3·triangles / wedges, one double division performed
    identically on both engines."""
    edges = edges.localCheckpoint(eager=True)  # feeds deg + 3 join sides
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    keyed = deg.select(
        "n", (F.col("d") * F.lit(1 << 32) + F.col("n")).alias("k")
    )
    # keyed is one row per node — same size-gated hint as the fixpoint
    # loops (broadcast only while the counted node set fits the session
    # threshold; the fallback re-keys via two shuffle joins)
    bc = _node_hinter(
        edges.sparkSession,
        lambda: edges.select(F.col("u").alias("n")).unionByName(
            edges.select(F.col("v").alias("n"))
        ).distinct().count(),
    )
    ek = (
        edges.join(bc(keyed.withColumnRenamed("n", "u")), "u")
        .withColumnRenamed("k", "ku")
        .join(
            bc(keyed.withColumnRenamed("n", "v").withColumnRenamed("k", "kv")),
            "v",
        )
        .select(
            F.least("ku", "kv").alias("a"), F.greatest("ku", "kv").alias("b")
        )
        .localCheckpoint(eager=True)  # three references below
    )
    e1, e2, e3 = ek.alias("e1"), ek.alias("e2"), ek.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.a") == F.col("e2.a")) & (F.col("e1.b") < F.col("e2.b")),
        )
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    wedges = deg.agg(
        F.sum(F.expr("div(d * (d - 1), 2)")).alias("n_wedges")
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wedges))
        .select(
            "n_edges",
            "n_triangles",
            F.coalesce("n_wedges", F.lit(0)).alias("n_wedges"),
            F.when(
                F.coalesce(F.col("n_wedges"), F.lit(0)) > 0,
                # 3·tri exact in integers, ONE double division — identical
                # on both engines (a 3.0 literal is DECIMAL in DuckDB)
                (3 * F.col("n_triangles")).cast("double") / F.col("n_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def q_graph_triangles(spark, sf_dir):
    """Triangle census of the co-supply backbone (graph analytics beyond
    the iterate-to-fixpoint family: a multi-way self-join the optimizer
    must get right)."""
    return triangle_count(cosupply_backbone(spark, sf_dir))


# Oracle: same backbone (identical integer surprise test), triangles via
# the raw-id orientation — the census is orientation-invariant, so the
# degree-ordered Spark plan and the id-ordered SQL must agree exactly.
SQL_GRAPH_TRIANGLES = _SQL_BACKBONE + """,
deg AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT u AS n FROM eb UNION ALL SELECT v AS n FROM eb)
    GROUP BY n
),
tri AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM eb e1
    JOIN eb e2 ON e1.u = e2.u AND e1.v < e2.v
    JOIN eb e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM eb) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       COALESCE((SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg), 0)
           AS n_wedges,
       CASE WHEN COALESCE((SELECT SUM(d * (d - 1) // 2) FROM deg), 0) > 0
            THEN CAST(3 * (SELECT n_triangles FROM tri) AS DOUBLE)
                 / (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
            ELSE CAST(0.0 AS DOUBLE) END AS clustering_coeff
"""


# --------------------------------------------------------------------------
# k-hop BFS: shortest hop distance from a seed set
# --------------------------------------------------------------------------

def khop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 3,
) -> DataFrame:
    """(node, dist) for every node within ``hops`` of ``seeds`` (column
    ``node``) over ``edges`` (src, dst) — breadth-first frontier
    expansion, the third iterative-join shape after PageRank's
    full-relation recompute and connected components' fixpoint loop.

    Per round only the FRONTIER (nodes first reached last round) joins
    the edge relation, so round k's join cost tracks the frontier size,
    not the visited set; an anti-join against the visited set keeps the
    frontier minimal. Edges are localCheckpointed once; visited/frontier
    are lazily checkpointed per round so lineage stays flat. Frontier and
    visited relations (node-id rows) are broadcast while the counted node
    set fits the session broadcast threshold; beyond it (or at threshold
    -1) the frontier and visited joins run as shuffle joins on the node
    key.
    """
    # the one corpus-sized relation: serialized blocks (the pagerank
    # recipe, SCALING.md Hazard 3) so the 32-way unroll can't OOM; the
    # per-round frontier/visited stay node-sized deserialized checkpoints
    from pyspark import StorageLevel

    edges = edges.select("src", "dst").localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    # frontier/visited are bounded by the FULL node set (src ∪ dst —
    # counting sources alone would undercount arbitrarily on a directed
    # sink-heavy graph, e.g. a star with one source and 10^9 sinks, and
    # then force-broadcast a huge visited relation); one cheap job over
    # the checkpointed edges, skipped when the threshold disables
    # broadcasting.
    bc = _node_hinter(
        edges.sparkSession,
        lambda: edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .count(),
    )
    visited = seeds.select("node", F.lit(0).cast("long").alias("dist"))
    frontier = visited.select("node").localCheckpoint(eager=True)
    for k in range(1, hops + 1):
        reached = (
            edges.join(bc(frontier), edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = (
            reached.join(
                bc(visited.select("node")), "node", "left_anti"
            )
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(
            frontier.select("node", F.lit(k).cast("long").alias("dist"))
        ).localCheckpoint(eager=False)
    return visited


def q_graph_khop(spark, sf_dir):
    """3-hop BFS over the purchase graph from the sparse seed set
    custkey % 97 == 0; output is every reached node (display id) with its
    hop distance."""
    edges = purchase_edges(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    seeds = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") * 2).cast("long").alias("node")
    )
    dist = khop_distances(edges, seeds, hops=3)
    return dist.select(
        decode_node(F.col("node")).alias("node"), "dist"
    )


SQL_GRAPH_KHOP = """
WITH pairs AS (
    SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
),
e AS (
    SELECT c AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst FROM pairs
),
d0 AS (
    SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
    FROM customer WHERE c_custkey % 97 = 0
),
n1 AS (
    SELECT DISTINCT e.dst AS node FROM e JOIN d0 ON e.src = d0.node
),
d1 AS (
    SELECT * FROM d0
    UNION ALL
    SELECT node, CAST(1 AS BIGINT) FROM n1
    WHERE node NOT IN (SELECT node FROM d0)
),
n2 AS (
    SELECT DISTINCT e.dst AS node FROM e
    JOIN d1 ON e.src = d1.node AND d1.dist = 1
),
d2 AS (
    SELECT * FROM d1
    UNION ALL
    SELECT node, CAST(2 AS BIGINT) FROM n2
    WHERE node NOT IN (SELECT node FROM d1)
),
n3 AS (
    SELECT DISTINCT e.dst AS node FROM e
    JOIN d2 ON e.src = d2.node AND d2.dist = 2
),
d3 AS (
    SELECT * FROM d2
    UNION ALL
    SELECT node, CAST(3 AS BIGINT) FROM n3
    WHERE node NOT IN (SELECT node FROM d2)
)
SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
            ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
       dist
FROM d3
"""


# --------------------------------------------------------------------------
# Label propagation (community detection)
# --------------------------------------------------------------------------

def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label propagation over undirected ``edges`` (u, v):
    every node starts as its own label; each round, a node adopts the most
    frequent label among its neighbors, ties broken by SMALLEST label —
    which makes the synchronous update fully deterministic (the usual LPA
    nondeterminism comes from async order and random tie-breaks, both
    removed here). Isolated relative to the round (no neighbors) keeps its
    label via the left join.

    Per round (r15 shape): one groupBy on (node, label) for the neighbor
    frequencies, then ONE min-struct aggregation over those frequencies
    unioned with a per-node self-row at count 0 — `min(struct(-c,
    label))` is exactly the old window's (c DESC, label ASC) rank-1 pick
    (verified value-identical), the self-row re-elects the current label
    for nodes with no neighbors this round (any real neighbor label has
    c >= 1 and beats it), and the aggregation replaces the old
    row_number window + left join: a full per-node SORT and a join drop
    out of every round, and partial map-side aggregation applies where a
    window could not. The label relation (one row per node) is broadcast
    into the edge join exactly like PageRank's rank relation — gated the
    same way, on node count vs the session broadcast threshold (threshold
    -1 gives the shuffle-join plan beyond ~10^8 nodes). Labels are lazily
    checkpointed per round so lineage and plan size stay flat in the
    round count.
    """
    sym = _symmetric_edges(edges).localCheckpoint(eager=True)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # nodes feeds the initial labels AND the gate count; checkpoint so the
    # gate's count() doesn't re-run the distinct
    nodes = nodes.localCheckpoint(eager=True)
    bc = _node_hinter(edges.sparkSession, nodes.count)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        freq = (
            sym.join(bc(labels), sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        selfrows = labels.select(
            "node", "label", F.lit(0).cast("long").alias("c")
        )
        labels = (
            freq.unionByName(selfrows)
            .groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("negc"), F.col("label").alias("l")
                    )
                ).alias("w")
            )
            .select("node", F.col("w.l").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def q_graph_label_propagation(spark, sf_dir):
    """Two deterministic LPA rounds over the co-supply backbone: output is
    each supplier's community label (min-tie-break synchronous update)."""
    return label_propagation(cosupply_backbone(spark, sf_dir), rounds=2)


def _sql_lpa(rounds: int = 2) -> str:
    # the backbone head, then the rounds unrolled; ROW_NUMBER with
    # (c DESC, label) picks the min-label mode
    head = _SQL_BACKBONE + """,
e AS MATERIALIZED (
    SELECT u AS src, v AS dst FROM eb
    UNION ALL
    SELECT v AS src, u AS dst FROM eb
),
l0 AS (
    SELECT DISTINCT src AS node, src AS label FROM e
)"""
    steps = []
    for k in range(1, rounds + 1):
        steps.append(f""",
f{k} AS (
    SELECT e.dst AS node, l.label, COUNT(*) AS c
    FROM e JOIN l{k - 1} l ON e.src = l.node
    GROUP BY e.dst, l.label
),
w{k} AS (
    SELECT node, label,
           ROW_NUMBER() OVER (
               PARTITION BY node ORDER BY c DESC, label
           ) AS rk
    FROM f{k}
),
l{k} AS (
    SELECT p.node, COALESCE(w.label, p.label) AS label
    FROM l{k - 1} p LEFT JOIN (
        SELECT node, label FROM w{k} WHERE rk = 1
    ) w ON p.node = w.node
)""")
    tail = f"""
SELECT node, label FROM l{rounds}
"""
    return head + "".join(steps) + tail


SQL_GRAPH_LABEL_PROPAGATION = _sql_lpa(2)


# --------------------------------------------------------------------------
# k-core decomposition (iterative peel) over the co-supply backbone
# --------------------------------------------------------------------------

KCORE_K = 6        # minimum within-core degree
KCORE_ROUNDS = 8   # fixed synchronous peel rounds (fixture converges in <=5)


def kcore(edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS):
    """Nodes of the ``k``-core (maximal subgraph with all degrees >= k)
    with their within-core degree, via synchronous peeling: each round
    drops every node whose degree within the surviving subgraph is
    below ``k``. The peel is idempotent once converged, so a FIXED round
    count makes the result a well-defined deterministic quantity the
    unrolled SQL twin reproduces round-for-round; pytest pins that the
    fixture converges inside the budget (true fixpoint == round-``rounds``
    result). At corpus scale run the same body to fixpoint with a
    convergence check, like the LPA loop above.

    Shape per round: one degree aggregate + two node-keyed semi-join
    filters over the surviving edge set, localCheckpointed so the plan
    stays constant-size across rounds (the LPA/pagerank idiom). Shuffles
    are node/edge-keyed only — nothing quadratic; the k-core of a web
    graph is the classic spam/quality subgraph extractor.

    ``edges``: canonical undirected (u, v) pairs, e.g. cosupply_backbone.
    """
    # Edge-sized relations checkpoint with SERIALIZED MEMORY_AND_DISK
    # blocks (r13, the pagerank recipe via localCheckpoint's storageLevel
    # seam): lineage still truncates per round, but block build streams
    # serialization with incremental unroll accounting — a partition that
    # stops fitting spills mid-build instead of OOMing the heap the way
    # pagerank's deserialized checkpoints did at sf10 (SCALING.md
    # Hazard 3). kcore survived its sf10full decade with ONE deserialized
    # copy (6.1x); this removes the remaining unroll hazard for free.
    from pyspark import StorageLevel

    sym = _symmetric_edges(edges).localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    alive = sym
    for _ in range(rounds):
        keep = (
            alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        alive = (
            alive.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        )
    return alive.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )


def q_graph_kcore(spark, sf_dir):
    """KCORE_K-core of the co-supply backbone after KCORE_ROUNDS peel
    rounds: (node, core_deg) for every surviving supplier."""
    return kcore(cosupply_backbone(spark, sf_dir))


def _sql_kcore(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    # the backbone head + symmetric edges; EVERY multiply-referenced
    # stage MATERIALIZED — each e{i} is referenced three times in stage
    # i+1 and DuckDB's default inlining would re-evaluate the chain
    # exponentially
    head = _SQL_BACKBONE + """,
e0 AS MATERIALIZED (
    SELECT u AS src, v AS dst FROM eb
    UNION ALL
    SELECT v AS src, u AS dst FROM eb
)"""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f""",
n{i} AS MATERIALIZED (
    SELECT src AS node FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
),
e{i} AS MATERIALIZED (
    SELECT e.src, e.dst
    FROM e{i - 1} e
    JOIN n{i} a ON e.src = a.node
    JOIN n{i} b ON e.dst = b.node
)""")
    tail = f"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM e{rounds} GROUP BY src
"""
    return head + "".join(steps) + tail


SQL_GRAPH_KCORE = _sql_kcore()


# --------------------------------------------------------------------------
# TrustRank / personalized PageRank (seed-teleport damped walk)
# --------------------------------------------------------------------------

def trustrank_quantized(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """(node, rank_q) after ``iterations`` damped rounds where the
    teleport mass goes ONLY to ``seeds`` (node) — TrustRank (Gyongyi,
    Garcia-Molina & Pedersen 2004), the personalized-PageRank quality/
    spam-propagation recipe: trust flows outward from a vetted seed set
    instead of raining uniformly. rank' = [node in seeds] * (3*S)//(20*ns)
    + (17*contrib)//20 with ns = |seeds ∩ nodes|; initial mass S//ns on
    seeds, 0 elsewhere. Shares the weighted-edge build and the per-round
    contribution sums with :func:`pagerank_quantized` (so with every node
    a seed the two agree bit for bit); only the teleport term is its
    own: the seed-sized teleport relation is localCheckpointed once."""
    e, nodes, bc = _weighted_edges(edges)
    seed_nodes = nodes.join(seeds, "node", "semi").localCheckpoint(eager=True)
    ns_df = seed_nodes.agg(F.count("*").alias("ns"))
    tele = (
        seed_nodes.crossJoin(F.broadcast(ns_df))
        .select(
            "node",
            F.expr(f"div({PR_SCALE}, ns)").alias("t0"),
            F.expr(f"div(3 * {PR_SCALE}, 20 * ns)").alias("tk"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = nodes.join(bc(tele), "node", "left").select(
        "node", F.coalesce("t0", F.lit(0)).alias("rank_q")
    )
    for _ in range(iterations):
        sums = _walk_sums(e, ranks, bc)
        ranks = (
            nodes.join(bc(sums), "node", "left")
            .join(bc(tele), "node", "left")
            .select(
                "node",
                (
                    F.coalesce("tk", F.lit(0))
                    + F.expr("div(17 * coalesce(s, 0), 20)")
                ).alias("rank_q"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def q_graph_trustrank(spark, sf_dir):
    """Top-50 purchase-graph nodes by 3-iteration TrustRank from the
    sparse vetted-customer seed set c_custkey % 97 == 0 (the khop seed
    pattern): trust mass concentrates on seeds and the suppliers they
    buy from, the spam-demotion shape. is_seed rides along."""
    edges = purchase_edges(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    seeds = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") * 2).cast("long").alias("node")
    )
    ranks = trustrank_quantized(edges, seeds, iterations=3)
    return (
        ranks.select(
            decode_node(F.col("node")).alias("node"),
            (F.col("rank_q").cast("double") / PR_SCALE).alias("rank"),
            (
                (F.col("node") % 2 == 0)
                & (F.expr("div(node, 2)") % 97 == 0)
            ).alias("is_seed"),
        )
        .orderBy(F.col("rank").desc(), "node")
        .limit(50)
    )


def _sql_trustrank(iterations: int = 3) -> str:
    head = f"""
WITH pairs AS (
    SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
           's' || CAST(l_suppkey AS VARCHAR) AS s,
           COUNT(*) AS w
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
),
edges AS (
    SELECT c AS src, s AS dst, w FROM pairs
    UNION ALL
    SELECT s AS src, c AS dst, w FROM pairs
),
nodes AS (
    SELECT DISTINCT src AS node FROM edges
    UNION
    SELECT DISTINCT dst AS node FROM edges
),
outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, edges.w, outw.out_w
      FROM edges JOIN outw ON edges.src = outw.src),
seed AS (
    SELECT node FROM nodes
    WHERE node LIKE 'c%' AND CAST(SUBSTR(node, 2) AS BIGINT) % 97 = 0
),
nn AS (SELECT COUNT(*) AS ns FROM seed),
r0 AS (
    SELECT nodes.node,
           CASE WHEN seed.node IS NOT NULL THEN {PR_SCALE} // ns
                ELSE 0 END AS rank_q
    FROM nodes CROSS JOIN nn LEFT JOIN seed ON nodes.node = seed.node
)"""
    steps = []
    for k in range(1, iterations + 1):
        steps.append(f""",
c{k} AS (
    SELECT dst AS node, SUM((rank_q * w) // out_w) AS s
    FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node
    GROUP BY dst
),
r{k} AS (
    SELECT nodes.node,
           CASE WHEN seed.node IS NOT NULL
                THEN (3 * {PR_SCALE}) // (20 * nn.ns) ELSE 0 END
           + (17 * COALESCE(c{k}.s, 0)) // 20 AS rank_q
    FROM nodes CROSS JOIN nn
    LEFT JOIN seed ON nodes.node = seed.node
    LEFT JOIN c{k} ON nodes.node = c{k}.node
)""")
    tail = f"""
SELECT r{iterations}.node,
       CAST(rank_q AS DOUBLE) / {PR_SCALE} AS rank,
       seed.node IS NOT NULL AS is_seed
FROM r{iterations} LEFT JOIN seed ON r{iterations}.node = seed.node
ORDER BY rank DESC, r{iterations}.node LIMIT 50
"""
    return head + "".join(steps) + tail


SQL_GRAPH_TRUSTRANK = _sql_trustrank(3)


# --------------------------------------------------------------------------
# HyperBall: HLL-register neighborhood-function estimation
# --------------------------------------------------------------------------

def hyperball_registers(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-node HLL registers of the
    radius-``rounds`` ball, computed by the register-max fixpoint —
    round t folds every neighbor's round-(t-1) registers into each
    node's own by per-register MAX. Returns the long form
    (node, reg, m_j), present registers only.

    This is THE bounded-memory way to estimate per-node reachable-set
    sizes (the neighborhood function, and from it effective diameter /
    closeness) on graphs where exact per-node BFS sets are impossibly
    large: state per node is <= m = 256 registers whatever the ball
    size. Registers are carried as a DENSE per-node array — the layout
    real HyperBall uses — so each round's neighbor pull is ONE row per
    edge and the merge is m max-aggregates per node. The first cut
    carried (node, reg, m_j) rows through the loop instead, and the
    sf10full rehearsal killed it: the pull join multiplies |edges| by
    registers-per-node (~10^9 intermediate rows at 8M edges, GC death);
    dense arrays bound the round's shuffle at (|edges| + |nodes|) rows
    — measured 46 s where the row form died. Register arithmetic (md5
    register index / first-1-bit rank) reuses sketches.py's
    engine-portable definitions, so the DuckDB twin agrees bit-for-bit.
    """
    regs = None
    for _t, dense in _hyperball_rounds(edges, rounds):
        regs = dense
    return regs.select(
        "node", F.posexplode("regs").alias("reg", "m_j")
    ).filter(F.col("m_j") > 0).select(
        "node", F.col("reg").cast("long").alias("reg"),
        F.col("m_j").cast("long").alias("m_j"),
    )


def _hyperball_rounds(edges: DataFrame, rounds: int):
    """The HyperBall register-max fixpoint over dense per-node register
    arrays, yielding (t, dense regs) for t = 0..rounds (t = 0 is the
    {self} initialization). Shared by :func:`hyperball_registers` (final
    long form) and :func:`hyperball_estimates` (per-round ball sizes)."""
    from .sketches import HLL_M, _rank_col

    sym = _symmetric_edges(edges).localCheckpoint(eager=True)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    h = F.md5(F.col("node").cast("string"))
    reg0 = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    rank0 = _rank_col(h).cast("int")
    regs = nodes.select(
        "node",
        F.transform(
            F.sequence(F.lit(0), F.lit(HLL_M - 1)),
            lambda i: F.when(i == reg0, rank0).otherwise(F.lit(0)),
        ).alias("regs"),
    ).localCheckpoint(eager=True)
    yield 0, regs
    maxes = [
        F.max(F.element_at("regs", i + 1)).alias(f"r{i}")
        for i in range(HLL_M)
    ]
    rebuild = F.array(*[F.col(f"r{i}") for i in range(HLL_M)]).alias("regs")
    # the pulled relation is |edges| rows each ~HLL_M ints wide — size the
    # merge shuffle to THAT (64 MB targets), not the session's default
    # partition count: at 8M sym edges the default 32 partitions put
    # ~250 MB of wide rows into every task's agg buffer and the sf10full
    # rehearsal GC-thrashed to death; 4 bytes/register + row overhead
    n_edges = sym.count()
    n_parts = max(
        sym.sparkSession.sparkContext.defaultParallelism,
        int(n_edges * (4 * HLL_M + 64) / (64 << 20)) + 1,
    )
    for t in range(1, rounds + 1):
        pulled = sym.join(regs, sym.src == regs.node).select(
            F.col("dst").alias("node"), "regs"
        )
        regs = (
            regs.unionByName(pulled)
            .repartition(n_parts, "node")
            .groupBy("node")
            .agg(*maxes)
            .select("node", rebuild)
            .localCheckpoint(eager=False)
        )
        yield t, regs


def _dense_ball_est() -> F.Column:
    """The raw HLL estimate as a per-row fold over a DENSE register array
    (0 = empty cell contributes 2^53, exactly like the absent-register
    term in ``hll_estimate_from_registers``): one integer sum, one double
    division — no explode, no shuffle."""
    from .sketches import HLL_ALPHA, HLL_M

    denom = F.expr(
        "aggregate(regs, CAST(0 AS BIGINT),"
        " (acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), 53 - x))"
    )
    return (
        F.lit(HLL_ALPHA * HLL_M * HLL_M * float(1 << 53))
        / denom.cast("double")
    )


def hyperball_estimates(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """(node, t, ball_est) for t = 0..rounds: the per-node radius-t ball
    size estimates, one row per round — the HyperBall neighborhood
    function. The estimate is a zero-shuffle per-row fold over the dense
    registers, so each extra round costs exactly one edge join + one
    node aggregate and nothing more."""
    outs = [
        dense.select("node", F.lit(t).alias("t"),
                     _dense_ball_est().alias("ball_est"))
        for t, dense in _hyperball_rounds(edges, rounds)
    ]
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def q_graph_hyperball(spark, sf_dir):
    """Per-supplier 2-ball size over the co-supply backbone: the
    HyperBall HLL estimate next to the EXACT 2-hop reachable count
    (self + neighbors + neighbors-of-neighbors) and the relative error.
    The oracle replays both legs — register fixpoint and exact ball —
    in SQL, so a wrong register merge or a wrong join direction is a
    value-hash mismatch. The raw-formula small-range caveat applies per
    node (sketches.py module docstring); the error column is the
    documented contract, not a hidden tolerance.

    GATE-SCALE ROW: the exact-ball column is a Σdeg² wedge expansion —
    the very quantity HyperBall exists to avoid — and the sf10full
    rehearsal OOM'd exactly there (640M wedge pairs into a 32-partition
    distinct) while the register path cruised (1.5x wall on 10x data,
    SCALING.md). At scale, consume :func:`hyperball_registers` +
    :func:`~.sketches.hll_estimate_from_registers` directly; the exact
    column exists to verify the estimate where exactness is feasible."""
    from .sketches import hll_estimate_from_registers

    edges = cosupply_backbone(spark, sf_dir).localCheckpoint(eager=True)
    regs = hyperball_registers(edges, rounds=2)
    est = hll_estimate_from_registers(regs, ["node"]).withColumnRenamed(
        "hll_estimate", "hll_ball2"
    )
    ball = _exact_ball2(_symmetric_edges(edges)).withColumnRenamed(
        "ball2", "exact_ball2"
    )
    return est.join(ball, "node").select(
        F.col("node").cast("long").alias("node"),
        "exact_ball2",
        "hll_ball2",
        (
            F.abs(F.col("hll_ball2") - F.col("exact_ball2"))
            / F.col("exact_ball2")
        ).alias("rel_error"),
    )


def _sql_hyperball(rounds: int = 2) -> str:
    from .sketches import HLL_ALPHA, HLL_M, _sql_hex_to_long

    h = "md5(CAST(node AS VARCHAR))"
    x = _sql_hex_to_long(h, 3, 13)
    head = _SQL_BACKBONE + """,
e AS MATERIALIZED (
    SELECT u AS src, v AS dst FROM eb
    UNION ALL
    SELECT v AS src, u AS dst FROM eb
),
nodes AS (SELECT DISTINCT src AS node FROM e),"""
    regs = f"""
r0 AS (
    SELECT node, {_sql_hex_to_long(h, 1, 2)} AS reg,
           MAX(CASE WHEN {x} = 0 THEN 53
                    ELSE 53 - LENGTH(bin({x})) END) AS m_j
    FROM nodes GROUP BY node, reg
)"""
    steps = []
    for k in range(1, rounds + 1):
        steps.append(f""",
r{k} AS (
    SELECT node, reg, MAX(m_j) AS m_j FROM (
        SELECT e.dst AS node, r.reg, r.m_j
        FROM e JOIN r{k - 1} r ON e.src = r.node
        UNION ALL
        SELECT node, reg, m_j FROM r{k - 1}
    ) GROUP BY node, reg
)""")
    tail = f""",
est AS (
    SELECT node,
           CAST({HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)!r} AS DOUBLE)
           / CAST(SUM(1::BIGINT << (53 - m_j))
                  + ({HLL_M} - COUNT(*)) * (1::BIGINT << 53) AS DOUBLE)
               AS hll_ball2
    FROM r{rounds} GROUP BY node
),
exact AS (
    SELECT node, CAST(COUNT(DISTINCT x) AS BIGINT) AS exact_ball2 FROM (
        SELECT src AS node, src AS x FROM e
        UNION ALL
        SELECT src AS node, dst AS x FROM e
        UNION ALL
        SELECT e1.src AS node, e2.dst AS x
        FROM e e1 JOIN e e2 ON e1.dst = e2.src
    ) GROUP BY node
)
SELECT CAST(est.node AS BIGINT) AS node, exact_ball2, hll_ball2,
       abs(hll_ball2 - exact_ball2) / exact_ball2 AS rel_error
FROM est JOIN exact ON est.node = exact.node
"""
    return head + regs + "".join(steps) + tail


def q_graph_harmonic(spark, sf_dir):
    """Truncated harmonic centrality via HyperBall — the application the
    sketch was published FOR (Boldi & Vigna 2013 compute centralities on
    billion-node web graphs this way): per supplier,
    est = (B(1) - B(0)) + (B(2) - B(1))/2 from the per-round ball-size
    estimates, next to the EXACT radius-2 harmonic centrality
    n1 + n2/2 (n1 = neighbors, n2 = nodes at distance exactly 2). Each
    extra radius costs one edge join + one node aggregate; the exact leg
    is the same gate-scale-only wedge expansion as q_graph_hyperball's.
    The oracle replays the register fixpoint per round AND the exact
    distances in SQL; the raw-formula small-range bias (B(0) estimates a
    1-element set) flows through the differences identically in both
    engines — the gate is determinism and plumbing, the error column is
    the documented accuracy contract."""
    edges = cosupply_backbone(spark, sf_dir).localCheckpoint(eager=True)
    ests = hyperball_estimates(edges, rounds=2)
    b = ests.groupBy("node").agg(
        *[
            F.max(F.when(F.col("t") == t, F.col("ball_est"))).alias(f"b{t}")
            for t in (0, 1, 2)
        ]
    )
    est_harm = (F.col("b1") - F.col("b0")) + (F.col("b2") - F.col("b1")) / 2
    sym = _symmetric_edges(edges)
    n1 = sym.groupBy(F.col("src").alias("node")).agg(
        F.count_distinct("dst").alias("n1")
    )
    ball2 = _exact_ball2(sym)
    exact_harm = (
        F.col("n1") + (F.col("ball2") - F.col("n1") - 1) / F.lit(2.0)
    )
    return (
        b.join(n1, "node")
        .join(ball2, "node")
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("n1").cast("long").alias("n1"),
            (F.col("ball2") - F.col("n1") - 1).cast("long").alias("n2"),
            est_harm.alias("est_harmonic"),
            exact_harm.alias("exact_harmonic"),
            (F.abs(est_harm - exact_harm) / exact_harm).alias("rel_error"),
        )
    )


def _sql_harmonic(rounds: int = 2) -> str:
    from .sketches import HLL_ALPHA, HLL_M, _sql_hex_to_long

    h = "md5(CAST(node AS VARCHAR))"
    x = _sql_hex_to_long(h, 3, 13)
    alpha = f"CAST({HLL_ALPHA * HLL_M * HLL_M * float(1 << 53)!r} AS DOUBLE)"
    head = _SQL_BACKBONE + """,
e AS MATERIALIZED (
    SELECT u AS src, v AS dst FROM eb
    UNION ALL
    SELECT v AS src, u AS dst FROM eb
),
nodes AS (SELECT DISTINCT src AS node FROM e),"""
    regs = f"""
r0 AS (
    SELECT node, {_sql_hex_to_long(h, 1, 2)} AS reg,
           MAX(CASE WHEN {x} = 0 THEN 53
                    ELSE 53 - LENGTH(bin({x})) END) AS m_j
    FROM nodes GROUP BY node, reg
)"""
    steps, ests = [], []
    for k in range(1, rounds + 1):
        steps.append(f""",
r{k} AS (
    SELECT node, reg, MAX(m_j) AS m_j FROM (
        SELECT e.dst AS node, r.reg, r.m_j
        FROM e JOIN r{k - 1} r ON e.src = r.node
        UNION ALL
        SELECT node, reg, m_j FROM r{k - 1}
    ) GROUP BY node, reg
)""")
    for k in range(rounds + 1):
        ests.append(f""",
b{k} AS (
    SELECT node,
           {alpha}
           / CAST(SUM(1::BIGINT << (53 - m_j))
                  + ({HLL_M} - COUNT(*)) * (1::BIGINT << 53) AS DOUBLE)
               AS est
    FROM r{k} GROUP BY node
)""")
    tail = """,
n1 AS (SELECT src AS node, COUNT(DISTINCT dst) AS n1 FROM e GROUP BY src),
ball2 AS (
    SELECT node, CAST(COUNT(DISTINCT x) AS BIGINT) AS ball2 FROM (
        SELECT src AS node, src AS x FROM e
        UNION ALL
        SELECT src AS node, dst AS x FROM e
        UNION ALL
        SELECT e1.src AS node, e2.dst AS x
        FROM e e1 JOIN e e2 ON e1.dst = e2.src
    ) GROUP BY node
)
SELECT CAST(b0.node AS BIGINT) AS node,
       CAST(n1.n1 AS BIGINT) AS n1,
       CAST(ball2.ball2 - n1.n1 - 1 AS BIGINT) AS n2,
       (b1.est - b0.est) + (b2.est - b1.est) / 2 AS est_harmonic,
       n1.n1 + (ball2.ball2 - n1.n1 - 1) / 2.0 AS exact_harmonic,
       abs((b1.est - b0.est) + (b2.est - b1.est) / 2
           - (n1.n1 + (ball2.ball2 - n1.n1 - 1) / 2.0))
       / (n1.n1 + (ball2.ball2 - n1.n1 - 1) / 2.0) AS rel_error
FROM b0
JOIN b1 ON b0.node = b1.node
JOIN b2 ON b0.node = b2.node
JOIN n1 ON b0.node = n1.node
JOIN ball2 ON b0.node = ball2.node
"""
    return head + regs + "".join(steps) + "".join(ests) + tail


QUERIES = {
    "graph_pagerank": (q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "graph_hyperball": (q_graph_hyperball, _sql_hyperball()),
    "graph_harmonic": (q_graph_harmonic, _sql_harmonic()),
    "graph_trustrank": (q_graph_trustrank, SQL_GRAPH_TRUSTRANK),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "graph_khop": (q_graph_khop, SQL_GRAPH_KHOP),
    "graph_label_propagation": (
        q_graph_label_propagation,
        SQL_GRAPH_LABEL_PROPAGATION,
    ),
    "graph_kcore": (q_graph_kcore, SQL_GRAPH_KCORE),
}


def register_all() -> None:
    from . import harness

    for name, (fn, sql) in QUERIES.items():
        harness.register(name, fn, sql)
