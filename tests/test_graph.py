"""Graph analytics unit tests: triangle census on graphs with known
closed-form answers (the oracle gate covers the fixture-data path;
these pin the combinatorics)."""

from __future__ import annotations

from pandas_etl_framework_spark.graph import triangle_count


def _census(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    return triangle_count(df).collect()[0]


def test_triangle_count_complete_k4(spark):
    # K4: C(4,3)=4 triangles, wedges = 4*C(3,2)=12, coefficient exactly 1
    k4 = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    r = _census(spark, k4)
    assert r["n_edges"] == 6
    assert r["n_triangles"] == 4
    assert r["n_wedges"] == 12
    assert r["clustering_coeff"] == 1.0


def test_triangle_count_path_has_none(spark):
    # a path graph has wedges but no triangles
    r = _census(spark, [(0, 1), (1, 2), (2, 3)])
    assert r["n_triangles"] == 0
    assert r["n_wedges"] == 2
    assert r["clustering_coeff"] == 0.0


def test_triangle_count_hub_with_one_closure(spark):
    # star on 0 (hub degree 5) + one rim edge closing exactly one triangle;
    # exercises the degree-ordered orientation on a skewed-degree graph
    star = [(0, v) for v in range(1, 6)]
    r = _census(spark, star + [(1, 2)])
    assert r["n_edges"] == 6
    assert r["n_triangles"] == 1
    # hub wedges C(5,2)=10, plus one wedge at node 1 and one at node 2
    assert r["n_wedges"] == 12


def test_triangle_count_empty_graph(spark):
    df = _census(spark, [(1, 2)])  # single edge: no wedges at all
    assert df["n_triangles"] == 0
    assert df["n_wedges"] == 0
    assert df["clustering_coeff"] == 0.0


def test_khop_distances_match_networkx_style_bfs(spark):
    """BFS distances must equal a driver-side reference BFS over the same
    edges, and each round's frontier must exclude already-visited nodes
    (dist is the MINIMUM hop count, not the last)."""
    from collections import deque

    from pandas_etl_framework_spark.graph import khop_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (5, 6), (7, 8)],
        "src long, dst long",
    )
    sym = edges.union(edges.selectExpr("dst AS src", "src AS dst"))
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in khop_distances(sym, seeds, hops=3).collect()}

    adj = {}
    for s, d in [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (5, 6), (7, 8)]:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    ref, q = {1: 0}, deque([1])
    while q:
        u = q.popleft()
        if ref[u] >= 3:
            continue
        for v in adj.get(u, ()):
            if v not in ref:
                ref[v] = ref[u] + 1
                q.append(v)
    # {1:0, 2:1, 3:1, 4:2, 5:3}; node 6 is 4 hops out, 7/8 disconnected
    assert got == ref


def test_label_propagation_deterministic_communities(spark):
    """Two triangles joined by one bridge edge: LPA with min tie-break
    must give each triangle its minimum node id as community label, and
    the synchronous result must be reproducible."""
    from pandas_etl_framework_spark.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "u long, v long",
    )
    out1 = {r["node"]: r["label"] for r in label_propagation(edges, 2).collect()}
    out2 = {r["node"]: r["label"] for r in label_propagation(edges, 2).collect()}
    assert out1 == out2

    # replicate the synchronous min-tie-break update in plain Python
    pairs = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    adj: dict[int, list[int]] = {}
    for u, v in pairs:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    labels = {n: n for n in adj}
    for _ in range(2):
        nxt = {}
        for n, nbrs in adj.items():
            counts: dict[int, int] = {}
            for m in nbrs:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        labels = nxt
    assert out1 == labels


def test_kcore_peels_tails_and_keeps_clique(spark):
    """Hand graph: K4 clique (nodes 0-3) with a pendant chain 3-4-5 and a
    tail 0-6. With k=2 the peel is genuinely multi-round: 5 and 6 drop in
    round 1 (degree 1), node 4 only in round 2 (degree 2 until its
    neighbor 5 goes) — a degree-once non-iterating implementation would
    wrongly keep node 4."""
    from pandas_etl_framework_spark.graph import kcore

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
         (3, 4), (4, 5), (0, 6)],
        "u long, v long",
    )
    out = {r["node"]: r["core_deg"] for r in kcore(edges, k=2).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_fixed_rounds_equal_fixpoint(spark):
    """The gate row runs a FIXED KCORE_ROUNDS peel; the fixture must
    converge inside that budget — compare against a pure-Python
    peel-to-fixpoint over the same backbone edges."""
    import collections

    from pandas_etl_framework_spark.graph import (
        KCORE_K,
        cosupply_backbone,
        q_graph_kcore,
    )

    sf = "/root/testdata/sf0.01"
    raw = cosupply_backbone(spark, sf).collect()
    adj = collections.defaultdict(set)
    for r in raw:
        adj[r["u"]].add(r["v"])
        adj[r["v"]].add(r["u"])
    alive = set(adj)
    while True:
        drop = {n for n in alive
                if sum(1 for m in adj[n] if m in alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    expect = {
        n: sum(1 for m in adj[n] if m in alive) for n in alive
    }
    got = {r["node"]: r["core_deg"]
           for r in q_graph_kcore(spark, sf).collect()}
    assert got == expect and got


def test_hyperball_registers_equal_direct_ball_registers(spark):
    """The defining HyperBall invariant: after t rounds, a node's
    registers are EXACTLY the HLL registers of its radius-t ball
    membership set — checked register-for-register on a graph with a
    path, a triangle, and an isolated edge."""
    from pandas_etl_framework_spark.graph import hyperball_registers
    from pandas_etl_framework_spark.sketches import hll_registers

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "u long, v long",
    )
    adj = {}
    for u, v in [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
                 (20, 21)]:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    balls = {n: {n} for n in adj}
    for _ in range(2):
        balls = {
            n: b | {x for m in b for x in adj[m]} for n, b in balls.items()
        }
    membership = spark.createDataFrame(
        [(n, m) for n, b in balls.items() for m in b],
        "node long, member long",
    )
    expected = {
        (r["node"], r["reg"]): r["m_j"]
        for r in hll_registers(membership, "member", ["node"]).collect()
    }
    got = {
        (r["node"], r["reg"]): r["m_j"]
        for r in hyperball_registers(edges, rounds=2).collect()
    }
    assert got == expected
    # sanity on the balls themselves: path end sees 3 nodes, triangle
    # sees all 3, isolated edge sees 2
    assert balls[1] == {1, 2, 3} and balls[10] == {10, 11, 12}
    assert balls[20] == {20, 21}


def test_trustrank_teleports_only_to_seeds(spark):
    """TrustRank invariants on a hand graph: (a) total mass stays ~S
    (up to integer-floor loss); (b) a node UNREACHABLE from the seed set
    ends at rank 0 while uniform PageRank gives it mass; (c) seeds hold
    the teleport floor."""
    from pandas_etl_framework_spark.graph import (
        PR_SCALE,
        pagerank_quantized,
        trustrank_quantized,
    )

    # two components: seeds live in {1,2,3}; {10,11} is unreachable
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1), (10, 11, 1), (11, 10, 1)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    tr = {r["node"]: r["rank_q"] for r in
          trustrank_quantized(edges, seeds, iterations=3).collect()}
    pr = {r["node"]: r["rank_q"] for r in
          pagerank_quantized(edges, iterations=3).collect()}
    assert tr[10] == 0 and tr[11] == 0            # no seed path -> no trust
    assert pr[10] > 0 and pr[11] > 0              # uniform teleport differs
    assert tr[1] >= (3 * PR_SCALE) // 20          # seed keeps its teleport
    assert sum(tr.values()) <= PR_SCALE           # mass conserved (floors)
    assert sum(tr.values()) >= PR_SCALE - 100     # ...up to floor loss


def test_trustrank_all_seeds_equals_pagerank(spark):
    """With every node a seed the teleport is uniform, so TrustRank is
    PageRank: the shared weighted-edge build and per-round sums must
    give identical integer ranks row for row (uneven weights, a sink
    and a sourceless node included)."""
    from pandas_etl_framework_spark.graph import (
        pagerank_quantized,
        trustrank_quantized,
    )

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 3, 5), (4, 1, 1), (3, 5, 2)],
        "src long, dst long, w long",
    )
    nodes = edges.selectExpr("src AS node").union(
        edges.selectExpr("dst AS node")
    ).distinct()
    tr = sorted(map(tuple, trustrank_quantized(edges, nodes, 4).collect()))
    pr = sorted(map(tuple, pagerank_quantized(edges, 4).collect()))
    assert tr == pr and len(pr) == 5


def test_hyperball_estimates_per_round_match_direct_ball_estimates(spark):
    """hyperball_estimates' per-round ball sizes must equal the HLL
    estimate of the exact ball membership at every t — the per-round
    extension of the register invariant, on the same hand graph."""
    from pandas_etl_framework_spark.graph import hyperball_estimates
    from pandas_etl_framework_spark.sketches import (
        hll_distinct,
    )

    edge_list = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
                 (20, 21)]
    edges = spark.createDataFrame(edge_list, "u long, v long")
    adj = {}
    for u, v in edge_list:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    balls = {n: {n} for n in adj}
    got = {
        (r["node"], r["t"]): r["ball_est"]
        for r in hyperball_estimates(edges, rounds=2).collect()
    }
    for t in range(3):
        membership = spark.createDataFrame(
            [(n, m) for n, b in balls.items() for m in b],
            "node long, member long",
        )
        exp = {
            r["node"]: r["hll_estimate"]
            for r in hll_distinct(membership, "member", ["node"]).collect()
        }
        for n, e in exp.items():
            assert got[(n, t)] == e, (n, t)
        balls = {
            n: b | {x for m in b for x in adj[m]} for n, b in balls.items()
        }
