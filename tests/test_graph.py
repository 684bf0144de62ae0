"""Integer PageRank + degree stats: hand-replicated integer arithmetic
on tiny graphs (the same micro-unit floor-division pipeline, in Python
ints), invariants, and error paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr


def _py_pagerank(edges, iters=3, damping_ppm=850_000):
    """Reference implementation in exact Python integers."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    out_w = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    r = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        s_in = {n: 0 for n in nodes}
        for s, d, w in edges:
            s_in[d] += (r[s] * w) // out_w[s]
        r = {n: (1_000_000 - damping_ppm) + (damping_ppm * s_in[n]) // 1_000_000 for n in nodes}
    return r


def test_pagerank_matches_python_integers(spark):
    edges = [(0, 1, 2), (0, 2, 1), (1, 0, 1), (2, 0, 1)]
    df = spark.createDataFrame(edges, "src int, dst int, weight long")
    got = {r["node"]: r["rank_micro"] for r in gr.pagerank_integer(df, iters=3).collect()}
    assert got == _py_pagerank(edges, iters=3)
    # the hub node 0 (receives everything) outranks the leaves
    assert got[0] > got[1] > got[2]


def test_pagerank_uniform_cycle_is_stationary(spark):
    """A uniform cycle is the PageRank fixpoint: ranks stay exactly 1e6
    (the floor divisions are exact), for any sweep count."""
    df = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 5), (2, 0, 5)], "src int, dst int, weight long"
    )
    for iters in (1, 4):
        got = {r["node"]: r["rank_micro"] for r in gr.pagerank_integer(df, iters=iters).collect()}
        assert got == {0: 1_000_000, 1: 1_000_000, 2: 1_000_000}


def test_pagerank_sink_node_gets_base_plus_inflow(spark):
    """A pure sink (no out-edges) accumulates inflow; a pure source ends
    at the teleport base. Mass leak from the sink is the documented
    no-redistribution contract."""
    edges = [(0, 1, 1)]
    df = spark.createDataFrame(edges, "src int, dst int, weight long")
    got = {r["node"]: r["rank_micro"] for r in gr.pagerank_integer(df, iters=2).collect()}
    assert got == _py_pagerank(edges, iters=2)
    assert got[0] == 150_000  # no inflow after sweep 1: teleport base only


def test_pagerank_validations(spark):
    df = spark.createDataFrame([(0, 1, 1)], "src int, dst int, weight long")
    with pytest.raises(ValueError, match="iters"):
        gr.pagerank_integer(df, iters=0)
    with pytest.raises(ValueError, match="damping_ppm"):
        gr.pagerank_integer(df, damping_ppm=2_000_000)


def test_triangle_count_known_graphs(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    def run(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return gr.triangle_count(df).collect()[0]

    # K4: 4 triangles; duplicates/reversed/self-loops must not matter
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    k4 += [(0, 0), (1, 2), (2, 1)]
    r = run(k4)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)

    # 6-cycle: no triangles
    c6 = [(i, (i + 1) % 6) for i in range(6)]
    r = run(c6)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (6, 6, 0)

    # star + one rim edge: exactly 1 triangle (hub 0, spokes 1..5, rim 1-2)
    star = [(0, i) for i in range(1, 6)] + [(1, 2)]
    r = run(star)
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (6, 6, 1)


def test_triangle_count_matches_brute_force_random(spark):
    """Deterministic pseudo-random graph vs itertools brute force."""
    from itertools import combinations

    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    edges = []
    x = 1
    for _ in range(300):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % 40
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % 40
        edges.append((a, b))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = gr.triangle_count(df).collect()[0]

    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in es for n in e}
    tri = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    assert (got["n_nodes"], got["n_edges"], got["n_triangles"]) == (
        len(nodes), len(es), tri,
    )


def test_bfs_hops_path_graph(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    # path 0-1-2-3-4 plus a shortcut 0-3
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)], "src long, dst long"
    )
    got = {r["node"]: r["hop"] for r in gr.bfs_hops(edges, 0, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}


def test_bfs_hops_respects_max_hops(spark):
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    got = {r["node"]: r["hop"] for r in gr.bfs_hops(edges, 0, max_hops=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_k_core_cascade_and_empty(spark):
    """The cascade a one-shot degree cut misses: a 4-clique with a
    pendant chain — the chain peels over MULTIPLE rounds (each removal
    drags its neighbor below k), leaving exactly the clique; k above
    the degeneracy yields an empty core."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(clique + chain, "src long, dst long")
    core = {r["node"]: r["degree"] for r in gr.k_core(df, k=3).collect()}
    assert core == {0: 3, 1: 3, 2: 3, 3: 3}
    assert gr.k_core(df, k=4).count() == 0
    # k=1 keeps everything (undirected degrees)
    assert gr.k_core(df, k=1).count() == 7


def _py_lpa(edges, rounds):
    """Synchronous LPA reference in plain Python: most frequent neighbor
    label, smallest label on ties, simultaneous updates."""
    und = set()
    for s, d in edges:
        if s != d:
            und.add((s, d))
            und.add((d, s))
    nbrs: dict[int, list] = {}
    for s, d in und:
        nbrs.setdefault(s, []).append(d)
    labels = {n: n for n in nbrs}
    for _ in range(rounds):
        nxt = {}
        for n, ns in nbrs.items():
            counts: dict[int, int] = {}
            for m in ns:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            nxt[n] = min(counts, key=lambda lb: (-counts[lb], lb))
        labels = nxt
    return labels


def test_label_propagation_two_triangles_bridge(spark):
    # two triangles {1,2,3} and {10,11,12} joined by a 3-10 bridge:
    # after 2 synchronous rounds each triangle coalesces to its min id
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in gr.label_propagation(df, rounds=2).collect()}
    assert got == _py_lpa(edges, 2)
    # community structure: the triangles don't merge across the bridge
    assert got[1] == got[2] == 1
    assert got[11] == got[12]


def test_label_propagation_matches_python_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 12
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(20)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "src long, dst long")
        for rounds in (1, 3):
            got = {
                r["node"]: r["label"]
                for r in gr.label_propagation(df, rounds=rounds).collect()
            }
            assert got == _py_lpa(edges, rounds), (trial, rounds, edges)


def test_label_propagation_drops_self_loop_only_nodes(spark):
    df = spark.createDataFrame([(1, 1), (2, 3)], "src long, dst long")
    got = {r["node"]: r["label"] for r in gr.label_propagation(df, rounds=1).collect()}
    assert set(got) == {2, 3}
    assert got == {2: 3, 3: 2}  # each adopts its only neighbor's label


def test_label_propagation_rejects_bad_rounds(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        gr.label_propagation(df, rounds=0)


# --- adamic_adar ---------------------------------------------------------


def _py_adamic_adar(edges, exclude_adjacent=True, max_degree=None):
    import math
    from collections import defaultdict

    eset = set()
    for s, d in edges:
        if s is not None and d is not None and s != d:
            eset.add((min(s, d), max(s, d)))
    adj = defaultdict(set)
    for a, b in eset:
        adj[a].add(b)
        adj[b].add(a)
    deg = {z: len(nb) for z, nb in adj.items()}
    term = {
        z: math.floor(1e6 / math.log(d))
        for z, d in deg.items()
        if d >= 2 and (max_degree is None or d <= max_degree)
    }
    out = {}
    for z, t in term.items():
        nb = sorted(adj[z])
        for i in range(len(nb)):
            for j in range(i + 1, len(nb)):
                k = (nb[i], nb[j])
                n, s = out.get(k, (0, 0))
                out[k] = (n + 1, s + t)
    if exclude_adjacent:
        out = {k: v for k, v in out.items() if k not in eset}
    return out


def test_adamic_adar_brute_force_random_graphs(spark):
    import random

    for trial in range(4):
        rng = random.Random(100 + trial)
        n = rng.randint(5, 12)
        edges = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(4, 25))
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        for excl in (True, False):
            got = {
                (r["a"], r["b"]): (r["n_common"], r["aa_micro"])
                for r in gr.adamic_adar(df, exclude_adjacent=excl).collect()
            }
            assert got == _py_adamic_adar(edges, exclude_adjacent=excl), (
                trial, excl, edges,
            )


def test_adamic_adar_hub_cap(spark):
    # star + one extra edge: hub 0 touches 1..4; 1-2 also adjacent.
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["a"], r["b"]): (r["n_common"], r["aa_micro"])
        for r in gr.adamic_adar(df, max_degree=3).collect()
    }
    # hub (deg 4) is excluded as an apex; only apexes 1 and 2 (deg 2)
    # generate wedges: (0,2) via 1 and (0,1) via 2 — both adjacent, so
    # with exclude_adjacent nothing survives
    assert got == {}
    got_all = {
        (r["a"], r["b"]): (r["n_common"], r["aa_micro"])
        for r in gr.adamic_adar(df, exclude_adjacent=False, max_degree=3).collect()
    }
    assert got_all == _py_adamic_adar(edges, exclude_adjacent=False, max_degree=3)


def test_adamic_adar_rejects_bad_max_degree(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        gr.adamic_adar(df, max_degree=1)


# --- harmonic_centrality -------------------------------------------------


def _py_harmonic(edges, max_hops):
    import math
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for s, d in edges:
        if s is not None and d is not None and s != d:
            adj[s].add(d)
            adj[d].add(s)
    out = {}
    for u in adj:
        dist = {u: 0}
        q = deque([u])
        while q:
            n = q.popleft()
            if dist[n] >= max_hops:
                continue
            for v in adj[n]:
                if v not in dist:
                    dist[v] = dist[n] + 1
                    q.append(v)
        terms = [math.floor(1e6 / h) for n, h in dist.items() if h > 0]
        out[u] = (len(terms), sum(terms))
    return out


def test_harmonic_centrality_brute_force(spark):
    import random

    for trial in range(3):
        rng = random.Random(7 + trial)
        n = rng.randint(5, 10)
        edges = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(4, 18))
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        for hops in (1, 3):
            got = {
                r["node"]: (r["n_reached"], r["harmonic_micro"])
                for r in gr.harmonic_centrality(df, max_hops=hops).collect()
            }
            assert got == _py_harmonic(edges, hops), (trial, hops, edges)


def test_harmonic_centrality_path_graph(spark):
    # path 1-2-3-4, hops=3: ends reach 3 at d=1,2,3; middles reach all
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    got = {
        r["node"]: r["harmonic_micro"]
        for r in gr.harmonic_centrality(df, max_hops=3).collect()
    }
    end = 1_000_000 + 500_000 + 333_333
    mid = 1_000_000 + 1_000_000 + 500_000
    assert got == {1: end, 4: end, 2: mid, 3: mid}


def test_harmonic_centrality_rejects_bad_hops(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        gr.harmonic_centrality(df, max_hops=0)


# --- hierarchy_rollup ----------------------------------------------------


def test_hierarchy_rollup_tree_and_depth_bound(spark):
    # 1 <- {2, 3}; 2 <- {4, 5}; 9 isolated
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (5, 2)], "child long, parent long"
    )
    vals = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50), (9, 90)],
        "node long, value long",
    )
    got = {
        r["node"]: (r["own_value"], r["subtree_value"], r["n_descendants"])
        for r in gr.hierarchy_rollup(edges, vals, max_depth=3).collect()
    }
    assert got == {
        1: (10, 150, 4), 2: (20, 110, 2), 3: (30, 30, 0),
        4: (40, 40, 0), 5: (50, 50, 0), 9: (90, 90, 0),
    }
    # max_depth=1: node 1 must NOT see grandchildren 4, 5
    got1 = {
        r["node"]: r["subtree_value"]
        for r in gr.hierarchy_rollup(edges, vals, max_depth=1).collect()
    }
    assert got1[1] == 60 and got1[2] == 110
    with pytest.raises(ValueError):
        gr.hierarchy_rollup(edges, vals, max_depth=0)


def test_hierarchy_rollup_deep_chain(spark):
    # chain 5 <- 4 <- 3 <- 2 <- 1: depth-limited accumulation per level
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(2, 6)], "child long, parent long"
    )
    vals = spark.createDataFrame(
        [(i, 1) for i in range(1, 6)], "node long, value long"
    )
    for d in (1, 2, 4):
        got = {
            r["node"]: r["subtree_value"]
            for r in gr.hierarchy_rollup(edges, vals, max_depth=d).collect()
        }
        assert got[1] == 1 + min(d, 4)  # root sees d levels of the chain


# --- sssp_weighted --------------------------------------------------------


def test_sssp_weighted_hand_graph(spark):
    # 0 -1-> 1 -1-> 2 ; 0 -5-> 2 ; 2 -1-> 3 ; parallel 0->1 costs 7 (ignored)
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 5), (2, 3, 1), (0, 1, 7)],
        "src long, dst long, weight long",
    )
    got = {r["node"]: r["dist"]
           for r in gr.sssp_weighted(edges, [0], max_rounds=4).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_weighted_round_bound_is_path_edges(spark):
    # cheapest path to 2 needs two edges; with max_rounds=1 only the
    # direct expensive edge is reachable
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 5)], "src long, dst long, weight long"
    )
    got = {r["node"]: r["dist"]
           for r in gr.sssp_weighted(edges, [0], max_rounds=1).collect()}
    assert got == {0: 0, 1: 1, 2: 5}


def test_sssp_weighted_multi_source_and_validation(spark):
    edges = spark.createDataFrame(
        [(0, 2, 10), (1, 2, 1)], "src long, dst long, weight long"
    )
    got = {r["node"]: r["dist"]
           for r in gr.sssp_weighted(edges, [0, 1], max_rounds=2).collect()}
    assert got == {0: 0, 1: 0, 2: 1}
    with pytest.raises(ValueError):
        gr.sssp_weighted(edges, [0], max_rounds=0)
    with pytest.raises(ValueError):
        gr.sssp_weighted(edges, [], max_rounds=1)


def test_sssp_weighted_negative_weight_raises(spark):
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    edges = spark.createDataFrame(
        [(0, 1, -1)], "src long, dst long, weight long"
    )
    with pytest.raises((PySparkRuntimeError, SparkRuntimeException, Exception)):
        gr.sssp_weighted(edges, [0], max_rounds=1).collect()


def test_sssp_weighted_null_weight_edge_dropped(spark):
    """ADVICE r8: a NULL weight must not min-collapse a parallel edge
    to NULL cost or admit NULL dists into the result. The NULL 0->1
    edge is dropped: 1 is reached only via the weight-3 edge; the NULL
    parallel 1->2 edge must not beat the real weight-2 edge; a node
    reachable ONLY through a NULL-weight edge (3) is unreachable."""
    edges = spark.createDataFrame(
        [(0, 1, None), (0, 1, 3), (1, 2, None), (1, 2, 2), (2, 3, None)],
        "src long, dst long, weight long",
    )
    rows = gr.sssp_weighted(edges, [0], max_rounds=4).collect()
    got = {r["node"]: r["dist"] for r in rows}
    assert got == {0: 0, 1: 3, 2: 5}
    assert all(r["dist"] is not None for r in rows)


# --- assortativity --------------------------------------------------------


def test_assortativity_matches_python(spark):
    import math

    # star + tail: hub 0 - {1,2,3}, 3 - 4 (disassortative-ish)
    e = [(0, 1), (0, 2), (0, 3), (3, 4)]
    df = spark.createDataFrame(e, "src long, dst long")
    [r] = gr.assortativity(df).collect()
    und = set()
    for a, b in e:
        und |= {(a, b), (b, a)}
    deg = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    xs = [deg[a] for a, b in und]
    ys = [deg[b] for a, b in und]
    n = len(und)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(v * v for v in xs)
    syy = sum(v * v for v in ys)
    rr = (n * sxy - sx * sy) / math.sqrt(
        float(n * sxx - sx * sx) * float(n * syy - sy * sy)
    )
    assert (r["n_nodes"], r["n_edges"]) == (5, 4)
    assert r["r_micro"] == math.floor(rr * 1e6)
    assert r["r_micro"] < 0  # hub-and-spoke graphs are disassortative


def test_assortativity_regular_graph_emits_nothing(spark):
    # 4-cycle: every degree 2 -> zero variance -> r undefined
    e = [(0, 1), (1, 2), (2, 3), (3, 0)]
    df = spark.createDataFrame(e, "src long, dst long")
    assert gr.assortativity(df).count() == 0


# --- jaccard_neighbors ----------------------------------------------------


def test_jaccard_neighbors_matches_python(spark):
    # square with one diagonal: 0-1, 1-2, 2-3, 3-0, 0-2
    e = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    df = spark.createDataFrame(e, "src long, dst long")
    got = {(r["a"], r["b"]): (r["n_common"], r["deg_a"], r["deg_b"],
                              r["jaccard_micro"])
           for r in gr.jaccard_neighbors(df).collect()}
    nbrs = {}
    for a, b in e:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    edge_set = {(min(a, b), max(a, b)) for a, b in e}
    for a in nbrs:
        for b in nbrs:
            if a >= b or (a, b) in edge_set:
                continue
            common = len(nbrs[a] & nbrs[b])
            if common == 0:
                continue
            da, db = len(nbrs[a]), len(nbrs[b])
            want[(a, b)] = (common, da, db,
                            common * 1_000_000 // (da + db - common))
    assert got == want
    # the only non-edge is 1-3, sharing {0, 2}: J = 2/(2+2-2) = 1
    assert got == {(1, 3): (2, 2, 2, 1_000_000)}


def test_jaccard_neighbors_include_adjacent_and_cap(spark):
    e = [(0, 1), (0, 2), (0, 3), (1, 2)]
    df = spark.createDataFrame(e, "src long, dst long")
    allp = {(r["a"], r["b"]): r["jaccard_micro"]
            for r in gr.jaccard_neighbors(df, exclude_adjacent=False).collect()}
    # adjacent pair (1,2) shares {0}: J = 1/(3+3-1)... deg1=2, deg2=2:
    # common={0}, J = 1/(2+2-1) = 1/3
    assert allp[(1, 2)] == 333_333
    # max_degree=2 drops apex 0 (deg 3): only apexes 1,2 remain
    capped = {(r["a"], r["b"]) for r in
              gr.jaccard_neighbors(df, exclude_adjacent=False,
                                   max_degree=2).collect()}
    assert (1, 3) not in capped and (2, 3) not in capped
    with pytest.raises(ValueError):
        gr.jaccard_neighbors(df, max_degree=1)


# --- hits_scores -----------------------------------------------------------


def test_hits_hand_graph_one_round(spark):
    # star: 0->1, 2->1, 1->3. a1 = indegree; h1(u) = Σ a1(out-neighbors)
    edges = spark.createDataFrame(
        [(0, 1), (2, 1), (1, 3)], "src long, dst long"
    )
    got = {r["node"]: r for r in gr.hits_scores(edges, iters=1).collect()}
    assert {n: r["authority"] for n, r in got.items()} == {0: 0, 1: 2, 2: 0, 3: 1}
    # hubs: 0 and 2 point at authority-2 node 1 → h=2; 1 points at 3 → h=1
    assert {n: r["hub"] for n, r in got.items()} == {0: 2, 1: 1, 2: 2, 3: 0}


def test_hits_two_rounds_exact_integers(spark):
    # same graph, round 2 recomputed by hand:
    # a2(v) = Σ_{u->v} h1(u): a2(1) = h1(0)+h1(2) = 4; a2(3) = h1(1) = 1
    # h2(u) = Σ_{u->v} a2(v): h2(0)=h2(2)=4, h2(1)=1
    edges = spark.createDataFrame(
        [(0, 1), (2, 1), (1, 3)], "src long, dst long"
    )
    got = {r["node"]: r for r in gr.hits_scores(edges, iters=2).collect()}
    assert {n: r["authority"] for n, r in got.items()} == {0: 0, 1: 4, 2: 0, 3: 1}
    assert {n: r["hub"] for n, r in got.items()} == {0: 4, 1: 1, 2: 4, 3: 0}


def test_hits_parallel_edges_collapse_and_validation(spark):
    import pytest

    edges = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 1)], "src long, dst long"
    )
    got = {r["node"]: r for r in gr.hits_scores(edges, iters=1).collect()}
    assert got[1]["authority"] == 1  # not 3: duplicates collapse
    with pytest.raises(ValueError):
        gr.hits_scores(edges, iters=0)


def test_hits_rankings_match_normalized_reference(spark):
    # unnormalized integer HITS must rank like the classic normalized
    # power iteration (normalization is a positive scalar per round)
    import numpy as np

    rng = np.random.RandomState(7)
    n = 12
    pairs = sorted({(int(a), int(b)) for a, b in rng.randint(0, n, (40, 2)) if a != b})
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = gr.hits_scores(edges, iters=3).collect()
    a_spark = {r["node"]: r["authority"] for r in got}
    h_spark = {r["node"]: r["hub"] for r in got}
    adj = np.zeros((n, n))
    for a, b in pairs:
        adj[a, b] = 1.0
    h = np.ones(n)
    for _ in range(3):
        a = adj.T @ h
        h = adj @ a
    nodes = sorted(a_spark)
    rank = lambda d: np.argsort([d[v] for v in nodes], kind="stable")
    assert list(rank(a_spark)) == list(rank({v: a[v] for v in nodes}))
    assert list(rank(h_spark)) == list(rank({v: h[v] for v in nodes}))


# --- k_truss ----------------------------------------------------------------


def test_k_truss_clique_survives_pendant_peels(spark):
    # K4 + pendant triangle chain: K4 edges each sit in 2 triangles
    # (4-truss); the tail triangle's edges sit in 1 and cascade out
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    tail = [(3, 10), (3, 11), (10, 11)]
    df = spark.createDataFrame(k4 + tail, "src long, dst long")
    got = {(r["a"], r["b"]): r["support"] for r in gr.k_truss(df, k=4).collect()}
    assert set(got) == set(k4)
    assert all(s == 2 for s in got.values())
    # k=3 keeps everything (every edge here is in >= 1 triangle)
    assert gr.k_truss(df, k=3).count() == 9


def test_k_truss_cascade_multiple_rounds(spark):
    # chain of triangles sharing single edges: 0-1-2, 2-3-4(share node
    # only)... build a "fan" where deleting outer edges starves inner:
    # triangle A(0,1,2) + triangle B(1,2,3): edge (1,2) has support 2,
    # others 1. k=4 (need>=2): first round deletes all support-1 edges,
    # second round (1,2) loses its triangles -> empty
    edges = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert gr.k_truss(df, k=4).count() == 0
    got = {(r["a"], r["b"]) for r in gr.k_truss(df, k=3).collect()}
    assert got == set(edges)  # every edge in >= 1 triangle


def test_k_truss_validation(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        gr.k_truss(df, k=2)
    with pytest.raises(ValueError):
        gr.k_truss(df, k=3, max_rounds=0)


# --- reciprocity -------------------------------------------------------------


def test_reciprocity_hand_graph(spark):
    # 0->1 and 1->0 reciprocal; 0->2 not; self-loop 3->3 dropped
    df = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (3, 3)], "src long, dst long"
    )
    [r] = gr.reciprocity(df).collect()
    assert (r["n_edges"], r["n_reciprocal"]) == (3, 2)
    assert r["reciprocity_micro"] == 2_000_000 // 3


def test_reciprocity_fully_reciprocal(spark):
    df = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    [r] = gr.reciprocity(df).collect()
    assert r["reciprocity_micro"] == 1_000_000


# --- counted_checkpoint and the loops built on it ------------------------


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_counted_checkpoint_matches_count_and_conditional_sum(spark):
    df = spark.range(200).select((F.col("id") % 13).alias("s")).repartition("s")
    cp, n = gr.counted_checkpoint(df, F.count(F.lit(1)))
    assert n == df.count() == cp.count() == 200
    _, n_small = gr.counted_checkpoint(df, F.sum((F.col("s") < 5).cast("long")))
    assert n_small == df.filter(F.col("s") < 5).count()
    assert sorted(r["s"] for r in cp.collect()) == sorted(r["s"] for r in df.collect())


def test_counted_checkpoint_empty_frame_reads_zero(spark):
    empty = spark.createDataFrame([], "s long")
    for agg in (F.count(F.lit(1)), F.sum("s"), F.count_if(F.col("s") > 0)):
        cp, n = gr.counted_checkpoint(empty, agg)
        assert n == 0 and n is not None
        assert cp.count() == 0


def test_counted_checkpoint_runs_no_extra_job(spark):
    df = (
        spark.range(500)
        .select((F.col("id") % 37).alias("s"), (F.col("id") % 11).alias("d"))
        .repartition("s")
        .distinct()
    )
    _, bare = _jobs_in_group(spark, "cc-bare", lambda: df.localCheckpoint(eager=True))
    (_, n), counted = _jobs_in_group(
        spark, "cc-counted", lambda: gr.counted_checkpoint(df, F.count(F.lit(1)))
    )
    assert n == 407
    assert bare >= 1
    assert counted == bare


def _py_components(edges):
    """node -> smallest node id in its connected component."""
    comp = {}
    for s, d in edges:
        comp.setdefault(s, s)
        comp.setdefault(d, d)
    changed = True
    while changed:
        changed = False
        for s, d in edges:
            low = min(comp[s], comp[d])
            if comp[s] != low or comp[d] != low:
                comp[s] = comp[d] = low
                changed = True
    return comp


def test_loops_invariant_to_partition_count_without_aqe(spark):
    import random

    from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd

    rng = random.Random(3)
    edges = [(rng.randrange(14), rng.randrange(14)) for _ in range(40)]
    edges += [(i, i + 1) for i in range(20, 40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    pairs = df.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))

    def run():
        return (
            sorted(tuple(r) for r in gr.k_core(df, k=2).collect()),
            sorted(tuple(r) for r in gr.label_propagation(df, rounds=3).collect()),
            sorted(tuple(r) for r in dd.connected_components(pairs).collect()),
        )

    conf = spark.conf
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: conf.get(k) for k in keys}
    got = {}
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        for parts in (1, 7):
            conf.set("spark.sql.shuffle.partitions", str(parts))
            got[parts] = run()
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    assert got[1] == got[7]
    core, labels, comps = got[1]
    assert dict(core) == _py_k_core(edges, 2)
    assert dict(labels) == _py_lpa(edges, 3)
    assert dict(comps) == _py_components(edges)


def _py_k_core(edges, k):
    """Reference peeling over the undirected simple graph."""
    nbrs: dict[int, set] = {}
    for s, d in edges:
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    while True:
        low = {n for n, ns in nbrs.items() if len(ns) < k}
        if not low:
            return {n: len(ns) for n, ns in nbrs.items()}
        nbrs = {n: ns - low for n, ns in nbrs.items() if n not in low}
        nbrs = {n: ns for n, ns in nbrs.items() if ns}


def test_k_core_asymmetric_degrees_column_swap_invariant(spark):
    """Each undirected edge is listed once, oriented so that out- and
    in-degrees differ wildly (a hub that only emits, leaves that only
    receive). k_core relabels the d-side semi-join's output as the next
    round's s, which is only sound because the edge set is symmetric:
    the core must match the reference and not depend on which column
    holds which endpoint."""
    hub = [(0, i) for i in range(1, 9)]
    ring = [(i, i % 8 + 1) for i in range(1, 9)]
    chords = [(1, 5), (2, 6), (3, 7)]
    tail = [(20, 8), (21, 20), (21, 8)]
    edges = hub + ring + chords + tail + [(5, 1), (4, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    swapped = df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    for k in (1, 3, 4):
        want = _py_k_core(edges, k)
        got = {r["node"]: r["degree"] for r in gr.k_core(df, k=k).collect()}
        assert got == want, k
        got_swapped = {r["node"]: r["degree"] for r in gr.k_core(swapped, k=k).collect()}
        assert got_swapped == want, k
    assert _py_k_core(edges, 3) and not _py_k_core(edges, 4)


def _empty_cases():
    from hdinsight_pyspark_cntk_integration_spark.operators import dedup as dd

    return {
        "bfs_hops": (lambda e: gr.bfs_hops(e, 0, 2), "node bigint, hop int", [(0, 0)]),
        "bfs_hops_directed": (
            lambda e: gr.bfs_hops(e, 0, 2, symmetric=False), "node bigint, hop int", [(0, 0)]
        ),
        "k_core": (lambda e: gr.k_core(e, 2), "node bigint, degree bigint", []),
        "label_propagation": (
            lambda e: gr.label_propagation(e, 2), "node bigint, label bigint", []
        ),
        "harmonic_centrality": (
            lambda e: gr.harmonic_centrality(e, 2),
            "node bigint, n_reached bigint, harmonic_micro bigint",
            [],
        ),
        "assortativity": (
            gr.assortativity, "n_nodes bigint, n_edges bigint, r_micro bigint", []
        ),
        "triangle_count": (
            gr.triangle_count,
            "n_nodes bigint, n_edges bigint, n_triangles bigint",
            [(0, 0, 0)],
        ),
        "adamic_adar": (
            gr.adamic_adar, "a bigint, b bigint, n_common bigint, aa_micro bigint", []
        ),
        "jaccard_neighbors": (
            gr.jaccard_neighbors,
            "a bigint, b bigint, n_common bigint, deg_a bigint, deg_b bigint,"
            " jaccard_micro bigint",
            [],
        ),
        "k_truss": (gr.k_truss, "a bigint, b bigint, support bigint", []),
        "sssp_weighted": (
            lambda e: gr.sssp_weighted(e.withColumn("weight", F.lit(1).cast("long")), [0], 2),
            "node bigint, dist bigint",
            [(0, 0)],
        ),
        "connected_components": (
            lambda e: dd.connected_components(e, id_a="src", id_b="dst"),
            "node bigint, component bigint",
            [],
        ),
    }


@pytest.mark.parametrize("name", sorted(_empty_cases()))
def test_rewritten_loops_on_empty_edges(spark, name):
    """Every operator on the shared edge build / BFS loop / counted
    checkpoint returns defined rows on an empty edge frame (an observed
    aggregate over zero rows is NULL, and must read as 0)."""
    from pyspark.sql.types import _parse_datatype_string

    fn, schema, rows = _empty_cases()[name]
    out = fn(spark.createDataFrame([], "src long, dst long"))
    assert out.schema.simpleString() == _parse_datatype_string(schema).simpleString()
    assert sorted(tuple(r) for r in out.collect()) == rows


def test_k_core_then_classifier_in_one_session(spark):
    """k_core touches the session's Observation machinery; a classifier
    scored afterwards in the same session (the engine's mapInArrow
    scorer with the stub model) must still serialize its closure and
    predict exactly the NumPy argmax."""
    import numpy as np

    from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel
    from hdinsight_pyspark_cntk_integration_spark.operators import scoring as sc

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    core = gr.k_core(spark.createDataFrame(clique, "src long, dst long"), k=3)
    assert core.count() == 4

    rng = np.random.default_rng(5)
    x = rng.normal(0, 1, size=(120, 4)).astype(np.float32)
    y = (x[:, 0] > 0).astype(int)
    df = spark.createDataFrame(
        [(i, x[i].tolist(), int(y[i])) for i in range(len(y))],
        "id long, embedding array<float>, label int",
    )
    scored = sc.score(
        df, sc.make_linear_stub_loader(4, 2), "embedding", pass_through=["id", "label"]
    )
    want = (x.astype(np.float64) @ sc.linear_stub_weights(4, 2).T).argmax(axis=1)
    got = {r["id"]: r["predicted_label"] for r in scored.collect()}
    assert got == {i: int(want[i]) for i in range(len(y))}
    acc = rel.accuracy(scored, "label", "predicted_label").collect()[0]
    assert acc["num_total"] == 120
    assert acc["num_correct"] == int((want == y).sum())
