"""Graph operators over edge-list DataFrames (SURVEY.md §2.7 iterative-
algorithm family, alongside ``dedup.connected_components``).

PageRank here is deliberately INTEGER PageRank: ranks live in micro-units
(1.0 == 1_000_000) and every per-edge contribution is an integer floor
division in DECIMAL(38,0), so the fixpoint sweep is exact, order-
independent, and bit-reproducible in any ANSI engine — the DuckDB oracle
unrolls the same sweeps as CTEs and hash-matches row-for-row. That is
the same cross-engine-determinism discipline the text scores use
(quantize the inexact operation once, keep everything downstream exact),
applied to an iterative algorithm: float PageRank sums in partition
order and its gate would be rows-only; integer PageRank is provable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_MICRO = 1_000_000


def counted_checkpoint(df: DataFrame, agg: Column) -> tuple[DataFrame, int]:
    """Eager ``localCheckpoint`` of ``df`` plus one aggregate over its
    rows, read through ``df.observe``: the value arrives with the
    checkpoint's own jobs, so a fixpoint loop's convergence check costs
    no extra blocking job per round. An aggregate over zero rows (a
    ``sum``, say) observes NULL; it reads as 0."""
    obs = Observation()
    cp = df.observe(obs, agg.alias("value")).localCheckpoint(eager=True)
    return cp, obs.get["value"] or 0


def symmetric_edges(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Both directed copies (s, d) of every (a, b) edge, de-duplicated
    and eagerly checkpointed, hash-partitioned on s. Callers that drop
    self-loops filter ``a != b`` first (which also drops NULL
    endpoints)."""
    # ONE explode emits both directions from a single evaluation of the
    # upstream plan; a two-branch union would derive it twice. The
    # frame is repartitioned on s BEFORE the distinct: hash(s) clusters
    # every (s, d) duplicate, so the distinct runs exchange-free and
    # the one-time layout costs one edge exchange, not two. The
    # checkpoint keeps the hash(s) layout, so every per-round join or
    # groupBy on s moves only the node-sized frame, never the edges;
    # by symmetry, a join on s grouped by d equals one on d grouped by s.
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("s"), F.col(b).alias("d")),
                    F.struct(F.col(b).alias("s"), F.col(a).alias("d")),
                )
            ).alias("__p")
        )
        .select("__p.s", "__p.d")
        .repartition("s")
        .distinct()
        .localCheckpoint(eager=True)
    )


def _undirected_pairs(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """One lazy (a, b) row per undirected edge, a < b: reversed and
    duplicate copies collapse, self-loops and NULL endpoints drop."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(
            (F.col("a") != F.col("b")) & F.col("a").isNotNull() & F.col("b").isNotNull()
        )
        .distinct()
    )


def _bfs_rounds(
    e: DataFrame, reached: DataFrame, max_hops: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Frontier BFS over the s-partitioned edge frame ``e``: ``reached``
    holds (*keys, node, hop) and grows by one hop per round. Each round
    joins only the FRONTIER (rows at hop i−1) to the edges on s, then a
    min-hop partial-agg per (*keys, node); ``localCheckpoint`` keeps
    round plans constant-size."""
    for i in range(1, max_hops + 1):
        frontier = reached.filter(F.col("hop") == i - 1).select(
            *keys, F.col("node").alias("s")
        )
        nxt = frontier.join(e, "s").select(
            *keys, F.col("d").alias("node"), F.lit(i).cast("int").alias("hop")
        )
        reached = (
            reached.unionByName(nxt)
            .groupBy(*keys, "node")
            .agg(F.min("hop").alias("hop"))
            .localCheckpoint(eager=True)
        )
    return reached


def pagerank_integer(
    edges: DataFrame,
    iters: int = 3,
    damping_ppm: int = 850_000,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Weighted PageRank, ``iters`` synchronous sweeps, in exact integer
    micro-units: r'(t) = (1e6 - damping_ppm) + damping_ppm·Σ_{s→t}
    ⌊r(s)·w/out_w(s)⌋ ÷ 1e6 (all ⌊⌋ = DECIMAL(38,0) integer division —
    overflow-free for any rank×weight magnitude).

    Scale shape: per sweep, ONE join of the edge list against the
    |nodes|-row rank frame on src (both hash-partitioned on the same
    key; broadcast the rank frame when |nodes| is small) and ONE
    partial-agg shuffle of contributions on dst. The edge list is the
    only big input and it is scanned once per sweep — the classic
    edge-partitioned PageRank layout. Floor division leaks ≤1 micro per
    edge of mass and dangling nodes (no out-edges) leak their damped
    mass entirely; both are deterministic and documented, matching the
    fixed-iteration "approximate but exact-arithmetic" contract.

    Returns (node, rank_micro BIGINT) for every node that appears as a
    source or destination.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1 (got {iters})")
    if not 0 <= damping_ppm <= _MICRO:
        raise ValueError(f"damping_ppm must be in [0, 1e6] (got {damping_ppm})")
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"), F.col(weight).alias("__w")
    )
    # Optimization r14: materialize the two loop-invariant frames. The
    # node table and the out-weight-annotated edge list were re-derived
    # EVERY sweep (nodes: union+distinct over the edges, iters+1 times;
    # ew: edge scan + out-weight aggregate + join, iters times). The
    # adjacency structure is what every iterative graph engine pins
    # down once; per sweep the plan now only shuffles the |nodes|-row
    # rank frame and the dst-keyed contributions — and the checkpointed
    # ew keeps its hash(__src) partitioning, so the per-sweep rank join
    # moves ranks only, never the edge list.
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outw = e.groupBy("__src").agg(F.sum("__w").cast("long").alias("__out_w"))
    ew = e.join(outw, "__src").localCheckpoint(eager=True)
    base = _MICRO - damping_ppm
    dec = "decimal(38,0)"
    ranks = nodes.select("node", F.lit(_MICRO).cast("long").alias("rank_micro"))
    for _ in range(iters):
        contribs = ew.join(
            ranks.withColumnRenamed("node", "__src"), "__src"
        ).select(
            F.col("__dst").alias("node"),
            F.expr(
                f"CAST((CAST(rank_micro AS {dec}) * CAST(__w AS {dec}))"
                f" DIV CAST(__out_w AS {dec}) AS BIGINT)"
            ).alias("__c"),
        )
        summed = contribs.groupBy("node").agg(F.sum("__c").cast("long").alias("__s"))
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"CAST((CAST({damping_ppm} AS {dec})"
                    f" * CAST(COALESCE(__s, 0) AS {dec})) DIV {_MICRO} AS BIGINT)"
                )
            ).cast("long").alias("rank_micro"),
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distributed triangle counting with degree-ordered edge
    orientation — the classic bound that makes the wedge join tractable
    at scale: orienting every undirected edge from its lower-(degree,id)
    endpoint to the higher one caps every node's out-degree at
    O(sqrt(m)) regardless of skew (a hub of degree d only FANS OUT to
    neighbors of even higher degree, of which there are at most ~sqrt m),
    so the wedge self-join is Σ out-deg² ≤ m^{3/2}, never the Σ deg² a
    naive neighbor join pays on power-law graphs.

    Input: undirected edge list (self-loops dropped, duplicate and
    reversed copies collapsed). Returns one row (n_nodes, n_edges,
    n_triangles) — the count is orientation-invariant, so the oracle's
    id-ordered brute-force 3-way join must agree exactly.

    Plan: degree groupBy (one shuffle) → orientation projection → wedge
    self-join on the apex (one shuffle on u) → closure semi-join of
    wedges against the oriented edge set (one shuffle) → global count.
    """
    e = _undirected_pairs(edges, src, dst)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
        .select(
            "a", "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    lower_first = F.col("ka") < F.col("kb")
    oriented = keyed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("kb")).otherwise(F.col("ka")).alias("kv"),
    )
    x = oriented.select(
        F.col("u"), F.col("v").alias("p"), F.col("kv").alias("kp")
    )
    y = oriented.select(
        F.col("u"), F.col("v").alias("q"), F.col("kv").alias("kq")
    )
    wedges = x.join(y, "u").filter(F.col("kp") < F.col("kq")).select("p", "q")
    # inner join (not semi): a wedge closes into exactly one triangle per
    # matching oriented edge, and each triangle is generated exactly once
    # (its apex is its unique minimum-(deg,id) vertex)
    closed = wedges.join(
        oriented.select(F.col("u").alias("p"), F.col("v").alias("q")),
        ["p", "q"],
    )
    # single lazy plan: three 1-row aggregates cross-joined (no driver
    # actions, no recomputation policy imposed on the caller)
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


def bfs_hops(
    edges: DataFrame,
    source: int,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    symmetric: bool = True,
) -> DataFrame:
    """Bounded-hop BFS: minimum hop distance from ``source`` to every
    node reachable within ``max_hops`` (frontier expansion with min-hop
    merge — the k-hop-neighborhood primitive behind supply-chain
    proximity, fraud rings, and graph feature generation).

    All-integer state (node id, hop), so unlike float graph algorithms
    the fixpoint is exact and partition-invariant — an ANSI oracle can
    unroll the rounds as CTEs and hash-match (same discipline as
    pagerank_integer above).

    Shape per round (the frontier loop shared with
    ``harmonic_centrality``): one join of the FRONTIER (only rows at
    hop i−1, never the whole reached set) against the s-partitioned
    edge list, then a min-hop partial-agg groupBy. ``localCheckpoint``
    after each round truncates lineage so round plans stay
    constant-size. Rounds = max_hops (a constant), frontier ≤ |V|; the
    edge list is the only big side and it is laid out on its join key
    once, so per round only the frontier moves.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1 (got {max_hops})")
    e = edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
    if symmetric:
        e = symmetric_edges(e, "s", "d")
    else:
        # the symmetric_edges layout, one direction only
        e = e.repartition("s").distinct().localCheckpoint(eager=True)
    reached = edges.sparkSession.createDataFrame([(int(source), 0)], "node bigint, hop int")
    return _bfs_rounds(e, reached, max_hops)


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling: the maximal subgraph
    in which every node has degree >= k — the standard graph-density
    filter (spam/link-farm pruning, community seeding) that a one-shot
    degree cut gets wrong, because removing a low-degree node can drag
    its neighbors below k (the cascade IS the algorithm).

    Input is taken as an undirected simple graph (both directions
    materialized, self-loops and duplicate edges dropped). Each round:
    one partial-agg degree count, one degree cut, two semi-joins to
    drop edges touching peeled nodes — all hash-partitioned on node id,
    no broadcast of anything corpus-sized. Rounds are data-bounded
    (degeneracy cascades, usually a handful); the loop stops the first
    round nothing peels and raises if ``max_iters`` exhausts with the
    cascade still running. Every node of the edge frame has degree
    >= 1, so "nothing peeled" is exactly "the surviving edge count did
    not change"; that count is observed by the round's own
    ``localCheckpoint`` job (:func:`counted_checkpoint`), so the
    convergence check runs no extra job. Returns (node, degree) of the
    surviving core subgraph.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1 (got {max_iters})")
    cur = symmetric_edges(edges.filter(F.col(src) != F.col(dst)), src, dst)
    n_cur = cur.count()
    for _ in range(max_iters):
        deg = cur.groupBy(F.col("s").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("degree")
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        # The edge set stays symmetric (an edge survives iff BOTH ends
        # are kept), so the d-side semi-join's output, partitioned by
        # d, is relabeled by swapping the columns: the same set, already
        # partitioned by the new s, for the next round's groupBy and
        # s-side semi-join.
        nxt, n_nxt = counted_checkpoint(
            cur.join(keep, cur.s == keep.node, "left_semi")
            .join(keep.withColumnRenamed("node", "node2"), cur.d == F.col("node2"), "left_semi")
            .select(F.col("d").alias("s"), F.col("s").alias("d")),
            F.count(F.lit(1)),
        )
        if n_nxt == n_cur:
            return deg
        if n_nxt == 0:
            return deg.filter(F.lit(False))
        cur, n_cur = nxt, n_nxt
    raise RuntimeError(f"k_core did not converge within {max_iters} rounds")


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007, deterministic variant): every node starts labeled with its
    own id; each round, every node adopts the most frequent label among
    its neighbors, ties broken by the SMALLEST label — the update is
    simultaneous (computed from the previous round's labels), so the
    result is a pure function of (graph, rounds) with no traversal-order
    or RNG dependence, and an ANSI oracle can unroll the rounds as CTEs
    the way the k-core oracle unrolls peeling.

    Input is taken as an undirected simple graph (both directions
    materialized, self-loops and duplicate edges dropped); a node whose
    only edges are self-loops drops out with them. Returns (node, label)
    after exactly ``rounds`` rounds.

    Scale shape: per round ONE edge⋈label join hash-partitioned on the
    neighbor id (the edge frame's s; by symmetry each node's neighbor
    labels are the rows grouped by d), one (node, label) partial-agg
    count, and one max_by argmax per node — frontier is the whole node
    set (synchronous LPA converges in O(log n) rounds in practice;
    callers pick ``rounds``). ``localCheckpoint`` per round keeps
    lineage flat. The deterministic min-tie-break also damps the label
    oscillation classic async LPA suffers.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1 (got {rounds})")
    und = symmetric_edges(edges.filter(F.col(src) != F.col(dst)), src, dst)
    labels = und.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(rounds):
        nbr = (
            und.join(labels, und.s == labels.node)
            .select(F.col("d").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # argmax by (count desc, label asc): max_by over an orderable
        # struct — (n, -label) maximized == smallest label among ties
        labels = nbr.groupBy("node").agg(
            F.max_by("label", F.struct(F.col("n"), -F.col("label"))).alias("label")
        ).localCheckpoint(eager=True)
    return labels.select("node", F.col("label").cast("long").alias("label"))


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    exclude_adjacent: bool = True,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected simple graph: for
    each node pair sharing at least one neighbor,

        AA(a,b) = Σ_{z ∈ N(a) ∩ N(b)} 1/ln(deg(z))

    — common neighbors weighted by rarity (sharing an obscure mutual
    contact is evidence; sharing a hub is noise), the classic
    who-will-connect-next score. With ``exclude_adjacent`` (default)
    only NON-edges are scored — the link-prediction frame.

    Exactness: every common neighbor z has deg(z) >= 2 by definition
    (it touches both a and b), so ln(deg) > 0 always; each neighbor's
    term is quantized AT BIRTH to floor(1e6/ln(deg)) — one double
    division per NODE — and AA is then a pure INTEGER sum of
    per-neighbor micro-terms, order-independent under any partitioning
    (summing raw doubles would be partition-order dependent and
    rows-only; this is the pagerank_integer discipline applied to a
    score).

    Scale shape: degree groupBy (one shuffle), wedge self-join of the
    adjacency list on the apex z (one shuffle on z), pair partial-agg
    (one shuffle on the pair), optional anti-join against the edge set.
    The wedge join is Σ deg(z)² — the inherent cost of enumerating
    common neighbors; ``max_degree`` bounds it on power-law graphs by
    dropping hub apexes (deg > max_degree), a LOSSY but standard cap:
    a hub's term 1/ln(deg) is the smallest signal in the sum and the
    cut is deterministic, so the oracle applies the same cut.

    Returns (a, b, n_common, aa_micro) with a < b.
    """
    # e is referenced FIVE times downstream (both adjacency directions,
    # through deg/apex twice each, and the anti-join) and each
    # reference re-derives the whole upstream plan — for a gate graph
    # built from a 4-table join that measured 441 s vs ~3 s
    # materialized at sf0.1. The canonical edge set is the bounded
    # intermediate; localCheckpoint collapses it to one derivation
    # (the theil_sen / repeated_passages_maximal pattern).
    e = _undirected_pairs(edges, src, dst).localCheckpoint(eager=True)
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("x")).unionByName(
        e.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("__deg"))
    if max_degree is not None:
        if max_degree < 2:
            raise ValueError(f"max_degree must be >= 2 (got {max_degree})")
        deg = deg.filter(F.col("__deg") <= max_degree)
    # a degree-1 node has one neighbor and can never be a COMMON
    # neighbor; dropping it here (rather than letting it produce zero
    # wedges anyway) keeps 1/ln(1) = inf out of the term column, where
    # the ANSI floor→long cast would raise
    deg = deg.filter(F.col("__deg") >= 2)
    term = F.floor(
        F.lit(1_000_000.0) / F.log(F.col("__deg").cast("double"))
    ).cast("long")
    apex = adj.join(deg, "z").select("z", "x", term.alias("__t"))
    left = apex.select("z", F.col("x").alias("a"), "__t")
    right = apex.select("z", F.col("x").alias("b"))
    pairs = (
        left.join(right, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("__t").cast("long").alias("aa_micro"),
        )
    )
    if exclude_adjacent:
        pairs = pairs.join(e, ["a", "b"], "left_anti")
    return pairs


def harmonic_centrality(
    edges: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-radius harmonic centrality: H(u) = Σ_{v≠u} 1/d(u,v)
    over nodes within ``max_hops`` — the centrality that stays
    well-defined on DISCONNECTED graphs (unreachable pairs contribute
    0, where closeness centrality's Σd blows up), the standard
    influence/reachability rank for supply-chain and community graphs.

    Exactness: distances are exact integer hops from a synchronous
    multi-source BFS (the ``bfs_hops`` fixpoint run from EVERY node at
    once, state keyed by (source, node)); each pair's term is quantized
    AT BIRTH to floor(1e6/d) — one double division over an integer in
    [1, max_hops], i.e. a small CONSTANT set of possible values — and
    H is then a pure integer sum, order-independent (the
    pagerank_integer/adamic_adar discipline).

    Scale shape (the ``bfs_hops`` frontier loop, keyed by source): per
    round ONE frontier⋈edges join hash-partitioned on the node and one
    min-hop partial-agg on (source, node);
    ``localCheckpoint`` per round keeps lineage flat. State is
    O(Σ |B(u, max_hops)|) pairs — the inherent cost of all-sources
    BFS; ``max_hops`` is the radius bound that keeps it tractable
    (full-graph harmonic centrality at corpus scale wants hop-limited
    approximation anyway).

    Input is taken as an undirected simple graph. Returns
    (node, n_reached, harmonic_micro); isolated-by-filter nodes (only
    self-loops) drop with their edges.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1 (got {max_hops})")
    und = symmetric_edges(edges.filter(F.col(src) != F.col(dst)), src, dst)
    reached = und.select(F.col("s").alias("source")).distinct().select(
        "source", F.col("source").alias("node"), F.lit(0).cast("int").alias("hop")
    ).localCheckpoint(eager=True)
    reached = _bfs_rounds(und, reached, max_hops, keys=("source",))
    term = F.floor(F.lit(1_000_000.0) / F.col("hop").cast("double")).cast("long")
    return (
        reached.filter(F.col("hop") > 0)
        .groupBy(F.col("source").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum(term).cast("long").alias("harmonic_micro"),
        )
    )


def hierarchy_rollup(
    edges: DataFrame,
    values: DataFrame,
    max_depth: int,
    child: str = "child",
    parent: str = "parent",
    node: str = "node",
    value: str = "value",
) -> DataFrame:
    """Bottom-up subtree aggregation over a forest: every node's rollup
    = its own value + the values of ALL descendants within
    ``max_depth`` levels — BOM cost rollup, org headcount, category
    revenue trees; the aggregation a flat GROUP BY cannot express
    because membership is transitive.

    All-integer state (node ids, long values), so the fixpoint is
    exact and partition-invariant — the eighth oracle-provable
    iterative algorithm in the engine (oracle: recursive-CTE
    ancestor closure + one GROUP BY).

    Algorithm: synchronous level accumulation — per round, each node's
    CURRENT accumulated subtree sums push one level up the parent
    edge; after round k every node holds its (<= k)-deep subtree sum.
    Implemented as: acc_0 = own value; round k: contribution_k =
    (depth-k descendants' own values) propagated via ONE edge⋈frontier
    join + one parent-keyed partial agg; localCheckpoint keeps round
    plans flat. A node with no edge row keeps its own value. Cycles
    would double-count — the forest contract (parent per child) is the
    caller's; max_depth bounds the damage AND the rounds.

    Returns (node, own_value, subtree_value, n_descendants).
    """
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1 (got {max_depth})")
    e = edges.select(
        F.col(child).alias("__c"), F.col(parent).alias("__p")
    ).filter(F.col("__c").isNotNull() & F.col("__p").isNotNull())
    # the symmetric_edges layout, keyed on __c: the per-round lift
    # joins on __c, so only the frontier moves per round
    e = e.repartition(F.col("__c")).distinct().localCheckpoint(eager=True)
    base = values.select(
        F.col(node).alias("__n"), F.col(value).cast("long").alias("__v")
    )
    # frontier carries (origin-subtree-root tracking is unnecessary:
    # we only need, per round, the multiset of descendant values one
    # level further down): frontier_k = (ancestor, value, count) rows
    frontier = base.select(
        F.col("__n").alias("__a"),
        F.col("__v").alias("__fv"),
        F.lit(1).cast("long").alias("__fn"),
    )
    total = base.select(
        F.col("__n"), F.col("__v").alias("__own"),
        F.col("__v").alias("__sum"), F.lit(0).cast("long").alias("__nd"),
    )
    for _ in range(max_depth):
        lifted = (
            frontier.join(e, frontier["__a"] == e["__c"])
            .groupBy(F.col("__p").alias("__a"))
            .agg(
                F.sum("__fv").cast("long").alias("__fv"),
                F.sum("__fn").cast("long").alias("__fn"),
            )
            .localCheckpoint(eager=True)
        )
        total = (
            total.join(
                lifted.select(
                    F.col("__a").alias("__n"),
                    F.col("__fv").alias("__lv"),
                    F.col("__fn").alias("__ln"),
                ),
                "__n",
                "left",
            )
            .select(
                "__n", "__own",
                (F.col("__sum") + F.coalesce(F.col("__lv"), F.lit(0)))
                .cast("long").alias("__sum"),
                (F.col("__nd") + F.coalesce(F.col("__ln"), F.lit(0)))
                .cast("long").alias("__nd"),
            )
            .localCheckpoint(eager=True)
        )
        frontier = lifted
    return total.select(
        F.col("__n").alias(node),
        F.col("__own").alias("own_value"),
        F.col("__sum").alias("subtree_value"),
        F.col("__nd").alias("n_descendants"),
    )


def sssp_weighted(
    edges: DataFrame,
    sources: list,
    max_rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Bounded-round Bellman-Ford: cheapest weighted path cost from any
    source to every node reachable within ``max_rounds`` edges — the
    weighted generalization of ``bfs_hops`` (hop counts treat every
    edge as cost 1; real routing/supply questions weight edges by
    cost, latency, or rarity). The ninth oracle-provable iterative
    algorithm: all-integer state (node id, long dist), so after round
    k dist(v) is EXACTLY min cost over paths of <= k edges — an ANSI
    oracle unrolls it as a bounded recursive path closure.

    Directed; negative weights rejected (ANSI-raise), NULL-weight edges
    dropped (a NULL cost would min-collapse the parallel-edge agg to
    NULL and leak NULL dists into the result), parallel edges collapse
    to their cheapest. Per round: the FRONTIER (only nodes
    whose dist improved last round, never the whole reached set) joins
    the edge list on its key, one min-dist partial agg, one merge
    against the running dist table; ``localCheckpoint`` keeps round
    plans flat. Early exit at fixpoint: the improved-row count is
    observed by the frontier's own checkpoint job
    (:func:`counted_checkpoint`), so the check runs no extra job.

    Returns (node, dist).
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1 (got {max_rounds})")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    guard = F.when(
        F.col(weight) < 0,
        F.raise_error(F.lit("sssp_weighted: negative edge weight")),
    ).otherwise(F.col(weight).cast("long"))
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"),
            F.col(dst).cast("long").alias("d"),
            guard.alias("w"),
        )
        .filter(
            F.col("s").isNotNull() & F.col("d").isNotNull() & F.col("w").isNotNull()
        )
        # the symmetric_edges layout: the per-round frontier join keys
        # on s, and the min-weight aggregate runs exchange-free on it
        .repartition(F.col("s"))
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    dist = spark.createDataFrame(
        [(int(n), 0) for n in sources], "node bigint, dist bigint"
    ).groupBy("node").agg(F.min("dist").alias("dist")).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_rounds):
        cand = (
            frontier.join(e, frontier["node"] == e["s"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
        )
        improved, n_improved = counted_checkpoint(
            cand.join(
                dist.select("node", F.col("dist").alias("__old")),
                "node",
                "left",
            )
            .filter(F.col("__old").isNull() | (F.col("dist") < F.col("__old")))
            .select("node", "dist"),
            F.count(F.lit(1)),
        )
        if n_improved == 0:
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist


def assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient of an undirected simple graph
    — Newman's r: the Pearson correlation of degrees across edge ends
    ("do hubs link to hubs?"), positive for social-style graphs,
    negative for hub-and-spoke infrastructure. The single number that
    summarizes the degree-mixing pattern a degree histogram can't.

    Input edges are symmetrized and de-duplicated (self-loops
    dropped); each undirected edge contributes BOTH ordered end-pairs
    (the standard symmetric definition, so r is orientation-free).

    Exactness: degrees are exact integers; the five moments accumulate
    in DECIMAL(38,0) over the ordered-pair stream; r is ONE fixed fp64
    expression, micro-floored. Regular graphs (zero degree variance)
    emit nothing — r is undefined.

    Shape: one degree partial-agg, one node-keyed join of the degrees
    back onto the edge list, one degree-table-sized join, one moments
    aggregate — everything hash-partitioned on node ids, nothing
    broadcast but the final one-row frame.

    Returns one row (n_nodes, n_edges, r_micro) — n_edges counts
    UNDIRECTED edges.
    """
    dec = "decimal(38,0)"
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    )
    und = symmetric_edges(e.filter(F.col("s") != F.col("d")), "s", "d")
    # Symmetric-pair moment identities: over the symmetrized
    # ordered-pair stream, node s appears as source exactly deg(s)
    # times, so Σ_pairs 1 = Σ deg, Σ_pairs deg(s) = Σ deg²,
    # Σ_pairs deg(s)² = Σ deg³, and by symmetry the y-moments equal the
    # x-moments EXACTLY (same decimal sums of the same multiset). Only
    # the cross moment needs the edge list: Σ_pairs deg(s)·deg(d)
    # = Σ_d deg(d)·(Σ_{s∈N(d)} deg(s)) — one join of the degree table
    # onto the s-partitioned edges, grouped by d, plus one
    # degree-table-sized join. The degree table is referenced three
    # ways, so it is checkpointed.
    deg = (
        und.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=True)
    )
    nbr = (
        und.join(deg.select(F.col("node").alias("s"), F.col("deg").alias("__dy")), "s")
        .groupBy(F.col("d").alias("s"))
        .agg(F.sum(F.col("__dy").cast(dec)).cast(dec).alias("__u"))
    )
    cross = (
        nbr.join(deg.select(F.col("node").alias("s"), F.col("deg").alias("__dx")), "s")
        .groupBy()
        .agg(F.sum(F.col("__dx").cast(dec) * F.col("__u")).cast(dec).alias("__sxy"))
    )
    dg = F.col("deg").cast(dec)
    m = (
        deg.groupBy()
        .agg(
            F.sum("deg").cast("long").alias("__np"),
            F.sum(dg * dg).cast(dec).alias("__sx"),
            F.sum(dg * dg).cast(dec).alias("__sy"),
            F.sum(dg * dg * dg).cast(dec).alias("__sxx"),
            F.sum(dg * dg * dg).cast(dec).alias("__syy"),
        )
        .join(F.broadcast(cross))
    )
    counts = deg.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
    )
    n = F.col("__np").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    r = (n * sxy - sx * sy) / F.sqrt(vx * vy)
    return (
        m.join(F.broadcast(counts))
        .filter((vx > 0) & (vy > 0))
        .select(
            "n_nodes", "n_edges",
            F.floor(r * F.lit(1_000_000.0)).cast("long").alias("r_micro"),
        )
    )


def jaccard_neighbors(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    exclude_adjacent: bool = True,
    max_degree: int | None = None,
) -> DataFrame:
    """Jaccard neighborhood-similarity link prediction over an
    undirected simple graph: for each node pair sharing >= 1 neighbor,

        J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|
               = common / (deg(a) + deg(b) − common)

    — the normalized companion to ``adamic_adar`` (graph.py:349): AA
    weighs HOW RARE the shared contacts are, Jaccard asks WHAT
    FRACTION of the combined circles overlaps, so small tightly-knit
    pairs outrank hub-adjacent ones. ``exclude_adjacent`` (default)
    keeps only non-edges — the link-prediction frame.

    Exactness: ALL-integer — common/degree counts are exact and
    jaccard_micro = (common·1e6) div (deg_a + deg_b − common) is
    integer floor-division end to end, overflow-free at any graph
    size worth enumerating wedges on.

    Scale shape (shared with adamic_adar): degree groupBy, wedge
    self-join on the apex (Σ deg(z)² — the inherent common-neighbor
    cost; ``max_degree`` caps hub apexes, a lossy-but-deterministic
    standard cut the oracle applies identically), pair partial-agg,
    two degree joins, optional anti-join against the edge set.

    Returns (a, b, n_common, deg_a, deg_b, jaccard_micro), a < b.
    """
    e = _undirected_pairs(edges, src, dst).localCheckpoint(eager=True)
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("x")).unionByName(
        e.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    # TRUE degrees for the union denominator — computed BEFORE any
    # apex cap, or the Jaccard denominator would silently shrink
    deg_all = adj.groupBy(F.col("z").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("__deg")
    )
    apex_deg = deg_all
    if max_degree is not None:
        if max_degree < 2:
            raise ValueError(f"max_degree must be >= 2 (got {max_degree})")
        apex_deg = apex_deg.filter(F.col("__deg") <= max_degree)
    # a degree-1 node can never be a COMMON neighbor
    apex_deg = apex_deg.filter(F.col("__deg") >= 2)
    apex = adj.join(
        apex_deg.select(F.col("node").alias("z")), "z", "left_semi"
    )
    left = apex.select("z", F.col("x").alias("a"))
    right = apex.select("z", F.col("x").alias("b"))
    pairs = (
        left.join(right, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    if exclude_adjacent:
        pairs = pairs.join(e, ["a", "b"], "left_anti")
    out = (
        pairs.join(
            deg_all.select(F.col("node").alias("a"), F.col("__deg").alias("deg_a")),
            "a",
        )
        .join(
            deg_all.select(F.col("node").alias("b"), F.col("__deg").alias("deg_b")),
            "b",
        )
    )
    return out.select(
        "a", "b", "n_common", "deg_a", "deg_b",
        F.expr(
            "(n_common * 1000000L) div (deg_a + deg_b - n_common)"
        ).cast("long").alias("jaccard_micro"),
    )


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """Bounded-round UNNORMALIZED HITS (Kleinberg 1999): hub and
    authority scores after ``iters`` mutual-reinforcement rounds —

        a⁽ᵗ⁾(v) = Σ_{u→v} h⁽ᵗ⁻¹⁾(u),   h⁽ᵗ⁾(u) = Σ_{u→v} a⁽ᵗ⁾(v)

    from h⁽⁰⁾ = 1. The tenth oracle-provable iterative algorithm:
    skipping the per-round normalization keeps every score an EXACT
    INTEGER (the normalized ranking is identical — normalization is a
    positive scalar per round), so after k rounds a(v) counts the
    directed paths of the corresponding alternating length and an ANSI
    oracle unrolls the recurrence as k CTE pairs. Spark 4 ANSI mode
    turns overflow into a loud error, never a silent wrap; scores are
    bounded by n·max_outdeg^(2k), so small ``iters`` (the useful
    regime — rankings stabilize in a few rounds) is safe far beyond
    fixture scale.

    Directed; parallel edges collapse; self-loops kept (they are
    hub-authority self-reinforcement, as in the paper's adjacency
    formulation). Nodes appearing only as sources have authority 0;
    only as destinations, hub 0.

    Per round: two key-partitioned partial-agg shuffles (join edges to
    the current score on one endpoint, groupBy the other) — never a
    collect; ``localCheckpoint`` keeps round plans flat.

    Returns (node, hub, authority) for every node in the edge set.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1 (got {iters})")
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Optimization r14: HITS alternates join keys (s for the authority
    # sweep, d for the hub sweep), so ONE edge layout cannot serve both
    # — materialize the classic CSR/CSC pair once (two shuffles, paid
    # once) and every sweep thereafter moves only the |nodes|-row score
    # frame instead of re-shuffling the edge list.
    es = e.repartition(F.col("s")).localCheckpoint(eager=True)
    ed = e.repartition(F.col("d")).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.select("node", F.lit(1).cast("long").alias("h"))
    auth = None
    for _ in range(iters):
        auth = (
            es.join(hub.select(F.col("node").alias("s"), "h"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("h").cast("long").alias("a"))
            .localCheckpoint(eager=True)
        )
        hub = (
            ed.join(auth.select(F.col("node").alias("d"), "a"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("a").cast("long").alias("h"))
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("authority"),
        )
    )


def k_truss(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 20,
) -> DataFrame:
    """k-truss decomposition (bounded-round): the maximal subgraph in
    which every edge participates in >= k−2 triangles — the EDGE
    analogue of :func:`k_core` (cores cut low-degree NODES; trusses cut
    weakly-embedded EDGES, a strictly stronger cohesion filter that
    k-core misses: a hub-and-spoke star survives any k-core's degree
    count but has zero triangles). The eleventh oracle-provable
    iterative algorithm: state is the surviving edge SET (exact), each
    round recounts per-edge triangle support with the same
    degree-ordered wedge join as :func:`triangle_count` and deletes
    under-supported edges; deletions cascade (removing one edge can
    starve another), so the loop runs to fixpoint with an early-exit
    count per round — O(rounds) bounded by ``max_rounds`` with a loud
    RuntimeError on exhaustion, never a silent partial truss. The
    surviving-edge count is observed by the round's own checkpoint job
    (:func:`counted_checkpoint`), so the check runs no extra job.

    Input undirected (dups/reversed collapse, self-loops drop).
    Support counting per round: orient each edge low→high by id (the
    wedge apex enumerates its 2-paths once), count closures against
    the surviving edge set, then credit each triangle to ALL THREE of
    its edges via one explode — Σ support = 3·triangles exactly.

    Returns the surviving (a, b, support) with a < b.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3 (got {k})")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1 (got {max_rounds})")
    cur, n_cur = counted_checkpoint(_undirected_pairs(edges, "src", "dst"), F.count(F.lit(1)))
    need = k - 2
    for _ in range(max_rounds):
        x = cur.select(F.col("a").alias("u"), F.col("b").alias("p"))
        y = cur.select(F.col("a").alias("u"), F.col("b").alias("q"))
        wedges = x.join(y, "u").filter(F.col("p") < F.col("q"))
        tris = wedges.join(
            cur.select(F.col("a").alias("p"), F.col("b").alias("q")), ["p", "q"]
        )
        # credit each triangle (u<p<q) to its three edges
        edge_hits = tris.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("p").alias("b")),
                    F.struct(F.col("u").alias("a"), F.col("q").alias("b")),
                    F.struct(F.col("p").alias("a"), F.col("q").alias("b")),
                )
            ).alias("e")
        ).select("e.a", "e.b")
        support = edge_hits.groupBy("a", "b").agg(
            F.count(F.lit(1)).cast("long").alias("support")
        )
        kept, n_kept = counted_checkpoint(
            cur.join(support, ["a", "b"], "left")
            .select(
                "a", "b",
                F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
            )
            .filter(F.col("support") >= need),
            F.count(F.lit(1)),
        )
        if n_kept in (n_cur, 0):
            return kept
        # the projection is free on top of kept's checkpoint
        cur, n_cur = kept.select("a", "b"), n_kept
    raise RuntimeError(
        f"k_truss did not converge within {max_rounds} rounds"
    )


def reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity: the fraction of directed edges whose
    reverse also exists — the one-number mutuality profile (trade
    graphs: does nation A supplying B imply B supplies A?). ALL-integer
    (edge counts + one micro floor-division); one distinct, one
    self-join on the reversed key, two count aggregates.

    Returns one row (n_edges, n_reciprocal, reciprocity_micro) —
    self-loops are dropped (trivially reciprocal).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rec = e.join(
        e.select(F.col("d").alias("s"), F.col("s").alias("d")), ["s", "d"], "left_semi"
    )
    n = e.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    r = rec.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_reciprocal"))
    return n.crossJoin(r).select(
        "n_edges", "n_reciprocal",
        F.expr(
            "CAST((CAST(n_reciprocal AS DECIMAL(38,0)) * 1000000)"
            " DIV n_edges AS BIGINT)"
        ).alias("reciprocity_micro"),
    )
