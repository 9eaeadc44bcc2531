"""Distributed graph operators over an edge DataFrame.

Ranking (``pagerank``, ``hits``), local structure (``triangle_count``,
``clustering_coefficient``, ``degree_assortativity``, ``kcore``),
reachability (``bfs_hops``, ``shortest_paths``), communities
(``label_propagation``) and ``link_prediction``; connected components
live in ``ops/components.py``. No reference-repo analogue — the
reference has no graph plane.

Every operator is value-verifiable against a SQL replay: float scores
are accumulated from per-edge contributions ROUNDED to 12 places and
summed as DECIMAL(28,12) (exact, order-independent), then finished by
one fixed IEEE expression; counts, hops and weights are exact integers.

The iterative operators (and both components variants) run their rounds
through one loop, ``iterate``, which owns the round budget, the
convergence test and the lineage policy; each operator supplies only its
step and what an exhausted budget means.

At 100 TB: per-round cost is O(|E|) shuffle bytes of node-keyed pairs,
round state is O(|V|); every shuffle is a keyed hash shuffle AQE can
size, and hub skew is aggregation skew map-side partials absorb.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iterate(state, step, rounds, done=None):
    """Run ``step`` for up to ``rounds`` rounds; returns ``(state,
    converged)``.

    ``state`` is a DataFrame or a tuple of DataFrames and plain values;
    ``step(state)`` builds the next state lazily. ``done(prev, nxt)``
    ends the loop early and is the only way to get ``converged=True``,
    so each caller decides what an exhausted budget means: raise, fall
    back, or return the bounded-horizon answer.

    The lineage policy, for every round of every operator: each
    DataFrame the step built is cut with an eager ``localCheckpoint``
    before ``done`` reads it; a frame the step passes through unchanged
    is already cut. Left lazy, round r's plan nests every earlier round
    (analysis time grows quadratically, deep runs hit driver stack
    limits) and a state referenced twice per round re-derives its whole
    history per reference. The cut only truncates the plan, so it is
    value-invisible. localCheckpoint, not persist: a checkpointed plan
    is never substituted into unrelated queries by the cache manager. A
    step checkpoints a mid-step frame itself only when the step
    references that frame twice."""
    def cut(new, old):
        if not isinstance(new, DataFrame) or any(new is o for o in old):
            return new
        return new.localCheckpoint(eager=True)

    for _ in range(rounds):
        prev = state if isinstance(state, tuple) else (state,)
        nxt = step(state)
        nxt = tuple(cut(x, prev) for x in nxt) if isinstance(nxt, tuple) else cut(nxt, prev)
        if done is not None and done(state, nxt):
            return nxt, True
        state = nxt
    return state, False


def unchanged_count(first: int):
    """A ``done`` test for shrinking states: the round removed no row.
    Each state is counted once — round r's count is round r+1's
    baseline; ``first`` is the starting state's count."""
    sizes = [first]

    def done(prev: DataFrame, nxt: DataFrame) -> bool:
        sizes.append(nxt.count())
        return sizes[-1] == sizes[-2]

    return done


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """(a, b) with a < b: direction ignored, self-loops dropped, parallel
    edges collapsed. Cut once — every caller references it several times,
    and left lazy each reference re-derives the caller's edge lineage."""
    s, d = F.col(src_col), F.col(dst_col)
    return (
        edges.filter(s != d)
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over a canonical (a, b) edge set."""
    return (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _node_set(e: DataFrame) -> DataFrame:
    """Distinct nodes of an (__s, __d) edge frame; cut once, since every
    round references it."""
    return (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    redistribute_dangling: bool = False,
) -> DataFrame:
    """PageRank (Brin & Page 1998) after ``iters`` synchronous iterations
    from a uniform start. Returns (node, rank) with rank rounded to 6 —
    ranks sum to ~1 minus the dangling leak (or ~1 with
    ``redistribute_dangling``).

    Each iteration is one join of the edges against the rank vector plus
    one aggregation keyed by destination; contributions are (rank /
    outdeg) rounded to 12 and DECIMAL-summed, and the damping update is
    one double expression, so the oracle's unrolled-CTE replay is
    bit-identical. Dangling nodes (no out-edges) keep their rank out of
    circulation unless ``redistribute_dangling`` adds the standard
    uniform spread (one scalar aggregate per iteration).

    Parallel edges are honored (each contributes separately — pre-weight
    by deduplicating upstream if multiplicity should not count);
    self-loops count as ordinary edges.

    The edge frame is referenced every iteration; when it comes from an
    expensive derivation (joins, distinct), ``localCheckpoint`` it before
    calling — the GraphFrames convention; the function does not cache
    internally (a library-held cache outlives the call and pollutes
    unrelated plans)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    nodes = _node_set(e)
    n_total = nodes.agg(F.count(F.lit(1)).alias("__n"))
    outdeg = e.groupBy("__s").agg(F.count(F.lit(1)).alias("__out"))
    # Hoisting the loop-invariant e⋈outdeg join out of the loop behind an
    # eager localCheckpoint measured slower (4.25 s → 6.8 s on the sf0.1
    # trade graph): the per-iteration join is a broadcast of the
    # node-sized degree table fused into the rank join's stage, while the
    # checkpoint materializes an |E|-sized frame. Revisit only if outdeg
    # outgrows the broadcast.
    base = F.lit(1.0 - damping) / F.col("__n").cast("double")

    def step(rank: DataFrame) -> DataFrame:
        contrib = (
            e.join(outdeg, "__s")
            .join(rank.withColumnRenamed("node", "__s"), "__s")
            .select(
                F.col("__d").alias("node"),
                F.round(
                    F.col("rank") / F.col("__out").cast("double"), 12
                ).cast("decimal(28,12)").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        out = nodes.join(contrib, "node", "left").crossJoin(F.broadcast(n_total))
        extra = F.lit(0.0)
        if redistribute_dangling:
            dangling = rank.join(
                outdeg.withColumnRenamed("__s", "node"), "node", "left_anti"
            ).agg(
                F.coalesce(
                    F.sum(F.round(F.col("rank"), 12).cast("decimal(28,12)")),
                    F.lit(0).cast("decimal(28,12)"),
                ).alias("__dm")
            )
            out = out.crossJoin(F.broadcast(dangling))
            extra = F.lit(damping) * F.col("__dm").cast("double") / F.col("__n").cast("double")
        return out.select(
            "node",
            (
                base
                + extra
                + F.lit(damping) * F.coalesce(F.col("__in").cast("double"), F.lit(0.0))
            ).alias("rank"),
        )

    # rank_0 = 1/N for every node (single double division, portable)
    rank0 = nodes.crossJoin(F.broadcast(n_total)).select(
        "node", (F.lit(1.0) / F.col("__n").cast("double")).alias("rank")
    )
    rank, _ = iterate(rank0, step, iters)
    return rank.select("node", F.round("rank", 6).alias("rank"))


def _triangles(e: DataFrame) -> DataFrame:
    """(node, triangles) over a canonical, checkpointed (a, b) edge set —
    the wedge step behind ``triangle_count`` and
    ``clustering_coefficient``."""
    deg = _degrees(e)
    # orient: u -> v iff (deg_u, u) < (deg_v, v) — a total order, so every
    # canonical edge gets exactly one direction
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("__db"))
    ed = e.join(da, "a").join(db, "b")
    fwd = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)  # both wedge sides
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        on=[F.col("o1.u") == F.col("o2.u"), F.col("o1.v") < F.col("o2.v")],
    ).select(
        F.col("o1.u").alias("u"),
        F.col("o1.v").alias("x"),
        F.col("o2.v").alias("y"),
    )
    closed = wedges.join(
        e,
        on=[
            F.least(F.col("x"), F.col("y")) == F.col("a"),
            F.greatest(F.col("x"), F.col("y")) == F.col("b"),
        ],
    ).select("u", "x", "y")
    corners = (
        closed.select(F.col("u").alias("node"))
        .unionByName(closed.select(F.col("x").alias("node")))
        .unionByName(closed.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph — the clustering
    /community-density primitive next to connected components (membership)
    and PageRank (importance): a node's triangle count drives clustering
    coefficients, spam/bot detection (genuine social neighborhoods
    triangulate, scripted ones star), and dense-subgraph mining.

    Input edges are canonicalized first: direction ignored, self-loops
    dropped, parallel edges collapsed. Returns (node, triangles) for
    nodes in >= 1 triangle; each triangle contributes 1 to all three
    corners.

    Spark-first shape — the degree-oriented wedge algorithm (the
    MapReduce classic from Suri & Vassilvitskii's "Counting Triangles and
    the Curse of the Last Reducer", WWW'11): orient every canonical edge
    from the (degree, id)-smaller endpoint to the larger, so each node's
    ORIENTED out-degree is O(sqrt(|E|)) regardless of raw degree — the
    hot celebrity node with 10M followers contributes wedges bounded by
    its out-orientation, not its fan-in. Each triangle then has exactly
    one vertex pointing at the other two (its (degree, id)-minimum), so
    joining wedges (u->v, u->w, v<w) against the canonical edge set
    counts every triangle exactly once. Three keyed shuffles total
    (degree, wedge build, closing join); the closing join keys on the
    canonical (a, b) pair.

    The orientation is a pure execution strategy — output is identical
    to naive enumeration (the oracle replays canonical a<b<c
    enumeration directly).

    The canonical edge set is referenced four times (degree census ×2,
    orientation, closing join) and the oriented list twice (both wedge
    sides); both are cut with eager ``localCheckpoint`` — left lazy,
    the plan multiplies combinatorially (measured: 166 exchanges → 10
    on the co-purchase entry)."""
    return _triangles(_canonical_edges(edges, src_col, dst_col))


def hits(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS link analysis (Kleinberg 1999) after ``iters`` synchronous
    iterations: authority(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v}
    authority(v), each half-step normalized by its MAXIMUM (an exact
    order statistic — one portable IEEE division per node; the textbook
    L2 norm needs a float fold over all nodes, which no engine replays
    bit-identically). Returns (node, hub, authority) rounded 6 for every
    node in the graph; a node missing a side (no out-edges / no
    in-edges) scores 0.0 there.

    Portability discipline is the ``pagerank`` one: per-edge
    contributions round to 12 digits and accumulate as DECIMAL(28,12) —
    exact and order-independent — then ONE double division by the max.
    Parallel edges contribute separately (dedupe upstream if
    multiplicity should not count).

    Scale shape: one node-keyed shuffle per half-step (the edge join)
    plus a scalar max aggregate broadcast back; the edge frame is
    referenced 2·iters times — ``localCheckpoint`` expensive derivations
    first (the pagerank convention). Each half-step's raw-score frame
    feeds both its max and the normalize, so the step checkpoints it
    (with the per-round cuts: 11.9 s → 5.3 s whole-entry on the sf0.1
    trade graph at iters=3)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
    nodes = _node_set(e)
    dec = "decimal(28,12)"

    def half(state):
        # one half-step: ``vec`` scores one side (hubs when ``to_auth``);
        # the new vector scores the other side, ``vec`` is kept for output
        vec, _, to_auth = state
        frm, to = ("__s", "__d") if to_auth else ("__d", "__s")
        raw = (
            e.join(vec.withColumnRenamed("node", frm), frm)
            .select(F.col(to).alias("node"), F.round("score", 12).cast(dec).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").cast("double").alias("__r"))
            .localCheckpoint(eager=True)  # feeds its max AND the normalize
        )
        top = raw.agg(F.max("__r").alias("__m"))
        score = F.when(F.col("__m") > 0, F.coalesce("__r", F.lit(0.0)) / F.col("__m"))
        nxt = (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(top))
            .select("node", score.otherwise(F.lit(0.0)).alias("score"))
        )
        return nxt, vec, not to_auth

    hub0 = nodes.select("node", F.lit(1.0).alias("score"))
    (hub, auth, _), _ = iterate((hub0, None, True), half, 2 * iters)
    return hub.join(auth.withColumnRenamed("score", "auth"), "node").select(
        "node", F.round("score", 6).alias("hub"), F.round("auth", 6).alias("authority")
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """k-core decomposition membership for a FIXED k: iteratively peel
    nodes of (undirected) degree < k until a fixpoint; the survivors are
    exactly the maximal subgraph where every node keeps ≥ k neighbors
    INSIDE the subgraph (the densely-connected backbone; degree alone
    over-counts — a degree-k node whose neighbors all peel away is not
    in the core). Returns (node, degree) for core members, with degree =
    the WITHIN-CORE degree at the fixpoint.

    Distinct undirected neighbor pairs (parallel edges and direction
    collapse; self-loops dropped — a self-loop is not a neighbor).
    Each round: one degree aggregation + one semi-join edge filter —
    O(E) per round, converging in at most the peel depth (≤ diameter-ish
    in practice; ``max_rounds`` is a loud guard, never a silent cap —
    raises if the fixpoint isn't reached)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    pairs = (
        und.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)

    def peel(sym: DataFrame) -> DataFrame:
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("a")
        return (
            sym.join(keep, "a", "left_semi")
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")
            .select("a", "b")
        )

    sym, converged = iterate(sym, peel, max_rounds, unchanged_count(sym.count()))
    if not converged:
        raise RuntimeError(
            f"k-core did not reach a fixpoint within max_rounds={max_rounds}"
        )
    return sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("degree"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY source node, out to
    ``max_hops``. Returns (node, hop) for every REACHED node — sources at
    hop 0, unreachable nodes absent (stated, not NULL-padded).

    The reachability/eccentricity primitive behind influence radius,
    blast-radius analysis, and "within N relations of X" entity queries.
    Deterministic by construction: a node's hop is fixed the first round
    it appears (the anti-join against the visited set IS the min) — no
    tie-breaking needed, so the output value-verifies against an
    unrolled-CTE SQL replay.

    ``directed=False`` (default) symmetrizes the edge list first;
    parallel edges collapse, self-loops are harmless (the anti-join
    swallows them).

    Shape: per round, ONE frontier⋈edges join keyed by node id + one
    distinct + one anti-join against the visited set — O(edges touched
    by the frontier) per round, never O(|V|²). At 100 TB the frontier
    join is a plain keyed shuffle AQE can size; hub-node fan-out is
    aggregation skew the distinct absorbs map-side. Early-exits when a
    frontier empties."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    if not directed:
        e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.distinct().localCheckpoint(eager=True)
    sources = (
        sources.select(F.col(id_col).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )

    def visited(frontier: DataFrame, before: DataFrame | None) -> DataFrame:
        return frontier if before is None else before.unionByName(frontier)

    def step(state):
        # state: the last round's new nodes, every node reached before
        # them (None at the start), and their hop
        frontier, before, h = state
        seen = visited(frontier, before)
        nxt = (
            frontier.join(e, frontier["node"] == e["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h + 1))
        )
        return nxt, seen, h + 1

    (frontier, before, _), _ = iterate(
        (sources, None, 0), step, max_hops, lambda _, s: s[0].isEmpty()
    )
    return visited(frontier, before)


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node — C(v) = 2·T(v)/(d(v)·(d(v)−1))
    over the canonicalized undirected simple graph (direction ignored,
    self-loops dropped, parallel edges collapsed): the per-node density
    readout that turns ``triangle_count``'s raw counts into the
    comparable [0,1] neighborhood-cohesion score (spam/bot screens and
    community compactness both threshold on it).

    Returns (node, degree, triangles, coefficient) for EVERY node of the
    graph — nodes in no triangle report 0 triangles, and degree-1 nodes
    report coefficient 0.0 (stated: the ratio is undefined there, and a
    NULL would just re-ask the question downstream). Exact integers +
    ONE fixed IEEE division rounded 6.

    Cost: the ``triangle_count`` wedge step over the same canonical edge
    set + one degree census + a node-keyed left join."""
    e = _canonical_edges(edges, src_col, dst_col)
    d = F.col("degree").cast("double")
    return (
        _degrees(e)
        .withColumnRenamed("deg", "degree")
        .join(_triangles(e), "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                    / (d * (d - F.lit(1.0))),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity of the canonicalized undirected simple graph:
    the Pearson correlation of endpoint degrees over the edge list, both
    orientations counted (the Newman 2002 convention for undirected
    graphs) — one scalar in [−1, 1]: positive = hubs attach to hubs
    (social cores), negative = hub-and-spoke (infrastructure, bot
    farms). Returns one row (n_edge_ends, assortativity).

    Composes ``validation.checks.pearson_corr_exact`` over the integer
    degree pairs — exact DECIMAL(38,0) sufficient statistics, one fixed
    IEEE expression, engine-replayable. Cost: degree census + two
    node-keyed joins; the correlation is one map-side-combined
    aggregate. Degenerate (regular) graphs have zero degree variance
    and yield an EMPTY result (the pearson convention: no line to
    correlate), stated rather than NULL."""
    from cdc_connector_spark.validation.checks import pearson_corr_exact

    e = _canonical_edges(edges, src_col, dst_col)
    deg = _degrees(e)
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    pairs = (
        sym.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("__dx")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("__dy")), "b")
    )
    out = pearson_corr_exact(pairs, F.col("__dx"), F.col("__dy"))
    return out.select(
        F.col("n").alias("n_edge_ends"), F.col("corr").alias("assortativity")
    )


def link_prediction(
    edges: DataFrame,
    top: int = 50,
    max_center_degree: int = 1000,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected simple graph
    (``edges`` as canonical ``src < dst`` pairs): for every NON-adjacent
    pair (a, b) reachable in 2 hops, the number of shared neighbors and
    the resource-allocation index Σ_{z ∈ N(a)∩N(b)} 1/deg(z) (Zhou,
    Lü & Zhang 2009) — RA down-weights promiscuous hubs, which is what
    separates "these two parts co-occur with the same niche accessory"
    from "everything touches the bestseller". The recommendation /
    missing-edge primitive over co-occurrence graphs.

    Value-portable scoring: RA is emitted in exact integer MICRO units,
    Σ floor(1e6 / deg(z)) — per-center integer division, order-free
    BIGINT sum, no float accumulation (documented contract: the score
    IS the micro-unit sum, not a float approximated by it).

    Scale: wedge fan-out through a center z is deg(z)², so centers with
    deg > ``max_center_degree`` are EXCLUDED from wedge generation (the
    standard hub cut — their per-wedge RA contribution is ≤ 1e6/deg
    micro-units, the first thing to sacrifice; at 100 TB set the cap to
    a few hundred). The cut is part of the operator's semantics and
    must be replayed by any oracle. Everything else is two keyed
    shuffles (wedge self-join, pair collapse) plus the anti-join
    against existing edges.

    Returns top-``top`` rows (node_a, node_b, common_neighbors,
    ra_score_micro) ordered by (ra desc, cn desc, node_a, node_b).

    Input is canonicalized defensively (self-loops dropped, direction
    ignored, parallel edges collapsed) — r12 review: the previous
    docstring-only precondition meant a caller passing raw
    both-orientation or duplicated edges got silently DOUBLED degrees
    and wedge counts; on already-canonical input the distinct is
    value-invisible."""
    canon = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )
    sym = canon.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
        canon.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("z")).agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") <= max_center_degree).withColumn(
        "ra_micro", F.floor(F.lit(1_000_000) / F.col("deg")).cast("long")
    )
    # adjacency rows grouped by center z: (z, x) with x a neighbor of z.
    # The degree table is NODE-sized — never broadcast it by hand; the
    # join keys both sides on z and AQE may still broadcast when small.
    adj = sym.select(F.col("b").alias("z"), F.col("a").alias("x")).join(centers, "z")
    l, r = adj.alias("l"), adj.alias("r")
    wedges = l.join(
        r,
        on=[F.col("l.z") == F.col("r.z"), F.col("l.x") < F.col("r.x")],
    ).select(
        F.col("l.x").alias("node_a"),
        F.col("r.x").alias("node_b"),
        F.col("l.ra_micro").alias("ra_micro"),
    )
    scored = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("ra_micro").alias("ra_score_micro"),
    )
    existing = canon.select(F.col("src").alias("node_a"), F.col("dst").alias("node_b"))
    return (
        scored.join(existing, ["node_a", "node_b"], "left_anti")
        .orderBy(
            F.col("ra_score_micro").desc(),
            F.col("common_neighbors").desc(),
            F.col("node_a").asc(),
            F.col("node_b").asc(),
        )
        .limit(top)
    )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Weighted single/multi-source shortest paths, bounded at
    ``max_hops`` edges: distance-limited Bellman-Ford relaxation
    dist_k(v) = min(dist_{k-1}(v), min over in-edges (u,v) of
    dist_{k-1}(u) + w) — the weighted upgrade of ``bfs_hops`` ("how
    CLOSE is everything to X" instead of "how many hops"), the
    proximity primitive behind supply-chain distance, influence cost,
    and related-entity ranking over weighted co-occurrence graphs.

    Weights must be NON-NEGATIVE BIGINTs (micro-unit costs — the
    repo-wide integer-score contract): min-plus over exact integers is
    exact, so every distance is an exact BIGINT and the whole table
    value-verifies against an unrolled SQL replay (one min-groupby per
    relaxation round — distances, not path enumerations, so the oracle
    is linear in edges, never in paths).

    Returns (node, dist) for every node within ``max_hops`` edges of a
    source (sources at 0); unreachable-within-bound nodes absent.
    A node's distance is the min over ALL ≤ max_hops-edge paths — the
    bounded-horizon semantics (standard at scale: full convergence on
    a 100 TB graph is an unbounded number of rounds; bounding the
    horizon bounds the cost and IS the documented operator contract).

    Shape per round: ONE dist⋈edges join keyed on the node id + one
    map-side-combinable MIN aggregation. Early-exits when a round
    changes nothing."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b"), F.col(weight_col).alias("w")
    )
    if not directed:
        e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"), F.col("w")))
    # parallel edges: keep the cheapest (min-plus ignores the rest anyway)
    e = e.groupBy("a", "b").agg(F.min("w").alias("w")).localCheckpoint(eager=True)
    dist = (
        sources.select(F.col(id_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )

    def relax(dist: DataFrame) -> DataFrame:
        return (
            dist.join(e, dist["node"] == e["a"])
            .select(F.col("b").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    def converged(old: DataFrame, new: DataFrame) -> bool:
        # same node set and no distance improved
        return (
            new.join(old.withColumnRenamed("dist", "__old"), "node", "left")
            .filter(F.col("__old").isNull() | (F.col("dist") < F.col("__old")))
            .isEmpty()
        )

    dist, _ = iterate(dist, relax, max_hops, converged)
    return dist.orderBy("node")


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007) with deterministic tie-breaking: every node starts as its
    own label; each round, every node adopts the most frequent label
    among its neighbors, ties broken by SMALLEST label. Communities are
    denser than connected components (``neardup_groups``/CC merges
    anything touching; LPA splits a chain of weakly-bridged cliques) —
    the cheap community pass over co-occurrence/interaction graphs.

    DETERMINISTIC BY CONSTRUCTION, unlike textbook async LPA: synchronous
    rounds + the (count DESC, label ASC) tie-break make every round a
    pure function of the previous labeling, so a FIXED round count gives
    an engine-portable answer an unrolled SQL oracle replays exactly.
    Bounded rounds are the documented semantics (sync LPA may oscillate
    on bipartite structures rather than converge — the fixed horizon is
    the standard remedy AND the bounded-cost contract at scale).

    Returns (node, label) for every node with at least one edge.

    Shape per round: one labels⋈edges join keyed on node id + one
    (node, label) count + one per-node top-1 window — all map-side-
    combinable aggregations on node-sized frames."""
    from pyspark.sql import Window

    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label").asc())

    def adopt(labels: DataFrame) -> DataFrame:
        neigh = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), "label"
        )
        counts = neigh.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            counts.withColumn("__pk", F.row_number().over(w))
            .filter(F.col("__pk") == 1)
            .select("node", "label")
        )

    labels, _ = iterate(labels, adopt, rounds)
    return labels.orderBy("node")
