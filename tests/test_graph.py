"""ops/graph.py — the graph operators (portable arithmetic, one round loop)."""

from __future__ import annotations

import pytest

from cdc_connector_spark.ops.graph import pagerank


def _reference_pagerank(edges, iters, damping, redistribute=False):
    """Plain-python replay of the documented semantics (incl. the round-12
    contribution accumulation)."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        inc = {v: 0.0 for v in nodes}
        for s, d in edges:
            inc[d] += round(rank[s] / outdeg[s], 12)
        dm = sum(round(rank[v], 12) for v in nodes if v not in outdeg) if redistribute else 0.0
        rank = {
            v: (1.0 - damping) / n
            + (damping * dm / n if redistribute else 0.0)
            + damping * inc[v]
            for v in nodes
        }
    return {v: round(r, 6) for v, r in rank.items()}


EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]  # 4 has no in-edges


def test_pagerank_matches_reference(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    want = _reference_pagerank(EDGES, iters=3, damping=0.85)
    assert got.keys() == want.keys()
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    # node 3 (most in-links) outranks everyone; source-only node 4 floors
    assert got[3] == max(got.values()) and got[4] == min(got.values())


def test_pagerank_dangling_redistribution(spark):
    # 3 is dangling (no out-edges): without redistribution total rank
    # leaks; with it the total returns to ~1
    edges = [(1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    leak = sum(r["rank"] for r in pagerank(df, iters=5).collect())
    full = sum(
        r["rank"] for r in pagerank(df, iters=5, redistribute_dangling=True).collect()
    )
    assert leak < 0.95
    assert abs(full - 1.0) < 1e-5
    want = _reference_pagerank(edges, iters=5, damping=0.85, redistribute=True)
    got = {r["node"]: r["rank"]
           for r in pagerank(df, iters=5, redistribute_dangling=True).collect()}
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9


def test_pagerank_guards(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    with pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)


def _brute_triangles(edges):
    """Naive per-node triangle counts over canonical undirected edges."""
    from itertools import combinations

    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({v for e in es for v in e})
    out = {}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in es and (a, c) in es and (b, c) in es:
            for v in (a, b, c):
                out[v] = out.get(v, 0) + 1
    return out


def test_triangle_count_known_graphs(spark):
    from cdc_connector_spark.ops.graph import triangle_count

    # K4: 4 triangles, every node in 3 of them
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    got = {r["node"]: r["triangles"] for r in
           triangle_count(spark.createDataFrame(k4, "src bigint, dst bigint")).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # square (4-cycle): no triangles -> empty result
    sq = [(0, 1), (1, 2), (2, 3), (3, 0)]
    assert triangle_count(spark.createDataFrame(sq, "src bigint, dst bigint")).count() == 0
    # direction/self-loop/parallel-edge canonicalization: one triangle
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    got = {r["node"]: r["triangles"] for r in
           triangle_count(spark.createDataFrame(messy, "src bigint, dst bigint")).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_count_random_vs_brute(spark):
    import random

    from cdc_connector_spark.ops.graph import triangle_count

    rng = random.Random(7)
    for trial in range(3):
        n = 12
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
        got = {r["node"]: r["triangles"] for r in
               triangle_count(spark.createDataFrame(edges, "src bigint, dst bigint")).collect()}
        assert got == _brute_triangles(edges), (trial, edges)


def test_pagerank_checkpoint_is_value_invisible(spark):
    """Every iteration's rank vector is cut with an eager localCheckpoint
    (the ``iterate`` lineage policy); the cuts must not change the
    output. 10 iterations cross 10 cuts and still match the plain-python
    reference — also with dangling redistribution, whose step reads the
    rank vector twice (node 5 is dangling)."""
    for edges, redistribute in ((EDGES, False), (EDGES + [(4, 5)], True)):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        got = {r["node"]: r["rank"] for r in pagerank(
            df, iters=10, redistribute_dangling=redistribute
        ).collect()}
        want = _reference_pagerank(edges, iters=10, damping=0.85, redistribute=redistribute)
        assert got.keys() == want.keys()
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, (redistribute, v, got[v], want[v])


def test_hits_one_iteration_hand_computed(spark):
    """h1->{a1,a2}, h2->a1 after one iteration: auth(a1)=1 (max), auth(a2)
    = 1/2, hub(h1) = 1 (max), hub(h2) = (1/2)/(3/2) = 2/3; bipartite
    sides score 0.0 on the side they lack."""
    from cdc_connector_spark.ops.graph import hits

    edges = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 101)], "src bigint, dst bigint"
    )
    out = {r.node: (r.hub, r.authority) for r in hits(edges, iters=1).collect()}
    assert out[101] == (0.0, 1.0)
    assert out[102] == (0.0, 0.5)
    assert out[1] == (1.0, 0.0)
    assert out[2] == (round(2 / 3, 6), 0.0)
    import pytest as _pt

    with _pt.raises(ValueError, match="iters"):
        hits(edges, iters=0)


def test_hits_converges_toward_principal_eigenvector(spark):
    """Power iteration converges to the principal eigenvector of AᵀA:
    for hubs {1:(101,102), 2:(101), 3:(101,102)}, AᵀA = [[3,2],[2,2]]
    whose max-normalized eigenvector gives auth(102) = (λ−3)/2 with
    λ = (5+√17)/2 — each iteration moves strictly closer."""
    from cdc_connector_spark.ops.graph import hits

    edges = spark.createDataFrame(
        [(1, 101), (1, 102), (2, 101), (3, 101), (3, 102)],
        "src bigint, dst bigint",
    )
    limit = ((5 + 17 ** 0.5) / 2 - 3) / 2  # ≈ 0.780776
    o1 = {r.node: r.authority for r in hits(edges, iters=1).collect()}
    o3 = {r.node: r.authority for r in hits(edges, iters=3).collect()}
    assert o1[101] == 1.0 and o3[101] == 1.0
    assert abs(o3[102] - limit) < abs(o1[102] - limit)
    assert abs(o3[102] - limit) < 2e-3


def test_kcore_peels_transitively(spark):
    """Triangle {1,2,3} with pendant path 3-4-5: node 4 has RAW degree 2
    but must peel after 5 does (the transitive peel degree alone cannot
    see); the 2-core is exactly the triangle at within-core degree 2.
    Direction/parallel duplicates and self-loops are collapsed/dropped."""
    from cdc_connector_spark.ops.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 1), (5, 4), (4, 4)],
        "src bigint, dst bigint",
    )
    out = {r.node: r.degree for r in kcore(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # k=3: the triangle's within-core degree is only 2 -> empty core
    assert kcore(edges, k=3).count() == 0
    import pytest as _pt

    with _pt.raises(RuntimeError, match="fixpoint"):
        kcore(edges, k=2, max_rounds=1)


# ---------------------------------------------------------------- bfs_hops


def _bfs_edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _bfs_sources(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def test_bfs_path_graph_hops(spark):
    from cdc_connector_spark.ops.graph import bfs_hops

    e = _bfs_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    out = bfs_hops(e, _bfs_sources(spark, [1]), max_hops=2)
    assert {(r["node"], r["hop"]) for r in out.collect()} == {(1, 0), (2, 1), (3, 2)}


def test_bfs_multi_source_takes_min_hop(spark):
    from cdc_connector_spark.ops.graph import bfs_hops

    e = _bfs_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    out = bfs_hops(e, _bfs_sources(spark, [1, 5]), max_hops=4)
    got = {r["node"]: r["hop"] for r in out.collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_directed_respects_direction_and_early_exit(spark):
    from cdc_connector_spark.ops.graph import bfs_hops

    e = _bfs_edges(spark, [(1, 2)])
    got = {r["node"]: r["hop"] for r in bfs_hops(
        e, _bfs_sources(spark, [2]), max_hops=10, directed=True
    ).collect()}
    assert got == {2: 0}
    got_u = {r["node"]: r["hop"] for r in bfs_hops(
        e, _bfs_sources(spark, [2]), max_hops=10
    ).collect()}
    assert got_u == {2: 0, 1: 1}


def test_bfs_unreachable_absent_and_self_loop_harmless(spark):
    from cdc_connector_spark.ops.graph import bfs_hops

    e = _bfs_edges(spark, [(1, 2), (1, 1), (7, 8)])
    got = {r["node"]: r["hop"] for r in bfs_hops(e, _bfs_sources(spark, [1]), max_hops=3).collect()}
    assert got == {1: 0, 2: 1}


# ------------------------------------------------- clustering_coefficient


def test_clustering_coefficient_hand_checked(spark):
    from cdc_connector_spark.ops.graph import clustering_coefficient

    # K3 plus a pendant: 1-2, 2-3, 1-3, 3-4
    e = _bfs_edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    out = {r["node"]: r for r in clustering_coefficient(e).collect()}
    assert out[1]["coefficient"] == 1.0 and out[1]["triangles"] == 1
    # node 3: degree 3, 1 triangle -> 2/(3*2) = 1/3
    assert out[3]["degree"] == 3 and out[3]["coefficient"] == round(1 / 3, 6)
    # pendant: degree 1 -> 0.0 by convention, zero triangles
    assert out[4]["coefficient"] == 0.0 and out[4]["triangles"] == 0


def test_clustering_coefficient_square_is_zero(spark):
    from cdc_connector_spark.ops.graph import clustering_coefficient

    e = _bfs_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    out = clustering_coefficient(e).collect()
    assert all(r["coefficient"] == 0.0 and r["triangles"] == 0 for r in out)
    assert all(r["degree"] == 2 for r in out)


def test_assortativity_star_is_negative_one(spark):
    """A star graph is perfectly disassortative: every edge pairs the hub
    (degree n) with a leaf (degree 1)."""
    from cdc_connector_spark.ops.graph import degree_assortativity

    e = _bfs_edges(spark, [(0, i) for i in range(1, 6)])
    r = degree_assortativity(e).collect()[0]
    assert r["assortativity"] == -1.0 and r["n_edge_ends"] == 10


def test_assortativity_regular_graph_empty(spark):
    from cdc_connector_spark.ops.graph import degree_assortativity

    e = _bfs_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])  # 2-regular cycle
    assert degree_assortativity(e).count() == 0


# ---------------------------------------------------------- link prediction


def test_link_prediction_hand_computed(spark):
    """Square a-b-c-d-a plus hub h attached to a and c: the non-adjacent
    pairs are (a,c) — common neighbors b, d, h — and (b,d) — common
    neighbors a, c. RA in micro units: deg(a)=deg(c)=3, deg(b)=deg(d)=2,
    deg(h)=2."""
    from cdc_connector_spark.ops.graph import link_prediction

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 9), (3, 9)], "src long, dst long"
    )
    got = {(r["node_a"], r["node_b"]): r for r in link_prediction(edges).collect()}
    # h also pairs with b and d through the degree-3 corners a and c
    assert set(got) == {(1, 3), (2, 4), (2, 9), (4, 9)}
    ac, bd = got[(1, 3)], got[(2, 4)]
    assert ac["common_neighbors"] == 3
    assert ac["ra_score_micro"] == 3 * (1_000_000 // 2)  # b, d, h all degree 2
    assert bd["common_neighbors"] == 2
    assert bd["ra_score_micro"] == 2 * (1_000_000 // 3)  # a, c degree 3
    for p in ((2, 9), (4, 9)):
        assert got[p]["common_neighbors"] == 2
        assert got[p]["ra_score_micro"] == 2 * (1_000_000 // 3)


def test_link_prediction_hub_cap_binds(spark):
    """A star through hub z (degree 4) plus one low-degree wedge: capping
    max_center_degree below 4 removes every hub-mediated pair but keeps
    the wedge — the cut is semantics, not a silent truncation."""
    from cdc_connector_spark.ops.graph import link_prediction

    star = [(100, i) for i in (1, 2, 3, 4)]  # z=100 -> 4 leaves
    wedge = [(1, 50), (2, 50)]  # center 50, degree 2
    edges = spark.createDataFrame(star + wedge, "src long, dst long")
    full = {(r["node_a"], r["node_b"]) for r in link_prediction(edges).collect()}
    assert (1, 2) in full and (3, 4) in full
    capped = {
        (r["node_a"], r["node_b"]): r
        for r in link_prediction(edges, max_center_degree=3).collect()
    }
    # hub-mediated pairs ((3,4), (1,3), ...) vanish; pairs through
    # low-degree centers survive: (1,2) via center 50, (50,100) via
    # centers 1 and 2
    assert set(capped) == {(1, 2), (50, 100)}
    assert capped[(1, 2)]["ra_score_micro"] == 1_000_000 // 2
    assert capped[(50, 100)]["common_neighbors"] == 2
    assert all((a, b) not in capped for a, b in ((3, 4), (1, 3), (2, 3)))


def test_link_prediction_canonicalizes_raw_input(spark):
    """r12 review fix: raw edge lists (both orientations, duplicates,
    self-loops) must score identically to the canonical form — the old
    docstring-only precondition silently DOUBLED degrees and wedge
    counts on such input."""
    from cdc_connector_spark.ops.graph import link_prediction

    canonical = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 9), (3, 9)]
    raw = canonical + [(b, a) for a, b in canonical] + [(1, 2), (9, 9)]
    want = sorted(
        map(str, link_prediction(spark.createDataFrame(canonical, "src long, dst long")).collect())
    )
    got = sorted(
        map(str, link_prediction(spark.createDataFrame(raw, "src long, dst long")).collect())
    )
    assert got == want and len(want) > 0


def test_link_prediction_excludes_existing_edges_and_orders(spark):
    from cdc_connector_spark.ops.graph import link_prediction

    # triangle 1-2-3 plus pendant 4 on node 1: the only 2-hop non-edge
    # pairs are (2,4) and (3,4) via center 1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4)], "src long, dst long"
    )
    rows = link_prediction(edges).collect()
    pairs = [(r["node_a"], r["node_b"]) for r in rows]
    assert pairs == sorted(pairs)  # deterministic order at equal scores
    assert set(pairs) == {(2, 4), (3, 4)}
    assert all((a, b) not in {(1, 2), (1, 3), (2, 3), (1, 4)} for a, b in pairs)


# ---------------------------------------------------------- Spark job pin

_JOB_EDGES = [(1, 2, 3), (2, 3, 1), (3, 1, 4), (3, 4, 1), (4, 5, 5), (5, 6, 9)]


def _graph_ops():
    from cdc_connector_spark.ops import components as cc
    from cdc_connector_spark.ops import graph as g

    return {
        # one cut per iteration: 3 checkpoints + the final collect
        "pagerank": (lambda e, s: g.pagerank(e, iters=3), 9),
        "hits": (lambda e, s: g.hits(e, iters=3), 20),
        # 4 peel rounds; one count per state, not two
        "kcore": (lambda e, s: g.kcore(e, k=2), 11),
        "bfs_hops": (lambda e, s: g.bfs_hops(e, s, max_hops=5), 17),
        "shortest_paths": (lambda e, s: g.shortest_paths(e, s, max_hops=8), 14),
        "label_propagation": (lambda e, s: g.label_propagation(e, rounds=3), 7),
        "connected_components": (lambda e, s: cc.connected_components(e, "src", "dst"), 13),
        "connected_components_star": (
            lambda e, s: cc.connected_components_star(e, "src", "dst"), 15
        ),
        "triangle_count": (lambda e, s: g.triangle_count(e), 3),
        # one canonical-edge checkpoint shared with the triangle step
        "clustering_coefficient": (lambda e, s: g.clustering_coefficient(e), 3),
        "degree_assortativity": (lambda e, s: g.degree_assortativity(e), 2),
    }


@pytest.mark.parametrize("name", sorted(_graph_ops()))
def test_graph_operator_job_counts(spark, name):
    """Pins the Spark jobs each graph operator runs on one small graph
    (every round's cut, convergence test and the final collect), so a
    change to the round loop that adds or drops a job shows here. AQE is
    off for the count: it re-plans as concurrent stages finish, so its
    job count varies between runs of the same code (bfs_hops reads 47 or
    48 on this graph); without it every action or cut is one job plus
    one per broadcast."""
    import uuid

    run, want = _graph_ops()[name]
    e = spark.createDataFrame(_JOB_EDGES, "src long, dst long, w long")
    sources = spark.createDataFrame([(1,)], "node long")
    sc = spark.sparkContext
    group = f"graph-jobs-{name}-{uuid.uuid4().hex}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        run(e, sources).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == want
