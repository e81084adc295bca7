"""PageRank + triangle counting over edge lists (graph analytics surface).

The driver gates (graph_pagerank / graph_triangles) hash-compare against
DuckDB; these tests pin the closed-form behavior the gates can't express:
fixed points, orientation correctness, group semantics, scaled-vs-float
agreement.
"""

import pytest
from pyspark.sql import functions as F

from kgforge.plans.graph_query import pagerank, symmetrize, triangle_count


def _edges(spark, pairs, group=None):
    if group is not None:
        return spark.createDataFrame(
            [(g, a, b) for g, a, b in pairs], "g long, src long, dst long"
        )
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_cycle_fixed_point(spark):
    # 2-cycle: r = 0.15 + 0.85 * r has fixed point 1.0, reached at once
    ranks = {
        r.id: r.rank
        for r in pagerank(
            _edges(spark, [(1, 2), (2, 1)]), n_iter=4
        ).collect()
    }
    assert ranks == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


def test_pagerank_star_orders_hub_first(spark):
    e = _edges(spark, [(1, 99), (2, 99), (3, 99)])
    ranks = {r.id: r.rank for r in pagerank(e, n_iter=5).collect()}
    assert ranks[99] > ranks[1]
    assert ranks[1] == pytest.approx(0.15)  # leaves have no in-edges


def test_pagerank_scaled_tracks_float(spark):
    pairs = [(i, (i * 3 + 1) % 7) for i in range(7)] + [
        (i, (i + 1) % 7) for i in range(7)
    ]
    e = symmetrize(_edges(spark, pairs))
    flt = {r.id: r.rank for r in pagerank(e, n_iter=3).collect()}
    fix = {
        r.id: r.rank / 1e9
        for r in pagerank(e, n_iter=3, scaled=True).collect()
    }
    assert set(flt) == set(fix)
    for k in flt:
        # integral division truncates <=1e-9 per edge per iteration
        assert flt[k] == pytest.approx(fix[k], abs=1e-6)


def test_triangles_clique_and_star(spark):
    clique4 = [
        (a, b) for a in range(1, 5) for b in range(1, 5) if a < b
    ]
    n = triangle_count(_edges(spark, clique4)).first().n_triangles
    assert n == 4  # C(4,3)
    star = [(0, i) for i in range(1, 6)]
    assert triangle_count(_edges(spark, star)).first().n_triangles == 0


def test_triangles_direction_and_dups_ignored(spark):
    tri = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1)]
    assert triangle_count(_edges(spark, tri)).first().n_triangles == 1


def test_triangles_grouped(spark):
    g0 = [(0, a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    g1 = [(1, 10, 11), (1, 11, 12)]  # open wedge: no triangle
    out = {
        r.g: r.n_triangles
        for r in triangle_count(
            _edges(spark, g0 + g1, group=True), group_col="g"
        ).collect()
    }
    assert out == {0: 4}  # wedge-only group yields no row


def test_weighted_sssp_prefers_cheap_long_path(spark):
    # 1->2->3->4 costs 1+1+1=3; the direct 1->4 edge costs 10 — three
    # relaxation rounds must beat the one-hop path
    from kgforge.plans.graph_query import weighted_sssp

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10)],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(1,)], "id long")
    dist = {r.id: r.d for r in weighted_sssp(e, src, max_hops=8).collect()}
    assert dist == {1: 0, 2: 1, 3: 2, 4: 3}


def test_weighted_sssp_hop_bound_truncates(spark):
    # with max_hops=1 only the direct edge is reachable at its weight
    from kgforge.plans.graph_query import weighted_sssp

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 10)],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(1,)], "id long")
    dist = {r.id: r.d for r in weighted_sssp(e, src, max_hops=1).collect()}
    assert dist == {1: 0, 2: 1, 3: 10}
    dist = {r.id: r.d for r in weighted_sssp(e, src, max_hops=2).collect()}
    assert dist == {1: 0, 2: 1, 3: 2}


def test_weighted_sssp_unreachable_absent(spark):
    from kgforge.plans.graph_query import weighted_sssp

    e = spark.createDataFrame([(1, 2, 5)], "src long, dst long, w long")
    src = spark.createDataFrame([(1,)], "id long")
    out = weighted_sssp(e, src, max_hops=4).collect()
    assert {r.id for r in out} == {1, 2}


def test_shortest_path_pair_matches_sssp(spark):
    """Single-pair branch-and-bound BF agrees with the full SSSP filtered
    to the pair, including when the cheap path is longer in hops."""
    from kgforge.plans.graph_query import shortest_path_pair, weighted_sssp

    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 10), (1, 5, 2), (5, 4, 9)],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(1,)], "id long")
    dst = spark.createDataFrame([(4,)], "id long")
    out = shortest_path_pair(e, src, dst, max_hops=8).collect()
    assert [(r.id, r.d) for r in out] == [(4, 3)]
    full = {r.id: r.d for r in weighted_sssp(e, src, max_hops=8).collect()}
    assert full[4] == 3


def test_shortest_path_pair_unreachable_empty(spark):
    from kgforge.plans.graph_query import shortest_path_pair

    e = spark.createDataFrame([(1, 2, 5)], "src long, dst long, w long")
    src = spark.createDataFrame([(1,)], "id long")
    dst = spark.createDataFrame([(9,)], "id long")
    assert shortest_path_pair(e, src, dst, max_hops=4).collect() == []


def test_shortest_path_pair_prune_keeps_optimum(spark):
    """The bound prune (drop settled d > best-at-target) must not cut a
    node that still leads to the optimum: 1->4 direct costs 6 (sets the
    bound), but 1->2->3->4 at 1+1+1=3 goes through nodes settled at
    d < 6 and must survive to win."""
    from kgforge.plans.graph_query import shortest_path_pair

    e = spark.createDataFrame(
        [(1, 4, 6), (1, 2, 1), (2, 3, 1), (3, 4, 1)],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(1,)], "id long")
    dst = spark.createDataFrame([(4,)], "id long")
    out = shortest_path_pair(e, src, dst, max_hops=8).collect()
    assert [(r.id, r.d) for r in out] == [(4, 3)]


def test_kg_facade_shortest_path_weight(spark, workdir):
    """kg.shortest_path_weight (algo.SPpaths parity): single-pair distance
    with a relationship-prop weight."""
    from kgforge.kg import KnowledgeGraph
    from kgforge.ontology import Attribute, Entity, Ontology, Relation

    onto = Ontology(
        entities=[
            Entity("City", [Attribute("name", "string", True, True)]),
        ],
        relations=[
            Relation("ROAD", "City", "City",
                     [Attribute("km", "string", False, False)]),
        ],
    )
    kg = KnowledgeGraph(spark, onto, workdir)
    kg.add_nodes([("City", {"name": c}) for c in "abcd"])
    kg.add_edges([
        ("ROAD", "City", "City", {"name": s}, {"name": d}, {"km": str(w)})
        for s, d, w in [("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
                        ("a", "d", 10)]
    ])
    out = kg.shortest_path_weight(
        ("City", "a"), ("City", "d"), weight_prop="km"
    ).collect()
    assert [(r.label, r.key, r.dist) for r in out] == [("City", "d", 3.0)]
    # unreachable pair -> empty
    assert kg.shortest_path_weight(("City", "d"), ("City", "a")).collect() \
        == []


def test_closeness_path_graph(spark):
    from kgforge.plans.graph_query import closeness_centrality

    # undirected path 1 - 2 - 3
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    lms = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    out = {
        r.id: (r.n_reached, r.total_dist, r.closeness)
        for r in closeness_centrality(e, lms).collect()
    }
    assert out[2] == (2, 2, 1.0)  # center: both ends at dist 1
    assert out[1] == (2, 3, 2 / 3)
    assert out[3] == (2, 3, 2 / 3)


def test_closeness_landmark_subset_and_isolated(spark):
    from kgforge.plans.graph_query import closeness_centrality

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    lms = spark.createDataFrame([(1,), (9,)], "id long")  # 9 isolated
    out = {
        r.id: (r.n_reached, r.total_dist, r.closeness)
        for r in closeness_centrality(e, lms).collect()
    }
    assert set(out) == {1, 9}  # only requested landmarks
    assert out[1] == (1, 1, 1.0)
    assert out[9] == (0, 0, 0.0)


def test_closeness_hop_bound(spark):
    from kgforge.plans.graph_query import closeness_centrality

    # path 1-2-3-4; max_hops=2 cannot see node 4 from node 1
    e_dir = [(1, 2), (2, 3), (3, 4)]
    e = spark.createDataFrame(
        e_dir + [(b, a) for a, b in e_dir], "src long, dst long"
    )
    lms = spark.createDataFrame([(1,)], "id long")
    out = closeness_centrality(e, lms, max_hops=2).first()
    assert (out.n_reached, out.total_dist) == (2, 3)


def test_lpa_two_triangles_bridge(spark):
    from kgforge.plans.graph_query import label_propagation

    tri = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    e = spark.createDataFrame(
        tri + [(b, a) for a, b in tri], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    out = {
        r.id: r.community
        for r in label_propagation(e, nodes, n_iter=5).collect()
    }
    # two stable communities, split at the bridge
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]


def test_lpa_isolated_keeps_own_label(spark):
    from kgforge.plans.graph_query import label_propagation

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    out = {
        r.id: r.community
        for r in label_propagation(e, nodes, n_iter=3).collect()
    }
    assert out[9] == 9
    assert out[1] == out[2]


# ---- k-core (bounded peeling) -----------------------------------------


def test_kcore_clique_survives_tail_peels(spark):
    """4-clique with a pendant 3-chain: the 3-core is exactly the
    clique; the chain peels away over MULTIPLE rounds (degree-1 end
    first), so convergence-mode must iterate past one round."""
    from kgforge.plans.graph_query import k_core, symmetrize

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    tail = [(3, 4), (4, 5), (5, 6)]
    edges = symmetrize(
        spark.createDataFrame(clique + tail, "src long, dst long")
    )
    core = {r.id for r in k_core(edges, k=3).collect()}
    assert core == {0, 1, 2, 3}
    # k above the max degree: everything peels to empty
    assert k_core(edges, k=10).count() == 0
    # fixed rounds=1 keeps the not-yet-unraveled chain interior
    one = {r.id for r in k_core(edges, k=2, rounds=1).collect()}
    assert one == {0, 1, 2, 3, 4, 5}  # only the degree-1 tip (6) peels


def test_kcore_fixed_rounds_idempotent_after_convergence(spark):
    """Early exit equals running the remaining rounds: rounds >> needed
    gives the same core as convergence mode."""
    from kgforge.plans.graph_query import k_core, symmetrize

    edges = symmetrize(
        spark.createDataFrame(
            [(a, b) for a in range(5) for b in range(5) if a < b]
            + [(4, 9), (9, 10)],
            "src long, dst long",
        )
    )
    a = {r.id for r in k_core(edges, k=3).collect()}
    b = {r.id for r in k_core(edges, k=3, rounds=30).collect()}
    assert a == b == {0, 1, 2, 3, 4}


def test_weighted_paths_topk_exact_on_ring(spark):
    """k = 2 on a 4-ring: every ordered pair has exactly two simple
    paths (clockwise/counterclockwise); ranks follow (weight, lex)."""
    from kgforge.plans.graph_query import weighted_paths_topk

    # ring 1-2-3-4-1, weight 1 per edge, both directions
    ring = [(1, 2), (2, 3), (3, 4), (4, 1)]
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a, b in ring] + [(b, a, 1.0) for a, b in ring],
        "src long, dst long, w double",
    )
    origins = spark.createDataFrame([(1,)], "origin long")
    rows = weighted_paths_topk(edges, origins, k=2, max_hops=3).collect()
    got = {(r.id, r.rank): (r.d, tuple(r.path)) for r in rows}
    assert got[(1, 1)] == (0.0, (1,))          # empty walk, no 2nd path
    assert (1, 2) not in got
    assert got[(2, 1)] == (1.0, (1, 2))
    assert got[(2, 2)] == (3.0, (1, 4, 3, 2))
    assert got[(3, 1)] == (2.0, (1, 2, 3))     # tie: lex-smaller array
    assert got[(3, 2)] == (2.0, (1, 4, 3))
    assert got[(4, 1)] == (1.0, (1, 4))
    assert got[(4, 2)] == (3.0, (1, 2, 3, 4))


def test_weighted_paths_topk_exact_beats_beam(spark):
    """The reason mid-loop top-k pruning is NOT applied by default: the
    two cheapest prefixes at an intermediate node can both pass through
    the target (blocking their extension), while the only viable prefix
    ranks below the beam. Exact mode finds the true 2nd path; beam=k
    provably misses it on this graph (approximation documented in the
    weighted_paths_topk docstring)."""
    from kgforge.plans.graph_query import weighted_paths_topk

    # O=0, T=1, M=2, M1=3, X1=4, X2=5. Three simple paths reach M, all
    # within 3 hops: O-T-M (0), O-T-M1-M (0), O-X1-X2-M (5). The two
    # cheapest contain T, so only the costly one can extend M->T — but
    # it arrives in the same round as the second cheap one, so beam=2
    # prunes it before it ever extends.
    edges = spark.createDataFrame(
        [
            (0, 1, 0.0),  # O->T
            (1, 2, 0.0),  # T->M
            (1, 3, 0.0),  # T->M1
            (3, 2, 0.0),  # M1->M
            (0, 4, 2.0),  # O->X1
            (4, 5, 2.0),  # X1->X2
            (5, 2, 1.0),  # X2->M
            (2, 1, 1.0),  # M->T
        ],
        "src long, dst long, w double",
    )
    origins = spark.createDataFrame([(0,)], "origin long")
    exact = {
        (r.rank): (r.d, tuple(r.path))
        for r in weighted_paths_topk(
            edges, origins, k=2, max_hops=4
        ).filter(F.col("id") == 1).collect()
    }
    assert exact == {1: (0.0, (0, 1)), 2: (6.0, (0, 4, 5, 2, 1))}
    beamed = weighted_paths_topk(
        edges, origins, k=2, max_hops=4, beam=2
    ).filter(F.col("id") == 1).collect()
    assert len(beamed) == 1  # beam search loses the 2nd path here


def test_bfs_sigma_diamond(spark):
    """σ recurrence: the diamond 0->{1,2}->3 has two shortest 0->3
    paths."""
    from kgforge.plans.graph_query import bfs_sigma

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    origins = spark.createDataFrame([(0,)], "origin long")
    got = {
        r.id: (r.dist, r.sigma)
        for r in bfs_sigma(edges, origins, max_hops=4).collect()
    }
    assert got == {0: (0, 1), 1: (1, 1), 2: (1, 1), 3: (2, 2)}


def test_betweenness_diamond_and_path(spark):
    """Counting-formulation betweenness: diamond middles split the
    (0,3) pair 50/50; a path's interior node carries its full pair."""
    from kgforge.plans.graph_query import (
        betweenness_centrality,
        betweenness_counts,
    )

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    rows = betweenness_counts(edges, max_depth=4).collect()
    assert {(r.v, r.s, r.t, r.through, r.sigma) for r in rows} == {
        (1, 0, 3, 1, 2),
        (2, 0, 3, 1, 2),
    }
    bc = {r.id: r.bc for r in betweenness_centrality(edges).collect()}
    assert bc == {0: 0.0, 1: 0.5, 2: 0.5, 3: 0.0}

    chain = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    bc2 = {r.id: r.bc for r in betweenness_centrality(chain).collect()}
    assert bc2 == {0: 0.0, 1: 1.0, 2: 0.0}


def test_betweenness_depth_bound_bites(spark):
    """max_depth excludes pairs beyond the bound (k-betweenness)."""
    from kgforge.plans.graph_query import betweenness_centrality

    chain = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    bc = {
        r.id: r.bc
        for r in betweenness_centrality(chain, max_depth=2).collect()
    }
    # pair (0,3) at distance 3 is out of the k=2 ball: nodes 1 and 2
    # each carry only their two distance-2 pairs' single middle role
    assert bc == {0: 0.0, 1: 1.0, 2: 1.0, 3: 0.0}


def test_betweenness_counts_plan_no_cartesian(spark):
    """The middle-node join and the sigma lookup are equi-joins — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan."""
    from kgforge.plans.graph_query import betweenness_counts

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2)], "src long, dst long"
    )
    plan = (
        betweenness_counts(edges, max_depth=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_harmonic_path_and_disconnected(spark):
    """Harmonic histogram + float sum on an undirected path, and the
    disconnected case closeness can't express."""
    from kgforge.plans.graph_query import harmonic_centrality, harmonic_sum

    # components: 1-2-3 path, and isolated pair 7-8
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (7, 8), (8, 7)],
        "src long, dst long",
    )
    lms = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8)], "id long")
    hist = harmonic_centrality(e, lms, max_hops=4)
    got = {(r.id, r.dist): r.n_at_dist for r in hist.collect()}
    assert got == {
        (1, 1): 1, (1, 2): 1,
        (2, 1): 2,
        (3, 1): 1, (3, 2): 1,
        (7, 1): 1, (8, 1): 1,
    }
    hs = {r.id: r.harmonic for r in harmonic_sum(hist).collect()}
    assert hs[1] == pytest.approx(1.5)
    assert hs[2] == pytest.approx(2.0)
    assert hs[7] == pytest.approx(1.0)


def test_random_walks_deterministic_and_sink_stops(spark):
    """random_walks (r5): hash-argmin next hop replayed in Python;
    reruns and layouts agree; sinks stop early; n_walks fans out."""
    import hashlib

    from kgforge.plans.graph_query import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d")],
        "src string, dst string",
    )
    adj = {"a": ["b", "c"], "b": ["c", "d"], "c": ["a"]}

    def ref_walk(start, w, steps, seed="kgforge"):
        walk_id = f"{start}#{w}"
        cur, path = start, [start]
        for step in range(steps):
            nbrs = adj.get(cur)
            if not nbrs:
                break
            cur = min(
                nbrs,
                key=lambda d: hashlib.md5(
                    f"{seed}|{walk_id}|{step}|{d}".encode()
                ).hexdigest(),
            )
            path.append(cur)
        return walk_id, path

    out = {
        r.walk_id: list(r.path)
        for r in random_walks(edges, walk_len=4, n_walks=2).collect()
    }
    assert len(out) == 8  # 4 nodes x 2 walks
    for start in "abcd":
        for w in (0, 1):
            wid, path = ref_walk(start, w, 4)
            assert out[wid] == path
    # d is a sink: its walks never leave
    assert out["d#0"] == ["d"]
    # determinism across partition layouts
    out2 = {
        r.walk_id: list(r.path)
        for r in random_walks(
            edges.repartition(7), walk_len=4, n_walks=2
        ).collect()
    }
    assert out2 == out
    # a different seed draws different walks somewhere
    out3 = {
        r.walk_id: list(r.path)
        for r in random_walks(
            edges, walk_len=4, n_walks=2, seed="other"
        ).collect()
    }
    assert out3 != out


# ---------------------------------------------------------------- HITS


def test_hits_star_closed_form(spark):
    """Star 1,2,3 -> 99 after 2 rounds: a1(99)=3, h1(leaves)=3,
    a2(99)=9, h2(leaves)=9 (Kleinberg order: auth from old hubs, hub
    from NEW auths)."""
    from kgforge.plans.graph_query import hits

    out = {
        r.id: (r.auth, r.hub)
        for r in hits(_edges(spark, [(1, 99), (2, 99), (3, 99)])).collect()
    }
    assert out == {99: (9, 0), 1: (0, 9), 2: (0, 9), 3: (0, 9)}


def test_hits_matches_python_replay(spark):
    """Exact integer parity vs a dict-loop replay of the recurrence on
    an asymmetric graph, rounds=3."""
    from kgforge.plans.graph_query import hits

    pairs = [(1, 10), (1, 11), (2, 10), (3, 11), (10, 3), (11, 1), (2, 11)]
    nodes = sorted({v for p in pairs for v in p})
    h = {v: 1 for v in nodes}
    for _ in range(3):
        a = {v: 0 for v in nodes}
        for s, d in pairs:
            a[d] += h[s]
        h = {v: 0 for v in nodes}
        for s, d in pairs:
            h[s] += a[d]
    got = {
        r.id: (r.auth, r.hub)
        for r in hits(_edges(spark, pairs), rounds=3).collect()
    }
    assert got == {v: (a[v], h[v]) for v in nodes}


def test_hits_normalized_tracks_integer_ranking(spark):
    """normalized=True returns sum-1 float vectors whose ranking matches
    the integer recurrence at the same round count."""
    from kgforge.plans.graph_query import hits

    pairs = [(1, 10), (1, 11), (2, 10), (4, 10), (3, 12)]
    ints = {
        r.id: (r.auth, r.hub)
        for r in hits(_edges(spark, pairs), rounds=2).collect()
    }
    flts = {
        r.id: (r.auth, r.hub)
        for r in hits(
            _edges(spark, pairs), rounds=2, normalized=True
        ).collect()
    }
    assert sum(v[0] for v in flts.values()) == pytest.approx(1.0)
    assert sum(v[1] for v in flts.values()) == pytest.approx(1.0)
    rank_i = sorted(ints, key=lambda v: (-ints[v][0], v))
    rank_f = sorted(flts, key=lambda v: (-flts[v][0], v))
    assert rank_i == rank_f


def test_hits_rounds_validation(spark):
    from kgforge.plans.graph_query import hits

    with pytest.raises(ValueError):
        hits(_edges(spark, [(1, 2)]), rounds=0)


def test_kg_facade_hits(spark, workdir):
    """kg.hits joins integer HITS scores back to node identity; nodes
    outside the relation (isolated) score 0/0."""
    from kgforge.kg import KnowledgeGraph
    from kgforge.ontology import Attribute, Entity, Ontology, Relation

    onto = Ontology(
        entities=[
            Entity("City", [Attribute("name", "string", True, True)]),
        ],
        relations=[Relation("ROAD", "City", "City", [])],
    )
    kg = KnowledgeGraph(spark, onto, workdir)
    kg.add_nodes([("City", {"name": c}) for c in "abcdz"])
    kg.add_edges([
        ("ROAD", "City", "City", {"name": s}, {"name": d}, {})
        for s, d in [("a", "d"), ("b", "d"), ("c", "d")]
    ])
    out = {r.key: (r.auth, r.hub) for r in kg.hits().collect()}
    assert out["d"] == (9, 0)
    assert out["a"] == (0, 9)
    assert out["z"] == (0, 0)  # isolated


def test_node_similarity_closed_form(spark):
    from kgforge.plans.graph_query import node_similarity

    # a:{1,2,3}  b:{2,3,4}  c:{9}  -> only (a,b) share; jaccard 2/4
    e = _edges(
        spark,
        [(10, 1), (10, 2), (10, 3), (20, 2), (20, 3), (20, 4), (30, 9)],
    )
    rows = node_similarity(e).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a, r.b, r.shared, r.deg_a, r.deg_b) == (10, 20, 2, 3, 3)


def test_node_similarity_min_shared_and_duplicate_edges(spark):
    from kgforge.plans.graph_query import node_similarity

    # duplicate edges must not inflate shared counts
    e = _edges(spark, [(10, 1), (10, 1), (10, 2), (20, 1), (20, 2)])
    r = node_similarity(e, min_shared=2).collect()[0]
    assert (r.shared, r.deg_a, r.deg_b) == (2, 2, 2)
    assert node_similarity(e, min_shared=3).count() == 0


def test_node_similarity_hub_cap_drops_viral_dst(spark):
    from kgforge.plans.graph_query import node_similarity

    # dst=7 is a hub every node cites; capping it removes the only
    # shared neighbor of (10,30) and shrinks degrees consistently
    e = _edges(
        spark,
        [(10, 7), (20, 7), (30, 7), (10, 1), (20, 1)],
    )
    uncapped = {(r.a, r.b): r.shared for r in node_similarity(e).collect()}
    assert uncapped == {(10, 20): 2, (10, 30): 1, (20, 30): 1}
    capped = node_similarity(e, max_dst_degree=2).collect()
    assert len(capped) == 1
    r = capped[0]
    # degrees recomputed over the capped edge list (not the raw one)
    assert (r.a, r.b, r.shared, r.deg_a, r.deg_b) == (10, 20, 1, 1, 1)


def test_kg_facade_node_similarity(spark, workdir):
    """kg.node_similarity maps pair ids back to (label, key) and derives
    the float jaccard from the integer decomposition."""
    from kgforge.kg import KnowledgeGraph
    from kgforge.ontology import Attribute, Entity, Ontology, Relation

    onto = Ontology(
        entities=[
            Entity("City", [Attribute("name", "string", True, True)]),
        ],
        relations=[Relation("ROAD", "City", "City", [])],
    )
    kg = KnowledgeGraph(spark, onto, workdir)
    kg.add_nodes([("City", {"name": c}) for c in "abxyz"])
    kg.add_edges([
        ("ROAD", "City", "City", {"name": s}, {"name": d}, {})
        for s, d in [("a", "x"), ("a", "y"), ("b", "y"), ("b", "z")]
    ])
    rows = kg.node_similarity().collect()
    assert len(rows) == 1
    r = rows[0]
    assert {r.key_a, r.key_b} == {"a", "b"}
    assert (r.shared, r.deg_a, r.deg_b) == (1, 2, 2)
    assert r.jaccard == pytest.approx(1 / 3)


def test_k_truss_matches_bruteforce(spark):
    """Fixed rounds and fixpoint both equal a pure-Python peeling
    reference on a deterministic random graph; canonicalization eats
    duplicate/reversed/self-loop input edges; k < 3 raises."""
    import random

    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from kgforge.plans.graph_query import k_truss

    rng = random.Random(7)
    und = set()
    while len(und) < 120:
        u, v = rng.sample(range(30), 2)
        und.add((min(u, v), max(u, v)))
    raw = []
    for a, b in sorted(und):
        raw.append((a, b))
        if rng.random() < 0.3:
            raw.append((b, a))  # reversed duplicate
    raw.append((5, 5))  # self-loop: dropped
    df = spark.createDataFrame(raw, "src long, dst long")

    def support(es):
        adj: dict[int, set[int]] = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in es}

    def peel(es, k, rounds):
        es = set(es)
        r = 0
        while rounds is None or r < rounds:
            sup = support(es)
            new = {e for e in es if sup[e] >= k - 2}
            if new == es:
                break
            es = new
            r += 1
        return es

    for k, rounds in [(3, 1), (3, 2), (3, None), (4, 2), (4, None), (5, None)]:
        got = {(r.a, r.b) for r in k_truss(df, k=k, rounds=rounds).collect()}
        assert got == peel(und, k, rounds), (k, rounds)
    with pytest.raises(ValueError):
        k_truss(df, k=2)


def test_hyperball_registers_equal_exact_closure(spark):
    """Round-t registers == registers derived from the exact
    distance-<=t closure (hashlib replay), on a directed graph where
    balls differ per node; estimates track true ball sizes."""
    import hashlib

    from pyspark.sql import functions as F  # noqa: F401

    from kgforge.functions.sketch import hll_estimate
    from kgforge.plans.graph_query import hyperball_registers

    # directed ring + chords: ball sizes vary with direction
    n = 40
    raw = [(i, (i + 1) % n) for i in range(n)] + [
        (i, (i + 7) % n) for i in range(0, n, 3)
    ]
    df = spark.createDataFrame(raw, "src long, dst long")

    def closure(t):
        adj: dict[int, set[int]] = {}
        for s, d in raw:
            adj.setdefault(s, set()).add(d)
        ball = {v: {v} for v in range(n)}
        for _ in range(t):
            ball = {
                v: b | {w for u in b for w in adj.get(u, ())}
                for v, b in ball.items()
            }
        return ball

    def expected_regs(ball):
        out: dict[tuple[int, int], int] = {}
        for v, members in ball.items():
            for u in members:
                h = hashlib.md5(str(u).encode()).hexdigest()
                bucket = int(h[:2], 16)
                tail = int(h[2:14], 16)
                rho = 49 if tail == 0 else 48 - tail.bit_length() + 1
                out[(v, bucket)] = max(out.get((v, bucket), 0), rho)
        return out

    for t in (0, 1, 2, 3):
        regs = hyperball_registers(df, rounds=t, p=8)
        got = {(r.id, r.bucket): r.max_rho for r in regs.collect()}
        assert got == expected_regs(closure(t)), f"rounds={t}"

    # estimator sanity at t=3 (balls ~8-9 nodes: linear-counting regime)
    ball3 = closure(3)
    est = {
        r.id: r.est
        for r in hll_estimate(
            hyperball_registers(df, rounds=3, p=8), "id", p=8
        ).collect()
    }
    for v, members in ball3.items():
        assert abs(est[v] - len(members)) <= 2, (v, est[v], len(members))


def test_luby_mis_python_replay_and_properties(spark):
    """Fixed-round winners replay exactly in Python (hashlib
    priorities); the fixpoint set is independent AND maximal."""
    import hashlib
    import random

    from kgforge.plans.graph_query import maximal_independent_set

    rng = random.Random(11)
    und = set()
    while len(und) < 80:
        u, v = rng.sample(range(40), 2)
        und.add((min(u, v), max(u, v)))
    df = spark.createDataFrame(sorted(und), "src long, dst long")

    def prio(v):
        return hashlib.md5(f"mis|{v}".encode()).hexdigest() + str(v).zfill(20)

    def replay(rounds):
        adj: dict[int, set[int]] = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        mis: set[int] = set()
        for _ in range(rounds):
            if not alive:
                break
            win = {
                v
                for v in alive
                if all(prio(v) < prio(u) for u in adj[v] if u in alive)
            }
            mis |= win
            dead = set(win)
            for w in win:
                dead |= adj[w] & alive
            alive -= dead
        return mis, alive

    for rounds in (1, 2, 3):
        got = {r.id for r in maximal_independent_set(df, rounds=rounds).collect()}
        assert got == replay(rounds)[0], rounds

    # fixpoint: independent and maximal
    fix = {r.id for r in maximal_independent_set(df).collect()}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert all(not (adj[v] & fix) for v in fix)          # independent
    assert all(v in fix or (adj[v] & fix) for v in adj)  # maximal


def test_session4_graph_plans_no_cartesian_no_python(spark):
    """k-truss edge support, HyperBall rounds, and Luby MIS compile to
    equi-join plans: no CartesianProduct/BroadcastNestedLoopJoin and no
    Python evaluation anywhere."""
    from kgforge.plans.graph_query import (
        _edge_support,
        hyperball_registers,
        maximal_independent_set,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2), (3, 0)], "src long, dst long"
    )
    und = edges.selectExpr("least(src,dst) AS a", "greatest(src,dst) AS b")
    for df in (
        _edge_support(und),
        hyperball_registers(edges, rounds=1),
        maximal_independent_set(edges, rounds=1),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_personalized_pagerank_locality_and_python_replay(spark):
    """Scaled PPR replays exactly in integer Python; rank decays with
    distance from the seed; nodes unreachable FROM the seed get zero;
    list and DataFrame seed forms agree; empty seed list raises."""
    import pytest
    from pyspark.sql import functions as F

    from kgforge.plans.graph_query import personalized_pagerank

    # directed chain 0->1->2->3 plus an isolated pair 8->9
    raw = [(0, 1), (1, 2), (2, 3), (8, 9)]
    df = spark.createDataFrame(raw, "src long, dst long")

    def replay(seeds, n_iter):
        nodes = sorted({x for e in raw for x in e})
        outdeg = {}
        for s, _ in raw:
            outdeg[s] = outdeg.get(s, 0) + 1
        r = {v: 1_000_000_000 if v in seeds else 0 for v in nodes}
        for _ in range(n_iter):
            s_in = {v: 0 for v in nodes}
            for u, v in raw:
                s_in[v] += r[u] // outdeg[u]
            r = {
                v: (150_000_000 if v in seeds else 0) + (85 * s_in[v]) // 100
                for v in nodes
            }
        return r

    got = {
        r.id: r.rank
        for r in personalized_pagerank(df, [0], n_iter=3).collect()
    }
    assert got == replay({0}, 3)
    # after exactly 3 rounds the initial seed pulse sits at node 3 —
    # fixed-round output is the transient, not the stationary vector
    assert got[3] > 0
    assert got[8] == 0 and got[9] == 0   # unreachable from the seed

    seeds_df = spark.createDataFrame([(0,)], "id long")
    got2 = {
        r.id: r.rank
        for r in personalized_pagerank(df, seeds_df, n_iter=3).collect()
    }
    assert got2 == got

    with pytest.raises(ValueError):
        personalized_pagerank(df, [])

    # float mode near stationarity: rank decays with seed distance
    fl = {
        r.id: r.rank
        for r in personalized_pagerank(
            df, [0], n_iter=30, scaled=False
        ).collect()
    }
    assert fl[0] == pytest.approx(0.15)
    assert fl[0] > fl[1] > fl[2] > fl[3] > 0
    assert fl[8] == 0.0 and fl[9] == 0.0


# ---------------------------------------------------------------------
# strongly_connected_components (FW-BW coloring)
# ---------------------------------------------------------------------

def _scc_map(spark, edge_pairs, node_ids, **kw):
    from kgforge.plans.graph_query import strongly_connected_components

    edges = spark.createDataFrame(edge_pairs, "src long, dst long")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    out = strongly_connected_components(edges, nodes, **kw).collect()
    got = {r.id: r.scc for r in out}
    assert len(out) == len(got), "duplicate id rows in SCC output"
    return got


def _scc_brute(edge_pairs, node_ids):
    # transitive closure by python floyd-warshall-ish expansion
    reach = {n: {n} for n in node_ids}
    changed = True
    while changed:
        changed = False
        for s, d in edge_pairs:
            for n in node_ids:
                if s in reach[n] and d not in reach[n]:
                    reach[n].add(d)
                    changed = True
    return {
        n: min(m for m in node_ids if m in reach[n] and n in reach[m])
        for n in node_ids
    }


def test_scc_two_rings_one_way_bridge(spark):
    # ring {1,2,3} -> ring {10,11}: two SCCs, no merge across the bridge
    pairs = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (1, 10)]
    got = _scc_map(spark, pairs, [1, 2, 3, 10, 11])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_scc_fb_label_equality_counterexample(spark):
    # 1->2, 1->3, 2->0, 3->0: nodes 2 and 3 share forward min label (1)
    # AND backward min label (0) but are NOT mutually reachable — the
    # naive (F,B)-pair grouping merges them; real SCC keeps 4 singletons.
    pairs = [(1, 2), (1, 3), (2, 0), (3, 0)]
    got = _scc_map(spark, pairs, [0, 1, 2, 3])
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_scc_dag_chain_all_singletons(spark):
    # pure chain (worst case for coloring alone) unravels through trim
    ids = list(range(8))
    pairs = [(i, i + 1) for i in range(7)]
    got = _scc_map(spark, pairs, ids)
    assert got == {i: i for i in ids}


def test_scc_self_loop_and_isolated(spark):
    # self-loops are dropped (no 2-cycle implied); isolated nodes appear
    got = _scc_map(spark, [(5, 5), (1, 2), (2, 1)], [1, 2, 5, 9])
    assert got == {1: 1, 2: 1, 5: 5, 9: 9}


def test_scc_matches_bruteforce_random(spark):
    # deterministic pseudo-random digraph vs python closure brute force
    import hashlib

    ids = list(range(14))
    pairs = []
    for a in ids:
        for b in ids:
            if a == b:
                continue
            h = hashlib.md5(f"scc|{a}|{b}".encode()).hexdigest()
            if int(h[:4], 16) < 0x2000:  # ~12.5% density
                pairs.append((a, b))
    got = _scc_map(spark, pairs, ids, max_rounds=32)
    assert got == _scc_brute(pairs, ids)


def test_scc_nested_sccs_with_dag_between(spark):
    # SCC {0,1} -> chain 2 -> SCC {3,4,5} -> 6
    pairs = [
        (0, 1), (1, 0),
        (1, 2), (2, 3),
        (3, 4), (4, 5), (5, 3),
        (5, 6),
    ]
    got = _scc_map(spark, pairs, list(range(7)))
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 3, 6: 6}


def test_condensation_is_acyclic_and_matches_brute(spark):
    import hashlib

    from kgforge.plans.graph_query import (
        condensation,
        strongly_connected_components,
    )

    ids = list(range(14))
    pairs = []
    for a in ids:
        for b in ids:
            if a == b:
                continue
            h = hashlib.md5(f"scc|{a}|{b}".encode()).hexdigest()
            if int(h[:4], 16) < 0x2000:
                pairs.append((a, b))
    edges = spark.createDataFrame(pairs, "src long, dst long")
    nodes = spark.createDataFrame([(n,) for n in ids], "id long")
    scc = strongly_connected_components(edges, nodes, max_rounds=32)
    cond = {(r.src_scc, r.dst_scc) for r in condensation(edges, scc).collect()}

    sccmap = _scc_brute(pairs, ids)
    want = {
        (sccmap[a], sccmap[b]) for a, b in pairs if sccmap[a] != sccmap[b]
    }
    assert cond == want
    # acyclicity: kahn peeling of the quotient drains completely
    nodes_c = {x for e in cond for x in e}
    left = set(cond)
    while nodes_c:
        sinkless = nodes_c - {s for s, _ in left}
        assert sinkless, "cycle in condensation"
        nodes_c -= sinkless
        left = {(s, d) for s, d in left if d not in sinkless}


def test_topological_layers_longest_path_semantics(spark):
    from kgforge.plans.graph_query import topological_layers

    # diamond with a long leg: layer(d) = 2 (longest), not 1
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (1, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    got = {r.id: r.layer for r in topological_layers(edges, nodes).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_topological_layers_cycle_raises_and_isolated(spark):
    import pytest

    from kgforge.plans.graph_query import topological_layers

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    cyc = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    with pytest.raises(RuntimeError, match="cycle"):
        topological_layers(cyc, nodes)
    # isolated nodes land in layer 0; stray edge endpoints are ignored
    e2 = spark.createDataFrame([(0, 1), (99, 1)], "src long, dst long")
    got = {r.id: r.layer for r in topological_layers(e2, nodes).collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 0}


def test_topological_layers_on_condensation_matches_brute(spark):
    import hashlib

    from kgforge.plans.graph_query import (
        condensation,
        strongly_connected_components,
        topological_layers,
    )

    ids = list(range(14))
    pairs = []
    for a in ids:
        for b in ids:
            if a == b:
                continue
            h = hashlib.md5(f"scc|{a}|{b}".encode()).hexdigest()
            if int(h[:4], 16) < 0x2000:
                pairs.append((a, b))
    edges = spark.createDataFrame(pairs, "src long, dst long")
    nodes = spark.createDataFrame([(n,) for n in ids], "id long")
    scc = strongly_connected_components(edges, nodes, max_rounds=32)
    cond = condensation(edges, scc).select(
        F.col("src_scc").alias("src"), F.col("dst_scc").alias("dst")
    )
    qnodes = scc.select(F.col("scc").alias("id")).dropDuplicates()
    got = {
        r.id: r.layer
        for r in topological_layers(cond, qnodes).collect()
    }

    sccmap = _scc_brute(pairs, ids)
    qe = {(sccmap[a], sccmap[b]) for a, b in pairs if sccmap[a] != sccmap[b]}
    qn = set(sccmap.values())
    # brute longest-path layering
    want, rest, lvl = {}, set(qn), 0
    while rest:
        ready = {v for v in rest if not any(d == v and s in rest for s, d in qe)}
        for v in ready:
            want[v] = lvl
        rest -= ready
        lvl += 1
    assert got == want


def test_maximal_matching_equals_sequential_greedy(spark):
    import hashlib

    from kgforge.plans.graph_query import maximal_matching

    ids = list(range(20))
    pairs = []
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            h = hashlib.md5(f"mm-g|{a}|{b}".encode()).hexdigest()
            if int(h[:4], 16) < 0x3000:
                pairs.append((a, b))
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {(r.a, r.b) for r in maximal_matching(edges).collect()}

    # sequential greedy by ascending priority == the parallel fixpoint
    def pr(a, b):
        return (
            hashlib.md5(f"mm|{a}|{b}".encode()).hexdigest()
            + str(a).zfill(20) + str(b).zfill(20)
        )

    want, used = set(), set()
    for a, b in sorted(pairs, key=lambda e: pr(*e)):
        if a not in used and b not in used:
            want.add((a, b))
            used.update((a, b))
    assert got == want

    # vertex-disjoint
    eps = [x for e in got for x in e]
    assert len(eps) == len(set(eps))
    # maximal: every input edge touches a matched vertex
    assert all(a in set(eps) or b in set(eps) for a, b in pairs)


def test_maximal_matching_fixed_rounds_and_edge_cases(spark):
    from kgforge.plans.graph_query import maximal_matching

    # single edge, duplicate + reversed + self-loop noise
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3)], "src long, dst long"
    )
    got = [(r.a, r.b) for r in maximal_matching(edges).collect()]
    assert got == [(1, 2)]
    # rounds=1 is a subset of the fixpoint
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    one = {(r.a, r.b) for r in maximal_matching(path, rounds=1).collect()}
    full = {(r.a, r.b) for r in maximal_matching(path).collect()}
    assert one <= full and full


# ---------------------------------------------------------------------
# degree assortativity / reciprocity / link prediction (r5 session 7)
# ---------------------------------------------------------------------


def test_assortativity_path_graph_exact(spark):
    # P4 (1-2-3-4): Newman's coefficient is exactly -1/2.
    from kgforge.plans.graph_query import degree_assortativity

    row = degree_assortativity(
        _edges(spark, [(1, 2), (2, 3), (3, 4)])
    ).collect()[0]
    assert row.n == 6  # both orientations of each of 3 edges
    # r = slope_num / sqrt(slope_den * syy_det) = -4 / sqrt(64)
    assert (int(row.slope_num), int(row.slope_den), int(row.syy_det)) == (
        -4,
        8,
        8,
    )


def test_assortativity_regular_graph_degenerate(spark):
    # 4-cycle: all degrees equal -> zero variance determinants.
    from kgforge.plans.graph_query import degree_assortativity

    row = degree_assortativity(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    ).collect()[0]
    assert int(row.slope_den) == 0 and int(row.syy_det) == 0


def test_assortativity_dedups_and_drops_loops(spark):
    from kgforge.plans.graph_query import degree_assortativity

    base = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    noisy = _edges(
        spark, [(1, 2), (2, 1), (2, 3), (3, 4), (3, 4), (2, 2)]
    )
    assert (
        degree_assortativity(base).collect()
        == degree_assortativity(noisy).collect()
    )


def test_reciprocity_counts(spark):
    from kgforge.plans.graph_query import reciprocity_counts

    row = reciprocity_counts(
        _edges(spark, [(1, 2), (2, 1), (1, 3), (3, 3), (1, 2)])
    ).collect()[0]
    assert (row.n_edges, row.n_reciprocated, row.n_self_loops) == (3, 2, 1)


def test_link_prediction_square(spark):
    # C4: the two diagonals are the only candidates, each with 2
    # common neighbors and endpoint degrees 2.
    from kgforge.plans.graph_query import link_prediction_scores

    got = sorted(
        (r.a, r.b, r.common, r.deg_a, r.deg_b)
        for r in link_prediction_scores(
            _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
        ).collect()
    )
    assert got == [(1, 3, 2, 2, 2), (2, 4, 2, 2, 2)]


def test_link_prediction_excludes_existing_edges(spark):
    # triangle + pendant: (1,3) IS an edge -> excluded even though the
    # pair shares neighbor 2; candidate (2,4) shares neighbor 1.
    from kgforge.plans.graph_query import link_prediction_scores

    got = sorted(
        (r.a, r.b, r.common)
        for r in link_prediction_scores(
            _edges(spark, [(1, 2), (2, 3), (1, 3), (1, 4)])
        ).collect()
    )
    assert got == [(2, 4, 1), (3, 4, 1)]


def test_link_prediction_degree_cap_recomputes_degrees(spark):
    # star hub 9 with leaves 1..4: uncapped, all leaf pairs share the
    # hub; capping the hub's degree (as a wedge center) removes every
    # candidate that relied on it.
    from kgforge.plans.graph_query import link_prediction_scores

    e = _edges(spark, [(1, 9), (2, 9), (3, 9), (4, 9), (1, 2)])
    uncapped = link_prediction_scores(e).collect()
    assert {(r.a, r.b) for r in uncapped} >= {(1, 3), (2, 3), (3, 4)}
    capped = link_prediction_scores(e, max_degree=3).collect()
    # hub (degree 4) is dropped as a wedge CENTER; the only wedges left
    # run through nodes 1 and 2, and both pairs they witness ((1,9),
    # (2,9)) are existing edges -> zero candidates.
    assert capped == []


def test_local_clustering_triangle_pendant_and_k4(spark):
    from kgforge.plans.graph_query import local_clustering

    got = {
        r.id: (r.triangles, r.deg)
        for r in local_clustering(
            _edges(spark, [(1, 2), (2, 3), (1, 3), (1, 4)])
        ).collect()
    }
    assert got == {1: (1, 3), 2: (1, 2), 3: (1, 2), 4: (0, 1)}
    k4 = _edges(
        spark, [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    )
    assert {
        (r.id, r.triangles, r.deg) for r in local_clustering(k4).collect()
    } == {(i, 3, 3) for i in range(1, 5)}


def test_eccentricity_path_graph(spark):
    # path 1-2-3-4-5: ecc = [4,3,2,3,4], all reach the other 4 nodes
    from kgforge.plans.graph_query import diameter_bound, eccentricity

    e = symmetrize(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]))
    lm = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    out = {r.id: (r.ecc, r.n_reached) for r in eccentricity(e, lm).collect()}
    assert out == {1: (4, 4), 2: (3, 4), 3: (2, 4), 4: (3, 4), 5: (4, 4)}
    d = diameter_bound(eccentricity(e, lm)).collect()[0]
    assert (d.diameter, d.radius) == (4, 2)


def test_eccentricity_disconnected_and_isolated(spark):
    # component {1,2} + isolated landmark 9: ecc 0, n_reached 0
    from kgforge.plans.graph_query import eccentricity

    e = symmetrize(_edges(spark, [(1, 2)]))
    lm = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    out = {r.id: (r.ecc, r.n_reached) for r in eccentricity(e, lm).collect()}
    assert out == {1: (1, 1), 2: (1, 1), 9: (0, 0)}


def test_eccentricity_max_hops_truncates(spark):
    from kgforge.plans.graph_query import eccentricity

    e = symmetrize(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]))
    lm = spark.createDataFrame([(1,)], "id long")
    out = eccentricity(e, lm, max_hops=2).collect()[0]
    assert (out.ecc, out.n_reached) == (2, 2)


def test_modularity_two_cliques_exact(spark):
    # Two triangles joined by one bridge edge, communities = the
    # triangles. 2m = 14. Per community: internal = 6, degree_sum = 7.
    # contrib_num = 6*14 - 49 = 35 each; Q = 70/196 = 5/14.
    from kgforge.plans.graph_query import modularity_parts, modularity_score

    e = symmetrize(
        _edges(
            spark,
            [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        )
    )
    lab = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)],
        "id long, community long",
    )
    parts = {
        r.community: (r.internal, r.degree_sum, r.contrib_num)
        for r in modularity_parts(e, lab).collect()
    }
    assert parts == {0: (6, 7, 35), 1: (6, 7, 35)}
    assert modularity_score(e, lab) == pytest.approx(5.0 / 14.0)


def test_modularity_single_community_zero(spark):
    # everything in one community: internal = 2m, degree_sum = 2m,
    # contrib_num = 2m*2m - (2m)^2 = 0 -> Q = 0
    from kgforge.plans.graph_query import modularity_parts, modularity_score

    e = symmetrize(_edges(spark, [(1, 2), (2, 3)]))
    lab = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 7)], "id long, community long"
    )
    rows = modularity_parts(e, lab).collect()
    assert len(rows) == 1 and rows[0].contrib_num == 0
    assert modularity_score(e, lab) == 0.0


def test_modularity_internal_vs_degree_asymmetry(spark):
    # bridge-heavy split: community {1,2} vs {3}: internal counts only
    # both-endpoint edges — a swapped-column bug would flip these.
    from kgforge.plans.graph_query import modularity_parts

    e = symmetrize(_edges(spark, [(1, 2), (2, 3)]))
    lab = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "id long, community long"
    )
    parts = {
        r.community: (r.internal, r.degree_sum)
        for r in modularity_parts(e, lab).collect()
    }
    assert parts == {0: (2, 3), 1: (0, 1)}


def test_feature_propagation_path_two_rounds(spark):
    # path 1-2-3 (symmetrized), f = id. Round 1: n1 <- {2}: (2,1);
    # n2 <- {1,3}: (4,2); n3 <- {2}: (2,1).
    # Round 2: n1 <- n2 state (4,2); n2 <- n1+n3 (4,2); n3 <- (4,2).
    from kgforge.plans.graph_query import feature_propagation

    e = symmetrize(_edges(spark, [(1, 2), (2, 3)]))
    f = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id long, f long")
    r1 = {
        r.id: (r.f_sum, r.f_cnt)
        for r in feature_propagation(e, f, n_rounds=1).collect()
    }
    assert r1 == {1: (2, 1), 2: (4, 2), 3: (2, 1)}
    r2 = {
        r.id: (r.f_sum, r.f_cnt)
        for r in feature_propagation(e, f, n_rounds=2).collect()
    }
    assert r2 == {1: (4, 2), 2: (4, 2), 3: (4, 2)}


def test_feature_propagation_source_zeroes_out(spark):
    # directed 1->2: node 1 has no in-neighbors -> (0,0) after round 1;
    # round 2 at node 2 counts length-2 WALKS ending there — none exist
    # (f_cnt sums neighbor supports, not message counts), so (0,0).
    from kgforge.plans.graph_query import feature_propagation

    e = _edges(spark, [(1, 2)])
    f = spark.createDataFrame([(1, 5), (2, 7)], "id long, f long")
    r1 = {
        r.id: (r.f_sum, r.f_cnt)
        for r in feature_propagation(e, f, n_rounds=1).collect()
    }
    assert r1 == {1: (0, 0), 2: (5, 1)}
    r2 = {
        r.id: (r.f_sum, r.f_cnt)
        for r in feature_propagation(e, f, n_rounds=2).collect()
    }
    assert r2 == {1: (0, 0), 2: (0, 0)}


def _n2v_replay(edge_pairs, starts, walk_len, n_walks, wr, wc, wf, seed):
    import hashlib

    out_nbrs = {}
    eset = set()
    for a, b in edge_pairs:
        a, b = str(a), str(b)
        if (a, b) not in eset:
            eset.add((a, b))
            out_nbrs.setdefault(a, []).append(b)
    walks = {}
    for s in starts:
        for w in range(n_walks):
            wid = f"{s}#{w}"
            prev, cur, path = None, str(s), [str(s)]
            for step in range(walk_len):
                nbrs = sorted(out_nbrs.get(cur, []))
                if not nbrs:
                    break
                weights = []
                for d in nbrs:
                    if prev is None:
                        weights.append(1)
                    elif d == prev:
                        weights.append(wr)
                    elif (prev, d) in eset:
                        weights.append(wc)
                    else:
                        weights.append(wf)
                tot = sum(weights)
                u = (
                    int(
                        hashlib.md5(
                            f"{seed}|{wid}|{step}".encode()
                        ).hexdigest()[:12],
                        16,
                    )
                    % tot
                )
                cum = 0
                for d, w_ in zip(nbrs, weights):
                    cum += w_
                    if u < cum:
                        prev, cur = cur, d
                        path.append(d)
                        break
            walks[wid] = path
    return walks


def test_node2vec_walks_match_python_replay(spark):
    from kgforge.plans.graph_query import node2vec_walks

    # triangle 1-2-3 plus tail 3-4, symmetrized: all three weight
    # classes occur (return, common=triangle step, far)
    base = [(1, 2), (2, 3), (1, 3), (3, 4)]
    pairs = base + [(b, a) for a, b in base]
    e = _edges(spark, pairs)
    for wr, wc, wf in [(1, 1, 1), (1, 2, 4), (6, 1, 1), (1, 1, 9)]:
        got = {
            r.walk_id: list(r.path)
            for r in node2vec_walks(
                e, walk_len=4, n_walks=2,
                w_return=wr, w_common=wc, w_far=wf, seed="t",
            ).collect()
        }
        want = _n2v_replay(
            pairs, [1, 2, 3, 4], 4, 2, wr, wc, wf, "t"
        )
        assert got == want, (wr, wc, wf)


def test_node2vec_sink_stops_and_duplicates_dropped(spark):
    from kgforge.plans.graph_query import node2vec_walks

    # directed chain with a duplicated edge: 3 is a sink
    e = _edges(spark, [(1, 2), (1, 2), (2, 3)])
    got = {
        r.walk_id: list(r.path)
        for r in node2vec_walks(e, walk_len=5, seed="t").collect()
    }
    assert got["1#0"] == ["1", "2", "3"]
    assert got["3#0"] == ["3"]


def test_node2vec_validates_weights(spark):
    from kgforge.plans.graph_query import node2vec_walks

    with pytest.raises(ValueError):
        node2vec_walks(_edges(spark, [(1, 2)]), 2, w_return=0)


def test_coreness_triangle_tail_converges(spark):
    # triangle {1,2,3} + tail 3-4-5: coreness 2 on the triangle, 1 on
    # the tail; isolated 9 stays 0
    from kgforge.plans.graph_query import coreness

    e = symmetrize(_edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]))
    n = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 9)], "id long")
    out = {r.id: r.c for r in coreness(e, n).collect()}
    assert out == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1, 9: 0}


def test_coreness_clique_and_fixed_rounds_monotone(spark):
    from kgforge.plans.graph_query import coreness

    k4 = symmetrize(
        _edges(spark, [(a, b) for a in range(4) for b in range(4) if a < b])
    )
    n = spark.createDataFrame([(i,) for i in range(4)], "id long")
    assert {r.c for r in coreness(k4, n).collect()} == {3}
    # round 0 state is the degree; fixed rounds never increase values
    r0 = {r.id: r.c for r in coreness(k4, n, n_rounds=0).collect()}
    assert r0 == {i: 3 for i in range(4)}
    star = symmetrize(_edges(spark, [(0, i) for i in range(1, 6)]))
    sn = spark.createDataFrame([(i,) for i in range(6)], "id long")
    s0 = {r.id: r.c for r in coreness(star, sn, n_rounds=0).collect()}
    s1 = {r.id: r.c for r in coreness(star, sn, n_rounds=1).collect()}
    assert s0[0] == 5 and s1[0] == 1  # hub's h-index collapses
    assert all(s1[i] <= s0[i] for i in s0)
    assert {r.c for r in coreness(star, sn).collect()} == {1}


def test_coreness_fixpoint_raises_when_max_rounds_run_out(spark):
    """On a path, values tighten one hop per round from the ends: after
    one round the middle of a 6-node path still reads 2 instead of 1, so a
    fixpoint capped at one round must raise, not return that."""
    from kgforge.plans.graph_query import coreness

    path = symmetrize(_edges(spark, [(i, i + 1) for i in range(5)]))
    n = spark.createDataFrame([(i,) for i in range(6)], "id long")
    with pytest.raises(RuntimeError, match="max_rounds=1"):
        coreness(path, n, max_rounds=1)
