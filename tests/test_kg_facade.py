"""KnowledgeGraph facade parity with the reference's tests/test_kg.py:
ontology-constrained add_node/add_edge accept valid input and raise on
schema violations; process + match + export round-trip."""

from __future__ import annotations

import pytest

from kgforge.kg import KnowledgeGraph
from kgforge.ontology import Attribute, Entity, Ontology, Relation


@pytest.fixture()
def kg(spark, workdir):
    # the minimal ontology from the reference's tests/test_kg.py:25-67:
    # Actor(name!*), Movie(title!*), ACTED_IN(role)
    onto = Ontology(
        entities=[
            Entity("Actor", [Attribute("name", "string", True, True)]),
            Entity("Movie", [Attribute("title", "string", True, True)]),
        ],
        relations=[
            Relation("ACTED_IN", "Actor", "Movie", [Attribute("role", "string")]),
        ],
    )
    return KnowledgeGraph(spark, onto, workdir)


def test_add_node_valid(kg):
    kg.add_node("Actor", {"name": "Tom Hanks"})
    rows = kg.nodes().collect()
    assert len(rows) == 1 and rows[0].key == "Tom Hanks"


def test_add_node_unknown_label_raises(kg):
    with pytest.raises(ValueError, match="not in ontology"):
        kg.add_node("Director", {"name": "X"})


def test_add_node_unknown_attribute_raises(kg):
    with pytest.raises(ValueError, match="not defined"):
        kg.add_node("Actor", {"name": "X", "oscar_count": "3"})


def test_add_node_missing_required_raises(kg):
    with pytest.raises(ValueError, match="required"):
        kg.add_node("Actor", {})


def test_add_node_wrong_type_raises(kg):
    with pytest.raises(ValueError, match="must be a string"):
        kg.add_node("Actor", {"name": 42})


def test_add_node_merge_updates_props(kg, spark):
    onto = Ontology(
        entities=[
            Entity(
                "Movie",
                [
                    Attribute("title", "string", True, True),
                    Attribute("rating", "string"),
                ],
            ),
        ],
        relations=[],
    )
    kg2 = KnowledgeGraph(spark, onto, kg.out_dir + "_m")
    kg2.add_node("Movie", {"title": "Heat", "rating": "R"})
    kg2.add_node("Movie", {"title": "Heat", "rating": "PG-13"})
    rows = kg2.nodes().collect()
    assert len(rows) == 1
    assert rows[0].props["rating"] == "PG-13"  # SET n += overwrites


def test_add_edge_valid_and_silent_drop(kg):
    kg.add_node("Actor", {"name": "Tom Hanks"})
    kg.add_node("Movie", {"title": "Cast Away"})
    ok = kg.add_edge(
        "ACTED_IN", "Actor", "Movie",
        {"name": "Tom Hanks"}, {"title": "Cast Away"}, {"role": "Chuck"},
    )
    assert ok
    # endpoint missing -> silently not created (extract_data_step.py:266)
    missing = kg.add_edge(
        "ACTED_IN", "Actor", "Movie",
        {"name": "Nobody"}, {"title": "Cast Away"},
    )
    assert missing is False
    assert kg.edges().count() == 1


def test_add_edge_unknown_relation_raises(kg):
    with pytest.raises(ValueError, match="not in ontology"):
        kg.add_edge("DIRECTED", "Actor", "Movie", {"name": "X"}, {"title": "Y"})


def test_add_edge_wrong_direction_raises(kg):
    with pytest.raises(ValueError, match="does not connect"):
        kg.add_edge(
            "ACTED_IN", "Movie", "Actor", {"title": "Y"}, {"name": "X"}
        )


def test_edge_idempotent_merge(kg):
    kg.add_node("Actor", {"name": "A"})
    kg.add_node("Movie", {"title": "M"})
    kg.add_edge("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"})
    kg.add_edge(
        "ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"},
        {"role": "lead"},
    )
    rows = kg.edges().collect()
    assert len(rows) == 1 and rows[0].props["role"] == "lead"


def test_edge_merge_preserves_unmentioned_props(kg):
    """SET r += : re-adding an edge with a SUBSET of attributes must keep
    the old edge's other properties (ADVICE r01: the old row was dropped
    wholesale, silently losing data)."""
    kg.add_node("Actor", {"name": "A"})
    kg.add_node("Movie", {"title": "M"})
    kg.add_edge(
        "ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"},
        {"role": "lead"},
    )
    # second MERGE mentions no attributes at all
    kg.add_edge("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"})
    rows = kg.edges().collect()
    assert len(rows) == 1 and rows[0].props["role"] == "lead"


def test_batch_add_nodes_and_edges(kg):
    """100-row batch: one write per call, MERGE semantics identical to
    sequential per-row calls (within-batch duplicates last-wins)."""
    actors = [("Actor", {"name": f"A{i}"}) for i in range(50)]
    movies = [("Movie", {"title": f"M{i}"}) for i in range(49)]
    # duplicate key within the batch: later row wins, one node results
    movies += [("Movie", {"title": "M0"})]
    kg.add_nodes(actors + movies)
    nodes = kg.nodes()
    assert nodes.count() == 99
    assert nodes.filter("label = 'Movie'").count() == 49

    edges = [
        ("ACTED_IN", "Actor", "Movie", {"name": f"A{i}"},
         {"title": f"M{i % 49}"}, {"role": f"r{i}"})
        for i in range(50)
    ]
    # one edge with a missing endpoint: silently dropped, not an error
    edges.append(
        ("ACTED_IN", "Actor", "Movie", {"name": "Nobody"}, {"title": "M0"})
    )
    n = kg.add_edges(edges)
    assert n == 50
    assert kg.edges().count() == 50
    # batch update overlays props without losing old ones
    n2 = kg.add_edges(
        [("ACTED_IN", "Actor", "Movie", {"name": "A1"}, {"title": "M1"}, {})]
    )
    assert n2 == 1
    row = kg.edges().filter("src_key = 'A1'").first()
    assert row.props["role"] == "r1"

    # an update counts as written and overwrites the prop in place
    n3 = kg.add_edges(
        [("ACTED_IN", "Actor", "Movie", {"name": "A2"}, {"title": "M2"},
          {"role": "fast"})],
    )
    assert n3 == 1
    assert kg.edges().filter("src_key = 'A2'").first().props["role"] == "fast"
    assert kg.edges().count() == 50  # upsert, no duplicate rows


def test_process_match_export_delete(spark, workdir):
    from kgforge.sources.pages import corpus_to_spark, generate_corpus, movies_ontology

    corpus = generate_corpus(n_pages=16, seed=42)
    pages, _, _ = corpus_to_spark(spark, corpus)
    kg = KnowledgeGraph(spark, movies_ontology(), f"{workdir}/graph")
    out = kg.process_pages(pages)
    assert out["triples"].count() > 0
    directed = kg.match("Person", "DIRECTED", "Movie")
    assert directed.count() > 0
    kg.register_views("kgv")
    n = spark.sql(
        "SELECT count(*) AS n FROM kgv_edges WHERE label = 'DIRECTED'"
    ).first().n
    assert n == directed.count()
    kg.export_falkordb(f"{workdir}/export")
    assert spark.read.text(f"{workdir}/export/nodes.cypher").count() == kg.nodes().count()
    kg.delete()
    assert kg.nodes() is None


def test_process_sources_text_files(spark, workdir, tmp_path):
    """Reference EP1 via file paths (process_sources): text-only documents
    (html is NULL) must flow through the staged pipeline — regression for
    stage 01 recomputing text from the absent html column."""
    doc = tmp_path / "story.txt"
    doc.write_text(
        "Alan Abbott directed The Dark Tide. "
        "Rosa Xu acted in The Dark Tide as Mara."
    )
    from kgforge.sources.pages import movies_ontology

    kg = KnowledgeGraph(spark, movies_ontology(), f"{workdir}/g")
    out = kg.process_sources([str(doc)])
    triples = {
        (r.subj_key, r.pred, r.obj_key)
        for r in out["triples"].collect()
    }
    assert ("Alan Abbott", "DIRECTED", "The Dark Tide") in triples
    assert ("Rosa Xu", "ACTED_IN", "The Dark Tide") in triples


def test_facade_graph_analytics(kg):
    """kg.pagerank / kg.triangle_counts run over the materialized tables."""
    kg.add_nodes(
        [("Actor", {"name": f"A{i}"}) for i in range(3)]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": f"A{i}"}, {"title": "M"}, {})
            for i in range(3)
        ]
    )
    pr = {(r.label, r.key): r.rank for r in kg.pagerank(n_iter=5).collect()}
    assert len(pr) == 4
    # the movie receives all the mass; actors keep only teleport mass
    assert pr[("Movie", "M")] > pr[("Actor", "A0")]
    assert pr[("Actor", "A0")] == pytest.approx(0.15)
    # star graph has no triangles
    assert kg.triangle_counts().first().n_triangles == 0
    # hop-count SSSP from one actor: itself 0, the movie 1
    d = {
        (r.label, r.key): r.dist
        for r in kg.shortest_path_weights(
            [("Actor", "A0")]
        ).collect()
    }
    assert d == {("Actor", "A0"): 0.0, ("Movie", "M"): 1.0}
    # closeness on the undirected star: the hub reaches all 3 actors at 1
    c = {
        (r.label, r.key): (r.n_reached, r.total_dist)
        for r in kg.closeness(
            [("Movie", "M"), ("Actor", "A1")]
        ).collect()
    }
    assert c[("Movie", "M")] == (3, 3)
    assert c[("Actor", "A1")] == (3, 5)  # hub at 1, two actors at 2
    # the star is one LPA community
    comm = {r.community for r in kg.communities().collect()}
    assert len(comm) == 1


def test_facade_k_core(kg):
    """The ACTED_IN star has max degree 3 at the hub but every actor has
    degree 1: any k >= 2 empties the core; k=1 keeps everyone."""
    kg.add_nodes(
        [("Actor", {"name": f"A{i}"}) for i in range(3)]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie",
             {"name": f"A{i}"}, {"title": "M"}, {})
            for i in range(3)
        ]
    )
    all_nodes = {(r.label, r.key) for r in kg.k_core(k=1).collect()}
    assert ("Movie", "M") in all_nodes and len(all_nodes) == 4
    assert kg.k_core(k=2).count() == 0


def test_facade_shortest_path_route(kg):
    """kg.shortest_path_route (r5): textual cheapest routes from one
    source, facade twin of CALL algo.SSpaths YIELD path."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = {
        (r.label, r.key): (r.dist, r.route)
        for r in kg.shortest_path_route(("Actor", "A")).collect()
    }
    assert out == {
        ("Actor", "A"): (0.0, "A"),
        ("Movie", "M"): (1.0, "A->M"),
    }


def test_facade_k_cheapest_routes(kg, spark):
    """kg.k_cheapest_routes (r5): the k cheapest simple routes per
    destination, facade twin of CALL algo.SSpaths({pathCount: k})."""
    onto = Ontology(
        entities=[
            Entity("Actor", [Attribute("name", "string", True, True)]),
            Entity("Movie", [Attribute("title", "string", True, True)]),
        ],
        relations=[
            Relation("ACTED_IN", "Actor", "Movie", []),
            Relation("SEQUEL_OF", "Movie", "Movie", []),
        ],
    )
    kg2 = KnowledgeGraph(spark, onto, kg.out_dir + "_kroutes")
    kg2.add_nodes(
        [("Actor", {"name": "A"})]
        + [("Movie", {"title": t}) for t in ("M1", "M2")]
    )
    kg2.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M1"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M2"}, {}),
            ("SEQUEL_OF", "Movie", "Movie", {"title": "M1"}, {"title": "M2"}, {}),
        ]
    )
    out = {
        (r.key, r.rank): (r.dist, r.route)
        for r in kg2.k_cheapest_routes(("Actor", "A"), k=2).collect()
    }
    assert out == {
        ("A", 1): (0.0, "A"),
        ("M1", 1): (1.0, "A->M1"),
        ("M2", 1): (1.0, "A->M2"),
        ("M2", 2): (2.0, "A->M1->M2"),
    }


def test_facade_betweenness(kg):
    """kg.betweenness (r5): path A -ACTED_IN-> M <-ACTED_IN- B on the
    undirected projection makes M the only interior node (bc = 2: the
    A<->B unordered pair counts twice, directed convention)."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = {(r.label, r.key): r.bc for r in kg.betweenness().collect()}
    assert out == {
        ("Actor", "A"): 0.0,
        ("Actor", "B"): 0.0,
        ("Movie", "M"): 2.0,
    }


def test_facade_harmonic(kg):
    """kg.harmonic (r5): well-defined on the disconnected projection;
    path A-M-B gives M 1+1=2, ends 1+1/2=1.5."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = {(r.label, r.key): r.harmonic for r in kg.harmonic().collect()}
    assert out[("Movie", "M")] == pytest.approx(2.0)
    assert out[("Actor", "A")] == pytest.approx(1.5)
    assert out[("Actor", "B")] == pytest.approx(1.5)


def test_facade_random_walks(kg):
    """kg.random_walks (r5): key-text routes, n_walks fan-out, walk
    continuity over the undirected projection."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = kg.random_walks(walk_len=2, n_walks=2).collect()
    assert len(out) == 6  # 3 nodes x 2 walks
    legal = {("A", "M"), ("B", "M"), ("M", "A"), ("M", "B")}
    for r in out:
        hops = r.route.split("->")
        assert hops[0] == r.start_key and len(hops) == 3
        for a, b in zip(hops, hops[1:]):
            assert (a, b) in legal


def test_facade_k_truss_independent_set_neighborhood(kg):
    """Session-4 graph facades on the ACTED_IN star: bipartite graphs
    have no triangles (k_truss empty); the MIS is either the hub or all
    leaves, never a mix; radius-1 HyperBall sizes match exact degrees
    in the linear-counting regime."""
    kg.add_nodes(
        [("Actor", {"name": f"A{i}"}) for i in range(3)]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie",
             {"name": f"A{i}"}, {"title": "M"}, {})
            for i in range(3)
        ]
    )
    assert kg.k_truss(k=3).count() == 0  # bipartite: no triangles

    mis = {(r.label, r.key) for r in kg.independent_set().collect()}
    actors = {("Actor", f"A{i}") for i in range(3)}
    assert mis == {("Movie", "M")} or mis == actors

    sizes = {
        (r.label, r.key): r.est
        for r in kg.neighborhood_sizes(radius=1).collect()
    }
    assert sizes[("Movie", "M")] in (3, 4)  # self + 3 actors, +-collision
    for i in range(3):
        assert sizes[("Actor", f"A{i}")] == 2


def test_facade_personalized_rank(kg):
    """PPR from one actor on the star: the hub movie accrues rank,
    unrelated actors only via hub round-trips (strictly less than the
    hub); the seed itself keeps the teleport mass."""
    import pytest

    kg.add_nodes(
        [("Actor", {"name": f"A{i}"}) for i in range(3)]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie",
             {"name": f"A{i}"}, {"title": "M"}, {})
            for i in range(3)
        ]
    )
    r = {
        (x.label, x.key): x.rank
        for x in kg.personalized_rank([("Actor", "A0")]).collect()
    }
    assert r[("Actor", "A0")] > 0
    assert r[("Movie", "M")] > 0
    assert r[("Movie", "M")] > r[("Actor", "A1")]
    assert r[("Actor", "A1")] == r[("Actor", "A2")]
    with pytest.raises(ValueError):
        kg.personalized_rank([])


def test_kg_facade_scc_layers_matching(spark, workdir):
    """SCC family facades: a ROAD cycle a->b->c->a plus a spur c->d.
    scc groups the cycle, dependency_layers puts the cycle at wave 0
    and the spur at 1, matching pairs disjoint nodes."""
    from kgforge.kg import KnowledgeGraph
    from kgforge.ontology import Attribute, Entity, Ontology, Relation

    onto = Ontology(
        entities=[Entity("City", [Attribute("name", "string", True, True)])],
        relations=[Relation("ROAD", "City", "City", [])],
    )
    kg = KnowledgeGraph(spark, onto, workdir)
    kg.add_nodes([("City", {"name": c}) for c in "abcd"])
    kg.add_edges([
        ("ROAD", "City", "City", {"name": s}, {"name": d}, {})
        for s, d in [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    ])

    scc = {r.key: r.scc_key for r in kg.scc().collect()}
    assert scc["a"] == scc["b"] == scc["c"]
    assert scc["d"] == "d" and scc["d"] != scc["a"]

    layers = {r.key: r.layer for r in kg.dependency_layers().collect()}
    assert layers["a"] == layers["b"] == layers["c"] == 0
    assert layers["d"] == 1

    m = [
        (r.key_a, r.key_b) for r in kg.matching().collect()
    ]
    eps = [x for p in m for x in p]
    assert m and len(eps) == len(set(eps))  # disjoint, non-empty


def test_facade_link_predictions_and_clustering(kg):
    """kg.link_predictions (r5 s7): co-star pairs sharing a movie but
    not directly connected are the candidates; kg.clustering: the
    bipartite projection has zero triangles."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B", "C")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": n}, {"title": "M"}, {})
            for n in ("A", "B", "C")
        ]
    )
    cand = {
        frozenset([r.key_a, r.key_b]): (r.common, r.deg_a, r.deg_b)
        for r in kg.link_predictions().collect()
    }
    # three co-star pairs, each sharing exactly movie M, degree 1 each
    assert cand == {
        frozenset(["A", "B"]): (1, 1, 1),
        frozenset(["A", "C"]): (1, 1, 1),
        frozenset(["B", "C"]): (1, 1, 1),
    }
    cl = {(r.label, r.key): (r.triangles, r.deg)
          for r in kg.clustering().collect()}
    assert cl == {
        ("Actor", "A"): (0, 1),
        ("Actor", "B"): (0, 1),
        ("Actor", "C"): (0, 1),
        ("Movie", "M"): (0, 3),
    }


def test_facade_eccentricity_and_modularity(kg):
    """kg.eccentricity / kg.modularity (r5 s8): path A-M-B undirected;
    ecc(M)=1, ecc(ends)=2; LPA on a 3-path converges to one community
    -> Q = 0."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = {
        (r.label, r.key): (r.ecc, r.n_reached)
        for r in kg.eccentricity().collect()
    }
    assert out == {
        ("Actor", "A"): (2, 2),
        ("Actor", "B"): (2, 2),
        ("Movie", "M"): (1, 2),
    }
    assert kg.modularity() == pytest.approx(0.0)


def test_facade_feature_prop(spark, workdir):
    """kg.feature_prop (r5 s8): numeric prop propagates as walk sums
    over the undirected projection; missing/non-numeric props count 0."""
    onto = Ontology(
        entities=[
            Entity(
                "Actor",
                [
                    Attribute("name", "string", True, True),
                    Attribute("wins", "string"),
                ],
            ),
            Entity("Movie", [Attribute("title", "string", True, True)]),
        ],
        relations=[
            Relation("ACTED_IN", "Actor", "Movie", []),
        ],
    )
    kg = KnowledgeGraph(spark, onto, workdir)
    kg.add_nodes(
        [
            ("Actor", {"name": "A", "wins": "4"}),
            ("Actor", {"name": "B", "wins": "oops"}),
            ("Movie", {"title": "M"}),
        ]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = {
        (r.label, r.key): (r.f_sum, r.f_cnt)
        for r in kg.feature_prop("wins", n_rounds=1).collect()
    }
    # M's neighbors: A(4) + B(0 — non-numeric) with 2 walks; ends see M(0)
    assert out == {
        ("Actor", "A"): (0, 1),
        ("Actor", "B"): (0, 1),
        ("Movie", "M"): (4, 2),
    }


def test_facade_node2vec(kg):
    """kg.node2vec (r5 s8): biased walk corpus — same route contract as
    kg.random_walks; on the A-M-B path every hop is legal and weights
    only re-rank legal hops."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = kg.node2vec(walk_len=2, n_walks=2, w_return=1, w_far=9).collect()
    assert len(out) == 6
    legal = {("A", "M"), ("B", "M"), ("M", "A"), ("M", "B")}
    for r in out:
        hops = r.route.split("->")
        assert hops[0] == r.start_key and len(hops) == 3
        for a, b in zip(hops, hops[1:]):
            assert (a, b) in legal


def test_facade_coreness(kg):
    """kg.coreness (r5 s8): path A-M-B is a 1-core everywhere."""
    kg.add_nodes(
        [("Actor", {"name": n}) for n in ("A", "B")]
        + [("Movie", {"title": "M"})]
    )
    kg.add_edges(
        [
            ("ACTED_IN", "Actor", "Movie", {"name": "A"}, {"title": "M"}, {}),
            ("ACTED_IN", "Actor", "Movie", {"name": "B"}, {"title": "M"}, {}),
        ]
    )
    out = {(r.label, r.key): r.coreness for r in kg.coreness().collect()}
    assert out == {
        ("Actor", "A"): 1,
        ("Actor", "B"): 1,
        ("Movie", "M"): 1,
    }
