"""Node variables resolved from the edge row (plans/cypher_exec.py).

A node variable whose properties a query never reads takes its id, key
and label check from the KG edge table's endpoint columns instead of a
join with the nodes table. That is sound only while every edge row names
its endpoint nodes truly, so this file checks both halves: the same
queries over edge frames with and without the endpoint columns (without
them the executor falls back to the node joins) give the same rows, and
every writer of the edge table leaves each edge's endpoints equal to a
node row.
"""

from __future__ import annotations

import re

import pytest

from kgforge.kg import KnowledgeGraph
from kgforge.plans.cypher_exec import run_cypher
from kgforge.sources.pages import movies_ontology

ENDPOINT_COLS = ("src_label", "src_key", "dst_label", "dst_key")


def _acted(name: str, title: str) -> tuple:
    return ("ACTED_IN", "Person", "Movie", {"name": name}, {"title": title},
            {"role": f"{name} in {title}"})


def _genre(title: str, genre: str) -> tuple:
    return ("HAS_GENRE", "Movie", "Genre", {"title": title}, {"name": genre},
            {})


# "Ana" is both a Person and a Movie key, so a label check that reads the
# wrong endpoint column binds the wrong node; P3 acts in nothing.
NODES = (
    [("Person", {"name": n}) for n in ("P1", "P2", "P3", "Ana")]
    + [("Movie", {"title": t, "rating": r})
       for t, r in (("M1", "5"), ("M2", "7"), ("M3", "2"), ("Ana", "9"))]
    + [("Genre", {"name": g}) for g in ("Noir", "Drama")]
)
EDGES = [
    _acted("P1", "M1"), _acted("P1", "M2"), _acted("P2", "M1"),
    _acted("Ana", "Ana"), _acted("Ana", "M3"),
    _genre("M1", "Noir"), _genre("M2", "Noir"), _genre("M2", "Drama"),
    _genre("Ana", "Drama"),
]

DIFFERENTIAL = [
    # the serving reads: anchored two-hop, top-k
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie)-[:HAS_GENRE]->(g:Genre) "
    "WHERE p.name = 'P1' RETURN DISTINCT m, g ORDER BY m, g",
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) "
    "RETURN p, count(m) AS n ORDER BY n DESC, p LIMIT 5",
    # a middle variable's property is read
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie)-[:HAS_GENRE]->(g:Genre) "
    "RETURN p, m.rating AS rating, g",
    # undirected legs, one with a label that only one orientation fits
    "MATCH (m:Movie)-[:ACTED_IN]-(x) RETURN m, x",
    "MATCH (a:Person)-[:ACTED_IN]-(b) RETURN a, b",
    "MATCH (a:Movie)-[r:HAS_GENRE]-(b:Genre) "
    "RETURN a, b, type(r) AS t",
    # OPTIONAL MATCH
    "MATCH (g:Genre)<-[:HAS_GENRE]-(m:Movie) "
    "OPTIONAL MATCH (m)<-[:ACTED_IN]-(p:Person) RETURN g, m, p",
    # a variable-length leg
    "MATCH (g:Genre)<-[:HAS_GENRE]-(m:Movie)-[:ACTED_IN*1..3]-(x) "
    "RETURN DISTINCT g, x",
    # count(m), count(DISTINCT), collect and id() over resolved vars
    "MATCH (m:Movie)-[:HAS_GENRE]->(g:Genre) "
    "RETURN g, count(m) AS n, collect(m) AS ms",
    "MATCH (p:Person)-[:ACTED_IN]->(m)-[:HAS_GENRE]->(g) "
    "RETURN count(DISTINCT m) AS n, count(*) AS rows",
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) RETURN id(p) AS i, m",
    # anonymous endpoints, unlabeled endpoints, a wrong label
    "MATCH (p:Person)-[:ACTED_IN]->() RETURN p, count(*) AS n",
    "MATCH (a)-[:HAS_GENRE]->(b) RETURN a, b",
    "MATCH (p:Movie)-[:ACTED_IN]->(m) RETURN p, m",
    # a relationship variable, startNode/endNode
    "MATCH (p:Person)-[r:ACTED_IN]->(m:Movie) "
    "RETURN startNode(r) AS s, endNode(r) AS e, r.role AS role",
    # properties(), inline props, a WITH carry and a later stage
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) "
    "RETURN p, properties(m) AS pm",
    "MATCH (p:Person {name: 'Ana'})-[:ACTED_IN]->(m) RETURN m",
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) WITH m, count(p) AS n "
    "MATCH (m)-[:HAS_GENRE]->(g:Genre) RETURN m, n, g",
    # disjoint pattern groups, a pattern predicate, a cycle
    "MATCH (g:Genre), (p:Person)-[:ACTED_IN]->(m:Movie) "
    "RETURN g, p, m",
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) "
    "WHERE NOT (m)-[:HAS_GENRE]->(:Genre) RETURN p, m",
    "MATCH (a:Person)-[:ACTED_IN]->(m:Movie)<-[:ACTED_IN]-(b:Person), "
    "(a)-[:ACTED_IN]->(m2:Movie)<-[:ACTED_IN]-(b) "
    "RETURN a, b, m, m2",
    # UNION sides compile independently
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) RETURN m AS k "
    "UNION MATCH (m:Movie)-[:HAS_GENRE]->(g:Genre) RETURN g AS k",
]


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    kg = KnowledgeGraph(
        spark, movies_ontology(), str(tmp_path_factory.mktemp("edge_res"))
    )
    kg.add_nodes(NODES)
    assert kg.add_edges(EDGES) == len(EDGES)
    yield kg
    kg.delete()


def _rows(df) -> list:
    return sorted(
        tuple(
            tuple(v) if isinstance(v, list) else v for v in r
        )
        for r in df.collect()
    )


def node_scans(df) -> int:
    """How many times the plan of `df` reads the nodes table. The analyzed
    plan is counted: the optimizer folds a local relation and the filters
    over it into one relation, which no longer shows the table."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"Relation \[node_id#", plan))


@pytest.mark.parametrize("cypher", DIFFERENTIAL)
def test_edge_resolution_matches_node_joins(kg, cypher):
    nodes, edges = kg.nodes(), kg.edges()
    resolved = run_cypher(cypher, nodes, edges)
    joined = run_cypher(cypher, nodes, edges.drop(*ENDPOINT_COLS))
    assert _rows(resolved) == _rows(joined)


def test_resolution_drops_node_joins(kg):
    """The queries above do take the edge-resolved plan: the two-hop
    joins only its anchor, the top-k no node at all, and a variable
    whose property is read keeps its join."""
    nodes, edges = kg.nodes(), kg.edges()
    plain = edges.drop(*ENDPOINT_COLS)
    two_hop, top_k, middle_prop = DIFFERENTIAL[:3]
    for cypher, resolved_scans, joined_scans in (
        (two_hop, 1, 3), (top_k, 0, 2), (middle_prop, 1, 3),
    ):
        assert node_scans(run_cypher(cypher, nodes, edges)) == resolved_scans
        assert node_scans(run_cypher(cypher, nodes, plain)) == joined_scans
    assert _rows(run_cypher(two_hop, nodes, edges)) == [
        ("M1", "Noir"), ("M2", "Drama"), ("M2", "Noir"),
    ]


def _dangling(kg_nodes, kg_edges) -> list:
    """Edges whose (id, label, key) on either end matches no node row."""
    ids = {
        (r["node_id"], r["label"], r["key"])
        for r in kg_nodes.select("node_id", "label", "key").collect()
    }
    return [
        r for r in kg_edges.collect()
        if (r["src_id"], r["src_label"], r["src_key"]) not in ids
        or (r["dst_id"], r["dst_label"], r["dst_key"]) not in ids
    ]


def test_every_edge_writer_keeps_endpoints_true(spark, workdir):
    """Referential integrity of the edge table, which the edge-resolved
    plan relies on: after a build held in memory (`build_graph`), a
    committed build (`run_pipeline`), a rebuild from the incremental IR
    (`rematerialize`) and an `add_edges` batch with a dangling endpoint."""
    from kgforge.plans.pipeline import build_graph, run_pipeline
    from kgforge.sources.pages import corpus_to_spark, generate_corpus

    pages, _, _ = corpus_to_spark(spark, generate_corpus(n_pages=6, seed=5))
    mem = build_graph(spark, pages, movies_ontology())
    try:
        assert mem["edges"].count() > 0
        assert _dangling(mem["nodes"], mem["edges"]) == []
    finally:
        mem["unpersist"]()
    disk = run_pipeline(spark, pages, movies_ontology(), f"{workdir}/disk")
    assert _dangling(disk["nodes"], disk["edges"]) == []

    kg = KnowledgeGraph(spark, movies_ontology(), f"{workdir}/inc")
    pages.coalesce(1).write.parquet(f"{workdir}/pages_inc/b1")
    kg.ingest_incremental(f"{workdir}/pages_inc")
    out = kg.rematerialize()
    assert out["edges"].count() > 0
    assert _dangling(out["nodes"], out["edges"]) == []

    n_before = kg.edges().count()
    movie = kg.nodes().where("label = 'Movie'").first()["key"]
    person = kg.nodes().where("label = 'Person'").first()["key"]
    assert kg.add_edges([
        _acted("Nobody", movie),        # dangling source
        _acted(person, "No Such Film"),  # dangling destination
        _acted(person, movie),
    ]) == 1
    assert kg.edges().count() in (n_before, n_before + 1)
    assert _dangling(kg.nodes(), kg.edges()) == []
