"""Write-Cypher replay (plans/cypher_write.py): the reference SDK's
emitted MERGE queries (extract_data_step.py:218-266, entity.py:148)
parsed and batched through kg.add_nodes/add_edges."""

from __future__ import annotations

import pytest

from kgforge.plans.cypher_write import CypherUnsupported, parse_write


def _ontology():
    from kgforge.ontology import Attribute, Entity, Ontology, Relation

    return Ontology(
        entities=[
            Entity(
                "Person",
                [
                    Attribute("name", "string", True, True),
                    Attribute("bio", "string", False, False),
                ],
            ),
            Entity("City", [Attribute("name", "string", True, True)]),
        ],
        relations=[
            Relation(
                "LIVES_IN", "Person", "City",
                [Attribute("since", "string", False, False)],
            ),
        ],
    )


# ------------------------------------------------------------- parsing


def test_parse_node_merge_set_return():
    kind, label, props = parse_write(
        'MERGE (n:Person {name: "O\\"Brien"}) '
        'SET n += {bio: "likes, (parens) and {braces}"} RETURN n'
    )
    assert (kind, label) == ("node", "Person")
    assert props == {
        "name": 'O"Brien',
        "bio": "likes, (parens) and {braces}",
    }


def test_parse_edge_merge_with_props_and_set():
    out = parse_write(
        'MATCH (s:Person {name: "Ana"}) MATCH (t:City {name: "Rio"}) '
        'MERGE (s)-[r:LIVES_IN {since: "2020"}]->(t) '
        'SET r += {since: "2021"} RETURN r'
    )
    assert out == (
        "edge", "LIVES_IN", "Person", "City",
        {"name": "Ana"}, {"name": "Rio"}, {"since": "2021"},
    )


def test_parse_value_types():
    _, _, props = parse_write(
        "MERGE (n:Person {name: 'x', age: 34, score: -1.5, ok: true})"
    )
    assert props == {"name": "x", "age": 34, "score": -1.5, "ok": True}


def test_parse_value_exponent_floats():
    """ADVICE r04: the reference serializer emits non-strings via
    str(value), and Python renders small/large floats exponent-only
    (str(1e-05) == '1e-05') — those must parse as floats, not abort the
    batch. Integer stays int; exponent-int literals become float."""
    _, _, props = parse_write(
        "MERGE (n:Person {name: 'x', tiny: 1e-05, big: -1.5e+20, "
        "sci: 2E3, plain: 7})"
    )
    assert props == {
        "name": "x", "tiny": 1e-05, "big": -1.5e20, "sci": 2000.0,
        "plain": 7,
    }
    assert isinstance(props["plain"], int)
    assert all(
        isinstance(props[k], float) for k in ("tiny", "big", "sci")
    )


def test_parse_rejects_nested_property_map():
    """ADVICE r04: a nested map literal (the reference's list-valued
    attribute rendering) must raise a SPECIFIC error, not mis-parse at
    the first '}'."""
    with pytest.raises(CypherUnsupported, match="nested property map"):
        parse_write(
            "MERGE (n:Person {name: 'x', langs: {0: 'en', 1: 'pt'}})"
        )


def test_parse_rejects_out_of_surface_shapes():
    for bad in [
        "CREATE (n:Person {name: 'x'})",       # reference never emits CREATE
        "MERGE (n:Person {name: 'x'}) DELETE n",
        "MATCH (s:Person) MERGE (s)-[r:L]->(s)",  # single MATCH
        "MERGE (n:Person {name: f(1)})",
        "MATCH (s:Person {name:'a'}) MATCH (t:City {name:'b'}) "
        "MERGE (t)-[r:LIVES_IN]->(s)",          # swapped endpoint order
    ]:
        with pytest.raises(CypherUnsupported):
            parse_write(bad)


# ---------------------------------------------------------- execution


def test_execute_writes_batches_and_reads_back(spark, workdir):
    from kgforge.kg import KnowledgeGraph

    kg = KnowledgeGraph(spark, _ontology(), workdir)
    stats = kg.execute_writes(
        [
            'MERGE (n:Person {name: "Ana"}) SET n += {bio: "b1"}',
            'MERGE (n:City {name: "Rio"})',
            'MERGE (n:Person {name: "Ana"}) SET n += {bio: "b2"}',  # LWW
            'MATCH (s:Person {name: "Ana"}) MATCH (t:City {name: "Rio"}) '
            'MERGE (s)-[r:LIVES_IN]->(t) SET r += {since: "2020"}',
        ],
    )
    assert stats == {
        "nodes": 3, "edges": 1, "segments": 1, "edges_written": 1,
    }
    out = kg.query(
        "MATCH (p:Person)-[r:LIVES_IN]->(c:City) "
        "RETURN p, r.since AS since, c ORDER BY p"
    ).collect()
    assert [(r.p, r.since, r.c) for r in out] == [("Ana", "2020", "Rio")]
    bio = {
        r.p: r.bio
        for r in kg.query("MATCH (p:Person) RETURN p, p.bio AS bio").collect()
    }
    assert bio == {"Ana": "b2"}


def test_execute_writes_sequential_visibility(spark, workdir):
    """An edge whose endpoint is only MERGEd by a LATER query must drop
    (FalkorDB MATCH semantics for the same sequence); the node-after-edge
    transition starts a new segment."""
    from kgforge.kg import KnowledgeGraph

    kg = KnowledgeGraph(spark, _ontology(), workdir)
    stats = kg.execute_writes(
        [
            'MERGE (n:Person {name: "Bo"})',
            'MATCH (s:Person {name: "Bo"}) MATCH (t:City {name: "Lima"}) '
            "MERGE (s)-[r:LIVES_IN]->(t)",      # Lima does not exist yet
            'MERGE (n:City {name: "Lima"})',    # flush boundary
            'MATCH (s:Person {name: "Bo"}) MATCH (t:City {name: "Lima"}) '
            "MERGE (s)-[r:LIVES_IN]->(t)",
        ],
    )
    assert stats["segments"] == 2
    assert stats["edges_written"] == 1  # only the post-creation edge
    out = kg.query(
        "MATCH (p:Person)-[:LIVES_IN]->(c:City) RETURN p, c"
    ).collect()
    assert [(r.p, r.c) for r in out] == [("Bo", "Lima")]


def test_execute_writes_all_or_nothing_validation(spark, workdir):
    from kgforge.kg import KnowledgeGraph

    kg = KnowledgeGraph(spark, _ontology(), workdir)
    with pytest.raises(ValueError):
        kg.execute_writes(
            [
                'MERGE (n:Person {name: "Ana"})',
                'MERGE (n:Alien {name: "Zed"})',  # label not in ontology
            ]
        )
    assert kg.nodes() is None  # nothing written


def test_execute_writes_reference_serializer_roundtrip(spark, workdir):
    """Build the query strings with the REFERENCE's own serializer
    format (helpers.py:map_dict_to_cypher_properties: double quotes,
    backslash-escaped quotes, str() for non-strings) and read the
    values back intact."""
    from kgforge.kg import KnowledgeGraph

    def ref_props(d: dict) -> str:
        parts = []
        for k, v in d.items():
            if isinstance(v, str):
                v = '"' + v.replace('"', '\\"') + '"'
            else:
                v = str(v)
            parts.append(f"{k}: {v}")
        return "{" + ", ".join(parts) + "}"

    kg = KnowledgeGraph(spark, _ontology(), workdir)
    name_block = ref_props({"name": 'Jo "JJ" Iz'})
    bio_block = ref_props({"bio": "a, b: c"})
    kg.execute_writes(
        [f"MERGE (n:Person {name_block}) SET n += {bio_block}"]
    )
    out = kg.query(
        "MATCH (p:Person) RETURN p, p.bio AS bio"
    ).collect()
    assert [(r.p, r.bio) for r in out] == [('Jo "JJ" Iz', "a, b: c")]


def test_export_replay_roundtrip(spark, workdir):
    """sinks/falkordb_export renders the reference's MERGE statements;
    executing that export through execute_writes must rebuild the SAME
    graph (export -> parse is the identity on (label, key, props)).
    Ties the export sink and the write parser to each other — exactly
    what a FalkorDB user migrating in either direction relies on."""
    from kgforge.kg import KnowledgeGraph
    from kgforge.sinks.falkordb_export import edge_statements, node_statements

    kg_a = KnowledgeGraph(spark, _ontology(), workdir + "/a")
    kg_a.add_nodes(
        [
            ("Person", {"name": 'Jo "JJ" Iz', "bio": "x, y: z"}),
            ("Person", {"name": "Ana"}),
            ("City", {"name": "Rio"}),
        ]
    )
    kg_a.add_edges(
        [
            ("LIVES_IN", "Person", "City",
             {"name": 'Jo "JJ" Iz'}, {"name": "Rio"}, {"since": "2020"}),
        ]
    )
    key_attrs = {"Person": "name", "City": "name", "LIVES_IN": "name"}
    node_q = [
        r["stmt"]
        for r in node_statements(kg_a.nodes(), key_attrs).collect()
    ]
    # add_edges already materializes src_label/src_key/dst_label/dst_key
    # (kg.py batch upsert), so edge_statements reads them directly.
    edge_q = [
        r["stmt"]
        for r in edge_statements(kg_a.edges(), key_attrs).collect()
    ]
    kg_b = KnowledgeGraph(spark, _ontology(), workdir + "/b")
    kg_b.execute_writes(sorted(node_q) + sorted(edge_q))
    a_nodes = sorted(
        (r.label, r.key, dict(r.props)) for r in kg_a.nodes().collect()
    )
    b_nodes = sorted(
        (r.label, r.key, dict(r.props)) for r in kg_b.nodes().collect()
    )
    assert a_nodes == b_nodes
    a_edges = sorted(
        (r.src_id, r.label, r.dst_id, dict(r.props))
        for r in kg_a.edges().collect()
    )
    b_edges = sorted(
        (r.src_id, r.label, r.dst_id, dict(r.props))
        for r in kg_b.edges().collect()
    )
    assert a_edges == b_edges
