"""Reads of a small graph version (graph_table.py `LOCAL_ROWS`).

A versioned table of at most `LOCAL_ROWS` rows is read through a local
relation, and `run_cypher` plans a read whose inputs are all local over one
partition; a larger version is read through a parquet scan with the plans
a scan always had. With the constant patched so each side runs, both sides
give the same rows: the edge-resolution shapes, and the benchmark's serving
reads against its pure-Python oracle.
"""

from __future__ import annotations

import os

import pytest

from kgforge import graph_table
from kgforge.graph_table import GraphTable
from kgforge.kg import KnowledgeGraph
from kgforge.operators.materialize import EDGES_SCHEMA, NODES_SCHEMA
from kgforge.plans.cypher_exec import run_cypher
from kgforge.sources.pages import movies_ontology
from test_cypher_edge_resolution import DIFFERENTIAL, EDGES, NODES, _rows

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    kg = KnowledgeGraph(
        spark, movies_ontology(), str(tmp_path_factory.mktemp("small"))
    )
    kg.add_nodes(NODES)
    kg.add_edges(EDGES)
    yield kg
    kg.delete()


def _frames(kg, monkeypatch, local_rows: int):
    """Fresh read handles of both tables with the gate at `local_rows`."""
    monkeypatch.setattr(graph_table, "LOCAL_ROWS", local_rows)
    return tuple(
        GraphTable(kg._tables[name].loc, schema).frame(kg.spark)
        for name, schema in (("nodes", NODES_SCHEMA), ("edges", EDGES_SCHEMA))
    )


def test_gate_picks_the_handle(kg, monkeypatch):
    assert (len(NODES), len(EDGES)) == (10, 9)
    nodes, edges = _frames(kg, monkeypatch, 10)
    assert nodes.isLocal() and edges.isLocal()
    # the gate is inclusive: 10 nodes are above 9, 9 edges are not
    nodes, edges = _frames(kg, monkeypatch, 9)
    assert not nodes.isLocal() and edges.isLocal()
    nodes, edges = _frames(kg, monkeypatch, 8)
    assert not nodes.isLocal() and not edges.isLocal()
    plan = nodes._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert nodes.count() == 10 and edges.count() == 9


@pytest.mark.parametrize("cypher", DIFFERENTIAL)
def test_local_version_reads_as_the_scanned_one(kg, monkeypatch, cypher):
    local = _frames(kg, monkeypatch, 10)
    scanned = _frames(kg, monkeypatch, 0)
    mixed = _frames(kg, monkeypatch, 9)
    want = _rows(run_cypher(cypher, *scanned))
    assert _rows(run_cypher(cypher, *local)) == want
    assert _rows(run_cypher(cypher, *mixed)) == want


def test_upsert_across_the_gate_switches_the_handle(spark, workdir, monkeypatch):
    monkeypatch.setattr(graph_table, "LOCAL_ROWS", len(NODES))
    kg = KnowledgeGraph(spark, movies_ontology(), workdir)
    kg.add_nodes(NODES)
    kg.add_edges(EDGES)
    small = kg.nodes()
    assert small.isLocal() and kg.nodes() is small
    kg.add_nodes([("Person", {"name": "P4"})])
    large = kg.nodes()
    assert not large.isLocal() and kg.nodes() is large
    assert large.count() == len(NODES) + 1
    count = "MATCH (p:Person) RETURN count(p) AS n"
    assert [tuple(r) for r in kg.query(count).collect()] == [(5,)]
    # with the gate raised above the table, the next version is local again
    monkeypatch.setattr(graph_table, "LOCAL_ROWS", len(NODES) + 2)
    kg.add_nodes([("Person", {"name": "P5"})])
    assert kg.nodes().isLocal()
    assert [tuple(r) for r in kg.query(count).collect()] == [(6,)]
    kg.delete()


@pytest.mark.parametrize("local_rows", [graph_table.LOCAL_ROWS, 0])
def test_serving_reads_match_the_oracle(spark, workdir, monkeypatch, local_rows):
    """Two cycles of the benchmark's closed loop on its gold graph, read
    from local relations (the graph is below the gate) and from scans."""
    monkeypatch.syspath_prepend(PERFBENCH)
    from inputs import OpStream, gold_graph
    from oracle import GraphOracle

    monkeypatch.setattr(graph_table, "LOCAL_ROWS", local_rows)
    graph = gold_graph(7)
    kg = KnowledgeGraph(spark, movies_ontology(), workdir)
    kg.add_nodes(graph.node_rows)
    kg.add_edges(graph.edge_rows)
    assert kg.nodes().isLocal() == kg.edges().isLocal() == (local_rows > 0)
    oracle = GraphOracle()
    oracle.add_nodes(graph.node_rows)
    oracle.add_edges(graph.edge_rows)
    stream = OpStream(7, graph)
    for c in range(2):
        for op in stream.cycle(c):
            if op.cypher is None:
                (kg.add_nodes if op.kind == "nodes" else kg.add_edges)(op.rows)
                oracle.apply(op)
                continue
            got = [tuple(r) for r in kg.query(op.cypher).collect()]
            if op.kind != "topk":
                got = sorted(got)
            assert got == oracle.answer(op), op.cypher
    kg.delete()
