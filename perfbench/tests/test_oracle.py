"""Tests for graph_serve's pure-Python oracle and op stream (no Spark).

Run with: python -m pytest perfbench/tests
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from inputs import (  # noqa: E402
    CYCLE, GUEST_POOL, TOPK_QUERY, GoldGraph, Op, OpStream, guest_name,
    point_query, twohop_query,
)
from oracle import GraphOracle  # noqa: E402


def _graph() -> GoldGraph:
    nodes = [
        ("Person", {"name": "Ana Silva"}),
        ("Person", {"name": "Bo Xu"}),
        ("Movie", {"title": "The Dark Tide", "release_year": 1990.0}),
        ("Movie", {"title": "The Iron Bridge", "release_year": 2001.0}),
        ("Genre", {"name": "Drama"}),
    ]
    edges = [
        ("ACTED_IN", "Person", "Movie", {"name": "Ana Silva"},
         {"title": "The Dark Tide"}, {"role": "lead"}),
        ("ACTED_IN", "Person", "Movie", {"name": "Ana Silva"},
         {"title": "The Iron Bridge"}, {}),
        ("ACTED_IN", "Person", "Movie", {"name": "Bo Xu"},
         {"title": "The Dark Tide"}, {}),
        ("HAS_GENRE", "Movie", "Genre", {"title": "The Dark Tide"},
         {"name": "Drama"}, {}),
    ]
    return GoldGraph(nodes, edges)


def _oracle() -> GraphOracle:
    g = _graph()
    o = GraphOracle()
    o.add_nodes(g.node_rows)
    o.add_edges(g.edge_rows)
    return o


def test_values_are_strings_and_set_merges():
    o = _oracle()
    q = Op("point", point_query("The Dark Tide"), None)
    assert o.answer(q) == [("The Dark Tide", "1990.0", None)]
    o.apply(Op("nodes", None, [("Movie", {"title": "The Dark Tide", "rating": "r1"})]))
    # SET += keeps release_year and adds rating
    assert o.answer(q) == [("The Dark Tide", "1990.0", "r1")]
    assert o.answer(Op("point", point_query("Missing"), None)) == []


def test_edge_to_missing_node_is_dropped():
    o = _oracle()
    o.apply(Op("edges", None, [
        ("ACTED_IN", "Person", "Movie", {"name": "Nobody"}, {"title": "The Dark Tide"}, {}),
    ]))
    assert len(o.edges) == 4


def test_twohop_and_topk():
    o = _oracle()
    assert o.answer(Op("twohop", twohop_query("Ana Silva"), None)) == [
        ("The Dark Tide", "Drama")
    ]
    assert o.answer(Op("topk", TOPK_QUERY, None)) == [("Ana Silva", 2), ("Bo Xu", 1)]


def test_stream_is_seeded_and_bounded():
    titles = [f"The Movie {i}" for i in range(10)]
    names = [f"Actor {i}" for i in range(10)]
    g = GoldGraph(
        [("Movie", {"title": t}) for t in titles]
        + [("Person", {"name": n}) for n in names],
        [("ACTED_IN", "Person", "Movie", {"name": n}, {"title": t}, {})
         for n, t in zip(names, titles)],
    )
    a, b = OpStream(5, g), OpStream(5, g)
    assert [o.cypher or o.rows for o in a.cycle(3)] == [o.cypher or o.rows for o in b.cycle(3)]
    assert [o.kind for o in a.block(0) + a.block(1)] == list(CYCLE)
    guests = set()
    for c in range(3 * GUEST_POOL):
        for op in a.cycle(c):
            for row in op.rows or ():
                if row[0] == "Person":
                    guests.add(row[1]["name"])
    assert guests == {guest_name(i) for i in range(GUEST_POOL)}
