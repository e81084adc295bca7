"""Pure-Python reference for graph_serve: the graph as dicts, and the
answers the benchmark's three read templates must return.

It applies add_nodes / add_edges rows with the same MERGE semantics the
program documents (kg.py): values are stored as strings, a batch collapses
duplicate keys last-wins, `SET +=` overlays properties, and an edge whose
endpoint node does not exist is dropped.
"""

from __future__ import annotations

from collections import Counter

from inputs import UNIQUE, Op


def _props(attrs: dict) -> dict:
    return {k: ("" if v is None else str(v)) for k, v in attrs.items()}


class GraphOracle:
    def __init__(self):
        self.nodes: dict[tuple[str, str], dict] = {}
        self.edges: dict[tuple, dict] = {}

    def add_nodes(self, rows: list[tuple[str, dict]]) -> None:
        for label, attrs in rows:
            key = str(attrs.get(UNIQUE[label], ""))
            self.nodes.setdefault((label, key), {}).update(_props(attrs))

    def add_edges(self, rows: list[tuple]) -> None:
        for rel, sl, dl, sa, da, *rest in rows:
            src = (sl, str(sa[UNIQUE[sl]]))
            dst = (dl, str(da[UNIQUE[dl]]))
            if src not in self.nodes or dst not in self.nodes:
                continue
            attrs = rest[0] if rest else {}
            self.edges.setdefault((rel, src, dst), {}).update(_props(attrs or {}))

    def apply(self, op: Op) -> None:
        if op.kind == "nodes":
            self.add_nodes(op.rows)
        elif op.kind == "edges":
            self.add_edges(op.rows)

    def answer(self, op: Op) -> list[tuple]:
        """Expected result rows of a read op, in the order the query fixes
        (point and two-hop results are compared sorted)."""
        if op.kind == "point":
            title = op.cypher.split("m.title = '", 1)[1].split("'", 1)[0]
            props = self.nodes.get(("Movie", title))
            if props is None:
                return []
            return [(title, props.get("release_year"), props.get("rating"))]
        if op.kind == "twohop":
            name = op.cypher.split("p.name = '", 1)[1].split("'", 1)[0]
            movies = {
                d[1] for (r, s, d) in self.edges
                if r == "ACTED_IN" and s == ("Person", name)
            }
            return sorted(
                {
                    (s[1], d[1]) for (r, s, d) in self.edges
                    if r == "HAS_GENRE" and s[0] == "Movie" and s[1] in movies
                }
            )
        if op.kind == "topk":
            n = Counter(s[1] for (r, s, _d) in self.edges if r == "ACTED_IN")
            return sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        raise ValueError(f"not a read op: {op.kind}")

    def node_table(self) -> set[tuple]:
        return {(l, k, tuple(sorted(p.items()))) for (l, k), p in self.nodes.items()}

    def edge_table(self) -> set[tuple]:
        return {
            (r, s[0], s[1], d[0], d[1], tuple(sorted(p.items())))
            for (r, s, d), p in self.edges.items()
        }
