"""Seeded benchmark inputs: mirrored html pages and a graph-serving op stream.

Everything here is plain Python and depends only on the seed, so the same
seed gives byte-identical inputs on any machine. The program under test sees
only what these functions return.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass

# crawl_mirror: base pages of the generator, each served under MIRRORS urls
CRAWL_BASE_PAGES = 30
CRAWL_MIRRORS = 3

# graph_serve: size of the gold graph and the shape of the closed loop.
# The 4:1 read/write ratio, the op order and the batch sizes are a synthetic
# choice, not measured traffic (NOTES.md, "Traffic mix").
SERVE_BASE_PAGES = 300
UPSERT_BATCH = 8        # existing keys updated per write batch
GUEST_POOL = 12         # bound on keys a run can ever insert
# one cycle of the closed loop: 8 reads and 2 write batches, in this order.
# The loop runs whole blocks of BLOCK ops (4 reads, 1 write), so the
# read/write ratio is the same however many blocks a run completes.
CYCLE = ("point", "twohop", "topk", "point", "nodes",
         "twohop", "point", "topk", "twohop", "edges")
BLOCK = 5

UNIQUE = {"Person": "name", "Movie": "title", "Genre": "name"}


def crawl_mirror_pages(seed: int):
    """(page rows, gold triple set) for crawl_mirror.

    Each generated page is re-served under CRAWL_MIRRORS hosts with its html
    and no pre-extracted text, so every copy goes through html-to-text and
    extraction. Aliases are off: the distinct names that linking sees do not
    grow with the mirror count.
    """
    from kgforge.sources.pages import generate_corpus

    corpus = generate_corpus(
        n_pages=CRAWL_BASE_PAGES, seed=seed, alias_frac=0.0
    )
    rows = []
    for p in corpus.pages:
        scheme, rest = p["url"].split("://", 1)
        for m in range(CRAWL_MIRRORS):
            url = p["url"] if m == 0 else f"{scheme}://mirror{m}.{rest}"
            ts = p["warc_ts"] + dt.timedelta(seconds=m)
            rows.append((url, ts, p["html"], None, p["lang"]))
    gold = {
        (t["subj_label"], t["subj_key"], t["pred"], t["obj_label"], t["obj_key"])
        for t in corpus.triples
    }
    return rows, gold


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@dataclass
class GoldGraph:
    """Gold nodes and edges in the shapes add_nodes / add_edges take."""

    node_rows: list[tuple[str, dict]]
    edge_rows: list[tuple]


def gold_graph(seed: int) -> GoldGraph:
    from kgforge.sources.pages import generate_corpus

    corpus = generate_corpus(n_pages=SERVE_BASE_PAGES, seed=seed)
    node_rows = [
        (n["label"], {UNIQUE[n["label"]]: n["key"], **json.loads(n["props"])})
        for n in corpus.nodes
    ]
    edge_rows = [
        (
            t["pred"], t["subj_label"], t["obj_label"],
            {UNIQUE[t["subj_label"]]: t["subj_key"]},
            {UNIQUE[t["obj_label"]]: t["obj_key"]},
            json.loads(t["props"]),
        )
        for t in corpus.triples
    ]
    return GoldGraph(node_rows, edge_rows)


def guest_name(g: int) -> str:
    return f"Guest{g:02d} Visitor"


@dataclass
class Op:
    kind: str              # one of CYCLE's names
    cypher: str | None     # read ops
    rows: list | None      # write ops: add_nodes / add_edges rows


class OpStream:
    """The closed loop's operations, cycle by cycle.

    Cycle `c` depends only on (seed, c), so a run that completes more cycles
    sees the same prefix. Writes mostly `SET +=` keys that exist; each node
    batch also inserts one guest Person and each edge batch one guest edge,
    both drawn from a pool of GUEST_POOL, so after that many cycles every
    write is an update and table size stops growing.
    """

    def __init__(self, seed: int, graph: GoldGraph):
        self.seed = seed
        self.movies = sorted(a["title"] for l, a in graph.node_rows if l == "Movie")
        self.people = sorted(a["name"] for l, a in graph.node_rows if l == "Person")
        self.acted = sorted(
            (s["name"], d["title"])
            for r, _, _, s, d, _ in graph.edge_rows if r == "ACTED_IN"
        )

    def cycle(self, c: int, tag: str = "t") -> list[Op]:
        rng = random.Random(f"{self.seed}:{tag}:{c}")
        guest = c % GUEST_POOL
        ops = []
        for i, kind in enumerate(CYCLE):
            if kind == "point":
                t = rng.choice(self.movies)
                ops.append(Op(kind, point_query(t), None))
            elif kind == "twohop":
                # every third two-hop read asks about a guest, so reads see
                # the edges that writes insert
                n = guest_name(guest) if i == 8 else rng.choice(self.people)
                ops.append(Op(kind, twohop_query(n), None))
            elif kind == "topk":
                ops.append(Op(kind, TOPK_QUERY, None))
            elif kind == "nodes":
                rows = [
                    ("Movie", {"title": t, "rating": f"r{tag}{c}.{j}"})
                    for j, t in enumerate(rng.sample(self.movies, UPSERT_BATCH))
                ]
                rows.append(("Person", {"name": guest_name(guest)}))
                ops.append(Op(kind, None, rows))
            else:
                rows = [
                    ("ACTED_IN", "Person", "Movie", {"name": p}, {"title": m},
                     {"role": f"role{tag}{c}.{j}"})
                    for j, (p, m) in enumerate(rng.sample(self.acted, UPSERT_BATCH))
                ]
                # a guest always acts in the same movie: a bounded edge set
                rows.append(
                    ("ACTED_IN", "Person", "Movie", {"name": guest_name(guest)},
                     {"title": self.movies[guest % len(self.movies)]}, {})
                )
                ops.append(Op(kind, None, rows))
        return ops

    def block(self, b: int, tag: str = "t") -> list[Op]:
        """Block `b` of a loop: half of cycle b // 2. Warm-up uses its own
        tag, so its parameters differ from the timed loop's."""
        half = b % 2 * BLOCK
        return self.cycle(b // 2, tag)[half:half + BLOCK]


def point_query(title: str) -> str:
    return (
        f"MATCH (m:Movie) WHERE m.title = '{title}' "
        "RETURN m, m.release_year AS year, m.rating AS rating"
    )


def twohop_query(name: str) -> str:
    return (
        "MATCH (p:Person)-[:ACTED_IN]->(m:Movie)-[:HAS_GENRE]->(g:Genre) "
        f"WHERE p.name = '{name}' RETURN DISTINCT m, g ORDER BY m, g"
    )


TOPK_QUERY = (
    "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) "
    "RETURN p, count(m) AS n ORDER BY n DESC, p LIMIT 5"
)
