"""Serving-path contracts of the KnowledgeGraph facade: table reads with the
pinned schemas, the upserts' per-call Spark job budget, `add_nodes` and
`add_edges` against pure-Python MERGE oracles, and what happens when a table
path is unreadable.
"""

from __future__ import annotations

import os
import re
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from kgforge.kg import KnowledgeGraph
from kgforge.ontology import Attribute, Entity, Ontology, Relation


def _onto() -> Ontology:
    return Ontology(
        entities=[
            Entity("Person", [Attribute("name", "string", True, True)]),
            Entity(
                "Movie",
                [
                    Attribute("title", "string", True, True),
                    Attribute("rating", "string", False, False),
                ],
            ),
        ],
        relations=[
            Relation(
                "ACTED_IN", "Person", "Movie",
                [Attribute(k, "string", False, False)
                 for k in ("role", "credit", "note")],
            )
        ],
    )


SEED_NODES = (
    [("Person", {"name": n}) for n in ("P1", "P2", "P3")]
    + [("Movie", {"title": t}) for t in ("M1", "M2", "M3", "Ana")]
)


def _seed_graph(kg: KnowledgeGraph) -> None:
    kg.add_nodes(SEED_NODES)
    kg.add_edges([
        _acted("P1", "M1", role="lead", credit="1"),
        _acted("P2", "M1", role="extra"),
    ])


def _acted(name: str, title: str, **props) -> tuple:
    return ("ACTED_IN", "Person", "Movie", {"name": name}, {"title": title},
            props)


def _edge_table(kg: KnowledgeGraph) -> set:
    return {
        (r["label"], r["src_label"], r["src_key"], r["dst_label"],
         r["dst_key"], tuple(sorted(r["props"].items())))
        for r in kg.edges().collect()
    }


def _jobs(spark, fn) -> int:
    """Spark jobs `fn()` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"serve-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "serving job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# One mixed batch: a missing source, a missing destination, a source key
# that exists only under another label, a key repeated inside the batch
# (last wins), an update that overlays props and a fresh insert.
MIXED = [
    _acted("P9", "M1", role="ghost"),
    _acted("P1", "M9", role="ghost"),
    _acted("Ana", "M2", role="wrong-label"),
    _acted("P2", "M2", role="a", credit="9"),
    _acted("P2", "M2", role="b", note="n"),
    _acted("P1", "M1", role="star"),
    _acted("P3", "M3", note="new"),
]


def _oracle_add_edges(nodes: set, edges: dict, rows: list) -> int:
    """Sequential MATCH .. MATCH .. MERGE .. SET r += {..} per row; returns
    how many distinct edges the batch wrote."""
    written = set()
    for rel, sl, dl, sa, da, props in rows:
        src, dst = (sl, sa["name"]), (dl, da["title"])
        if src in nodes and dst in nodes:
            k = (rel,) + src + dst
            edges.setdefault(k, {}).update(props)
            written.add(k)
    return len(written)


def test_add_edges_matches_python_oracle(spark, workdir):
    kg = KnowledgeGraph(spark, _onto(), workdir)
    _seed_graph(kg)
    nodes = {(r["label"], r["key"]) for r in kg.nodes().collect()}
    edges: dict = {}
    _oracle_add_edges(nodes, edges, [
        _acted("P1", "M1", role="lead", credit="1"),
        _acted("P2", "M1", role="extra"),
    ])
    want_n = _oracle_add_edges(nodes, edges, MIXED)
    assert want_n == 3
    assert kg.add_edges(MIXED) == want_n
    want = {
        (k[0], k[1], k[2], k[3], k[4], tuple(sorted(p.items())))
        for k, p in edges.items()
    }
    assert _edge_table(kg) == want
    # ids stay the hash of the endpoint identity
    assert kg.edges().where(
        (F.col("src_id") != F.xxhash64("src_label", "src_key"))
        | (F.col("dst_id") != F.xxhash64("dst_label", "dst_key"))
    ).count() == 0
    kg.delete()


# Node rows applied after the seed: a movie gains a rating, and a movie
# keyed like a seeded person ("P2") gets props in non-alphabetical order.
PRE_NODES = [
    ("Movie", {"title": "M1", "rating": "5"}),
    ("Movie", {"rating": "7", "title": "P2"}),
]
# One mixed node batch: a key repeated inside the batch (last wins), an
# update whose SET += keeps the untouched `rating`, a fresh insert, and
# the person "P2", which puts the unnamed movie "P2" inside the batch's
# label x key `isin` superset.
MIXED_NODES = [
    ("Movie", {"title": "M2", "rating": "1"}),
    ("Movie", {"title": "M1"}),
    ("Movie", {"title": "M2", "rating": "2"}),
    ("Person", {"name": "P2"}),
    ("Person", {"name": "Neo"}),
]


def _oracle_add_nodes(nodes: dict, rows: list) -> None:
    """Sequential MERGE (n:label {unique}) SET n += {..} per row."""
    for label, attrs in rows:
        key = attrs["name" if label == "Person" else "title"]
        nodes.setdefault((label, key), {}).update(attrs)


def _node_rows(kg: KnowledgeGraph) -> dict:
    """{(label, key): (node_id, props items in stored order)}."""
    return {
        (r["label"], r["key"]): (r["node_id"], list(r["props"].items()))
        for r in kg.nodes().collect()
    }


def test_add_nodes_matches_python_oracle(spark, workdir):
    kg = KnowledgeGraph(spark, _onto(), workdir)
    _seed_graph(kg)
    kg.add_nodes(PRE_NODES)
    nodes: dict = {}
    _oracle_add_nodes(nodes, SEED_NODES + PRE_NODES)
    before = _node_rows(kg)
    # every attribute type rejects None, before any write
    with pytest.raises(ValueError, match="must be a string"):
        kg.add_nodes([("Movie", {"title": "M3", "rating": None})])
    assert _node_rows(kg) == before
    _oracle_add_nodes(nodes, MIXED_NODES)
    kg.add_nodes(MIXED_NODES)
    after = _node_rows(kg)
    assert {k: dict(props) for k, (_, props) in after.items()} == nodes
    assert dict(after[("Movie", "M2")][1]) == {"title": "M2", "rating": "2"}
    assert dict(after[("Movie", "M1")][1]) == {"title": "M1", "rating": "5"}
    # caught by the superset, not named by the batch: written back as it was
    assert after[("Movie", "P2")] == before[("Movie", "P2")]
    assert after[("Movie", "P2")][1] == [("rating", "7"), ("title", "P2")]
    # ids stay the hash of the node identity
    assert kg.nodes().where(
        F.col("node_id") != F.xxhash64("label", "key")
    ).count() == 0
    kg.delete()


def test_serving_job_budget(spark, workdir):
    """Fixed per-call Spark jobs of the serving surface. With schema-
    inferring reads and a three-join MERGE, a point read, an `add_nodes`
    batch and an `add_edges` batch ran 3, 8 and 12-13 jobs on this graph;
    pinned schemas and the MERGE that shuffles only the touched rows run
    1, 3 and 4."""
    kg = KnowledgeGraph(spark, _onto(), workdir)
    _seed_graph(kg)
    point = "MATCH (m:Movie) WHERE m.title = 'M1' RETURN m, m.rating AS rating"
    assert _jobs(spark, lambda: kg.query(point).collect()) <= 2
    assert _jobs(spark, lambda: kg.add_nodes([
        ("Movie", {"title": "M1", "rating": "9"}),
        ("Person", {"name": "Guest"}),
    ])) <= 4
    assert _jobs(spark, lambda: kg.add_edges(MIXED)) <= 5
    assert kg.query(point).collect()[0]["rating"] == "9"
    kg.delete()


def test_unreadable_table_raises_and_is_kept(spark, workdir):
    kg = KnowledgeGraph(spark, _onto(), workdir)
    assert kg.nodes() is None and kg.edges() is None  # no graph yet
    os.makedirs(workdir)
    with open(kg.nodes_path, "w") as f:
        f.write("not a parquet table\n")
    with pytest.raises(ValueError, match="not a table directory"):
        kg.nodes()
    with pytest.raises(ValueError, match="not a table directory"):
        kg.add_nodes([("Movie", {"title": "x"})])
    with open(kg.nodes_path) as f:
        assert f.read() == "not a parquet table\n"
    # a table directory holding a corrupt part file: the read fails at the
    # first action, and the upsert fails before its overwrite
    os.remove(kg.nodes_path)
    os.makedirs(kg.nodes_path)
    part = os.path.join(kg.nodes_path, "part-00000.parquet")
    with open(part, "w") as f:
        f.write("not a parquet file\n")
    with pytest.raises(Exception):
        kg.nodes().collect()
    with pytest.raises(Exception):
        kg.add_nodes([("Movie", {"title": "x"})])
    assert os.listdir(kg.nodes_path) == ["part-00000.parquet"]
    kg.delete()
    assert kg.nodes() is None


def test_pinned_schemas_match_written_tables(spark, workdir):
    """Under a pinned-schema read a drifted column would read as NULL
    rather than fail, so the schema Spark infers from what each writer
    put on disk must equal the pinned one."""
    from kgforge.operators.materialize import EDGES_SCHEMA, NODES_SCHEMA
    from kgforge.sources.pages import (
        corpus_to_spark,
        generate_corpus,
        movies_ontology,
    )

    def names_types(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    built = KnowledgeGraph(spark, movies_ontology(), f"{workdir}/built")
    pages, _, _ = corpus_to_spark(spark, generate_corpus(n_pages=6, seed=3))
    built.process_pages(pages)
    upserted = KnowledgeGraph(spark, _onto(), f"{workdir}/upserted")
    _seed_graph(upserted)
    upserted.add_nodes([("Movie", {"title": "M1", "rating": "9"})])
    upserted.add_edges(MIXED)
    for kg in (built, upserted):
        for path, pinned in (
            (kg.nodes_path, NODES_SCHEMA), (kg.edges_path, EDGES_SCHEMA)
        ):
            inferred = spark.read.parquet(path).schema
            assert names_types(inferred) == names_types(pinned), path
        assert kg.edges().count() > 0
        kg.delete()


@contextmanager
def _default_fs_mounted(spark, root: str):
    """Make `/graph` (no scheme) resolve to the local directory `root` for
    Spark, as a path without a scheme resolves to HDFS on a cluster whose
    `fs.defaultFS` is hdfs: a viewfs mount table becomes the default
    filesystem. Locally `/graph` does not exist."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    mount = f"kgtest{uuid.uuid4().hex}"
    old = conf.get("fs.defaultFS")
    conf.set(f"fs.viewfs.mounttable.{mount}.link./graph", f"file://{root}")
    conf.set("fs.defaultFS", f"viewfs://{mount}/")
    try:
        yield "/graph"
    finally:
        conf.set("fs.defaultFS", old)
        conf.unset(f"fs.viewfs.mounttable.{mount}.link./graph")


def test_existence_follows_sparks_filesystem(spark, workdir):
    """The "does the table exist" check must ask the filesystem Spark
    writes through. Asked of the local disk, the table at `/graph/kg`
    looks missing, `add_nodes` then overwrites it with the batch alone,
    and `add_edges` writes nothing."""
    os.makedirs(workdir)
    assert not os.path.exists("/graph")
    with _default_fs_mounted(spark, workdir) as root:
        kg = KnowledgeGraph(spark, _onto(), f"{root}/kg")
        _seed_graph(kg)
        kg.add_nodes([("Person", {"name": "Guest"})])
        assert kg.add_edges([_acted("Guest", "M2", role="cameo")]) == 1
        assert kg.nodes().count() == 8
        assert kg.edges().count() == 3
    assert sorted(os.listdir(os.path.join(workdir, "kg"))) == sorted(
        os.path.basename(p) for p in (kg.nodes_path, kg.edges_path)
    )


def test_read_job_budget(spark, workdir):
    """Fixed per-read Spark jobs of the serving reads. With every node
    variable joined back from the nodes table and the DISTINCT/ORDER BY
    tail spread over the shuffle partitions, the two-hop ran 5 jobs for a
    name without rows and 8 for a name with rows, and the top-k 4. Node
    variables resolved from the edge row and an anchored read finished in
    one partition run 3 for both, and 2."""
    from kgforge.sources.pages import movies_ontology

    kg = KnowledgeGraph(spark, movies_ontology(), workdir)
    kg.add_nodes(
        [("Person", {"name": n}) for n in ("P1", "P2", "P3")]
        + [("Movie", {"title": t}) for t in ("M1", "M2")]
        + [("Genre", {"name": g}) for g in ("Noir", "Drama")]
    )
    kg.add_edges([
        ("ACTED_IN", "Person", "Movie", {"name": p}, {"title": m}, {})
        for p, m in (("P1", "M1"), ("P1", "M2"), ("P2", "M2"))
    ] + [
        ("HAS_GENRE", "Movie", "Genre", {"title": m}, {"name": g}, {})
        for m, g in (("M1", "Noir"), ("M2", "Drama"))
    ])

    def two_hop(name):
        return (
            "MATCH (p:Person)-[:ACTED_IN]->(m:Movie)-[:HAS_GENRE]->(g:Genre) "
            f"WHERE p.name = '{name}' RETURN DISTINCT m, g ORDER BY m, g"
        )

    point = "MATCH (m:Movie) WHERE m.title = 'M1' RETURN m"
    top_k = (
        "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) "
        "RETURN p, count(m) AS n ORDER BY n DESC, p LIMIT 5"
    )
    assert _jobs(spark, lambda: kg.query(point).collect()) == 1
    with_rows = _jobs(spark, lambda: kg.query(two_hop("P1")).collect())
    without_rows = _jobs(spark, lambda: kg.query(two_hop("P3")).collect())
    assert with_rows == without_rows <= 3
    assert _jobs(spark, lambda: kg.query(top_k).collect()) <= 2
    assert [tuple(r) for r in kg.query(two_hop("P1")).collect()] == [
        ("M1", "Noir"), ("M2", "Drama"),
    ]
    assert kg.query(two_hop("P3")).collect() == []
    assert [tuple(r) for r in kg.query(top_k).collect()] == [
        ("P1", 2), ("P2", 1),
    ]
    # the props-free two-hop reads the nodes table once, for its anchor
    plan = kg.query(two_hop("P1"))._jdf.queryExecution().optimizedPlan()
    assert len(re.findall(r"Relation \[node_id#", plan.toString())) == 1
    kg.delete()


def test_sessions_skip_call_site_capture(spark):
    """`get_spark` (which built the `spark` fixture) turns off PySpark's
    DataFrame call-site capture, which costs 13-24 py4j round trips per
    `F.col`/`.alias`/comparison and was half of planning a Cypher read."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == (
        "false"
    )
    assert not is_debugging_enabled()
