"""Serving-path contracts of the KnowledgeGraph facade: table reads with the
pinned schemas, the upserts' per-call Spark job budget, `add_edges` against a
pure-Python MERGE oracle, and what happens when a table path is unreadable.
"""

from __future__ import annotations

import os
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


def _seed_graph(kg: KnowledgeGraph) -> None:
    kg.add_nodes(
        [("Person", {"name": n}) for n in ("P1", "P2", "P3")]
        + [("Movie", {"title": t}) for t in ("M1", "M2", "M3", "Ana")]
    )
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
