"""Rows held on the driver enter Spark as Arrow-backed local relations
(`session.local_frame`), never through `createDataFrame(<python list>)`,
whose PythonRDD makes every action start a Python worker that unpickles the
rows again. The parquet upserts build their frames that way and MERGE on the
driver, so none of their Spark jobs shuffles."""

import uuid
from pathlib import Path

from kgforge.kg import KnowledgeGraph
from kgforge.ontology import Attribute, Entity, Ontology, Relation
from kgforge.session import local_frame

KGFORGE = Path(__file__).resolve().parents[1] / "kgforge"
# the build and serving modules whose driver-held rows go through the helper
MODULES = [KGFORGE / "kg.py", KGFORGE / "ontology.py",
           *sorted((KGFORGE / "plans").glob("*.py"))]


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
            Relation("ACTED_IN", "Person", "Movie",
                     [Attribute("role", "string", False, False)])
        ],
    )


def _acted(name: str, title: str, **props) -> tuple:
    return ("ACTED_IN", "Person", "Movie", {"name": name}, {"title": title},
            props)


def _assert_local(df) -> None:
    """`df` is a local relation after optimization (projections over it
    fold in), and its RDD lineage holds no PythonRDD."""
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation", (
        qe.optimizedPlan().toString()
    )
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def _jobs_and_stages(spark, fn) -> tuple[int, int]:
    """(jobs, stages) that `fn()` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"local-relations-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "upsert stages")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    return len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


def test_driver_rows_go_through_local_frame():
    offenders = [
        f"{path.relative_to(KGFORGE).as_posix()}:{n}: {line.strip()}"
        for path in MODULES
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame" in line
    ]
    assert not offenders, offenders


def test_driver_frames_are_local_relations(spark, workdir):
    frame = local_frame(
        spark, [("a", {"k": "v"}), ("b", None)],
        "name string, props map<string,string>",
    )
    _assert_local(frame)
    assert [tuple(r) for r in frame.collect()] == [
        ("a", {"k": "v"}), ("b", None)
    ]
    _assert_local(local_frame(spark, [], "name string"))
    onto = _onto()
    for df in onto.to_dataframes(spark):
        _assert_local(df)
    kg = KnowledgeGraph(spark, onto, workdir)
    _assert_local(kg._node_batch([("Movie", {"title": "M1"}),
                                  ("Person", {"name": "P1"})]))
    kg.add_nodes([("Movie", {"title": "M1"}), ("Person", {"name": "P1"})])
    _assert_local(kg._edge_batch(
        kg._edge_keyed([_acted("P1", "M1", role="lead")]), kg.nodes()
    ))
    kg.delete()


def test_parquet_upserts_run_no_shuffle(spark, workdir):
    """Every job of a parquet upsert is a single stage: the touched-row
    scan, the checkpoint of untouched rows plus merged rows, the write
    (and `add_edges`' endpoint check). A shuffle would add a stage."""
    kg = KnowledgeGraph(spark, _onto(), workdir)
    kg.add_nodes([("Movie", {"title": t}) for t in ("M1", "M2")]
                 + [("Person", {"name": n}) for n in ("P1", "P2")])
    kg.add_edges([_acted("P1", "M1", role="lead")])
    jobs, stages = _jobs_and_stages(spark, lambda: kg.add_nodes([
        ("Movie", {"title": "M1", "rating": "9"}),
        ("Person", {"name": "P3"}),
    ]))
    assert jobs == stages == 3
    jobs, stages = _jobs_and_stages(spark, lambda: kg.add_edges([
        _acted("P1", "M1", role="star"), _acted("P2", "M2", role="extra"),
    ]))
    assert jobs == stages == 4
    kg.delete()
