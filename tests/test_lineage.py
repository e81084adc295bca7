"""Driver-side lineage log: bookkeeping launches no Spark job, the on-disk
schema is unchanged, in-flight files stay invisible, and an empty input
commits (and resumes) every stage."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from kgforge.plans.lineage import LINEAGE_SCHEMA, STAGE_COMPLETE, RunContext
from kgforge.plans.pipeline import run_pipeline
from kgforge.sources.pages import (
    corpus_to_spark,
    generate_corpus,
    movies_ontology,
)

LINEAGE_DDL = (
    "run_id string, stage string, partition_id int, rows long, "
    "wall_ms long, status string, finished_at double"
)
STAGES = [
    "01_text", "02_ir", "03_mentions", "04_raw_edges",
    "05_links", "06_nodes", "07_edges", "08_triples",
]


def _rows(ctx, stage):
    return [
        (ctx.run_id, stage, 3, 10, 5, "bucket_complete", 1.0),
        (ctx.run_id, stage, -1, 10, 5, STAGE_COMPLETE, 1.0),
    ]


def _mark_success(ctx, stage):
    os.makedirs(ctx.stage_path(stage))
    open(os.path.join(ctx.stage_path(stage), "_SUCCESS"), "w").close()


def test_bookkeeping_launches_no_spark_job(spark, workdir):
    ctx = RunContext(spark, workdir)
    # stage_complete also needs the stage's _SUCCESS marker to read the log
    _mark_success(ctx, "01_x")

    sc = spark.sparkContext
    group = f"lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lineage bookkeeping")
    try:
        ctx._append_lineage(_rows(ctx, "01_x"))
        assert ctx.stage_complete("01_x")
        assert ctx.stage_runs("01_x") == [ctx.run_id]
        assert ctx.stage_buckets("01_x") == {3: ctx.run_id}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_lineage_schema_is_unchanged(spark, workdir):
    ctx = RunContext(spark, workdir)
    ctx._append_lineage(_rows(ctx, "01_x"))
    assert ctx.lineage().schema == _parse_datatype_string(LINEAGE_DDL)
    # Spark reads the log files directly with the same schema
    on_disk = spark.read.parquet(ctx.lineage_dir)
    assert on_disk.schema == _parse_datatype_string(LINEAGE_DDL)


def test_stray_tmp_file_is_ignored(spark, workdir):
    """A crash mid-append leaves a hidden ._tmp file; neither the lineage
    view nor the resume lookups may see its rows."""
    ctx = RunContext(spark, workdir)
    ctx._append_lineage(_rows(ctx, "01_x"))
    torn = pa.Table.from_pylist(
        [dict(zip(LINEAGE_SCHEMA.names, r)) for r in _rows(ctx, "02_x")],
        schema=LINEAGE_SCHEMA,
    )
    pq.write_table(torn, os.path.join(ctx.lineage_dir, "._tmp-part-x.parquet"))
    for stage in ("01_x", "02_x"):
        _mark_success(ctx, stage)

    assert ctx.lineage().count() == 2
    assert ctx.stage_complete("01_x")
    assert not ctx.stage_complete("02_x")
    assert ctx.stage_runs("02_x") == []
    assert ctx.stage_buckets("02_x") == {}


def test_uri_out_dir_commits_and_resumes(spark, workdir):
    """A Hadoop-style URI out_dir (file:// here, s3:// on a cluster) goes
    through the same driver-side log: stages commit, the log reads back,
    and a rerun skips both completed stages."""
    uri = f"file://{workdir}"
    df = spark.range(20).withColumn("url", F.col("id").cast("string"))
    ctx = RunContext(spark, uri)
    ctx.run_stage("01_x", lambda: df)
    ctx.run_stage_bucketed("02_x", df, lambda d: d, n_buckets=4)
    for stage in ("01_x", "02_x"):
        assert ctx.stage_runs(stage) == [ctx.run_id], stage
    assert set(ctx.stage_buckets("02_x").values()) == {ctx.run_id}
    assert ctx.lineage().filter(F.col("status") == STAGE_COMPLETE).count() == 2
    assert os.path.isdir(os.path.join(workdir, "_lineage"))

    def must_not_run(*_):
        pytest.fail("a completed stage was recomputed")

    rerun = RunContext(spark, uri)
    assert rerun.run_stage("01_x", must_not_run).count() == 20
    assert rerun.run_stage_bucketed("02_x", df, must_not_run).count() == 20
    for stage in ("01_x", "02_x"):
        assert rerun.stage_runs(stage) == [ctx.run_id], stage


def _jobs(spark, fn) -> int:
    """Spark jobs `fn()` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "stage jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_reads_back_the_schema_it_wrote(spark, workdir):
    """A fresh stage runs only its write's jobs: its output is read back
    with the schema it wrote, with no footer-inference job, and that
    schema is the one Spark infers from the files."""
    df = spark.range(12, numPartitions=3).select(
        "id",
        F.col("id").cast("string").alias("name"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("props"),
        F.array(F.col("id"), F.lit(None).cast("long")).alias("ids"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
    )
    ctx = RunContext(spark, workdir)
    twin = os.path.join(workdir, "twin")
    write_jobs = _jobs(spark, lambda: df.write.parquet(twin))
    out = None

    def stage():
        nonlocal out
        out = ctx.run_stage("01_x", lambda: df)

    assert _jobs(spark, stage) == write_jobs
    inferred = spark.read.parquet(ctx.stage_path("01_x"))
    assert out.schema == inferred.schema
    assert sorted(out.collect()) == sorted(inferred.collect())


def test_empty_input_commits_every_stage_and_resumes(spark, workdir):
    pages, _, _ = corpus_to_spark(spark, generate_corpus(n_pages=4, seed=7))
    onto = movies_ontology()
    first = run_pipeline(spark, pages.limit(0), onto, workdir)
    assert first["triples"].count() == 0
    run1 = first["ctx"].run_id
    for s in STAGES:
        assert first["ctx"].stage_runs(s) == [run1], s

    second = run_pipeline(spark, pages.limit(0), onto, workdir)
    assert second["triples"].count() == 0
    for s in STAGES:
        assert second["ctx"].stage_runs(s) == [run1], s
