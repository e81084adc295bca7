"""Streaming face: exactly-once incremental extraction + windowed rollup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgforge.sources.pages import corpus_to_spark, generate_corpus, movies_ontology
from kgforge.streaming.incremental import stream_extract, windowed_event_rollup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_pages=24, seed=42)


def _write_chunk(spark, corpus, lo, hi, path):
    pages, _, _ = corpus_to_spark(spark, corpus)
    rows = pages.collect()
    spark.createDataFrame(rows[lo:hi], pages.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_stream_matches_batch_and_is_exactly_once(spark, corpus, workdir):
    onto = movies_ontology()
    pages_dir = f"{workdir}/pages_stream"
    out_dir = f"{workdir}/stream_out"
    ckpt = f"{workdir}/ckpt"

    # chunk 1 arrives
    _write_chunk(spark, corpus, 0, 12, f"{pages_dir}/c1")
    q = stream_extract(spark, pages_dir, onto, out_dir, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{out_dir}/mentions").count()
    assert n1 > 0

    # chunk 2 arrives; restart processes ONLY the new file
    _write_chunk(spark, corpus, 12, 24, f"{pages_dir}/c2")
    q = stream_extract(spark, pages_dir, onto, out_dir, ckpt)
    q.awaitTermination(120)
    m_stream = spark.read.parquet(f"{out_dir}/mentions")
    n2 = m_stream.count()
    assert n2 > n1

    # rerun with no new data: nothing is reprocessed (exactly-once)
    q = stream_extract(spark, pages_dir, onto, out_dir, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(f"{out_dir}/mentions").count() == n2

    # parity with the batch path on the same pages
    from kgforge.operators import extract, normalize

    batch_pages = spark.read.parquet(f"{pages_dir}/c1", f"{pages_dir}/c2")
    rules = extract.compile_rules(onto)
    text_df = batch_pages.select(
        "url", "warc_ts", F.coalesce("text").alias("text"), "lang"
    )
    ir = extract.extract_ir(text_df, rules, keep_cols=["url", "warc_ts"])
    m_batch, e_batch = extract.explode_ir(ir)
    m_batch = normalize.sanitize_mentions(m_batch)
    m_batch, _ = normalize.filter_to_ontology(m_batch, e_batch, onto, spark)

    key = ["url", "label", "key"]
    assert {tuple(r) for r in m_stream.select(*key).collect()} == {
        tuple(r) for r in m_batch.select(*key).collect()
    }


def test_batch_replay_is_idempotent(spark, corpus, workdir):
    """Crash-replay safety (ADVICE r01): re-running the SAME input through a
    FRESH checkpoint re-executes every micro-batch with the same batch_id
    sequence; dynamic partition overwrite on batch_id must leave the IR
    byte-identical instead of doubling it (plain append would duplicate)."""
    onto = movies_ontology()
    pages_dir = f"{workdir}/pages_replay"
    out_dir = f"{workdir}/replay_out"
    _write_chunk(spark, corpus, 0, 12, f"{pages_dir}/c1")

    q = stream_extract(spark, pages_dir, onto, out_dir, f"{workdir}/ck1")
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{out_dir}/mentions").count()
    e1 = spark.read.parquet(f"{out_dir}/raw_edges").count()
    assert n1 > 0

    # fresh checkpoint = full replay of batch 0
    q = stream_extract(spark, pages_dir, onto, out_dir, f"{workdir}/ck2")
    q.awaitTermination(120)
    assert spark.read.parquet(f"{out_dir}/mentions").count() == n1
    assert spark.read.parquet(f"{out_dir}/raw_edges").count() == e1


def test_windowed_rollup_batch_parity(spark):
    """Same plan over a batch DF equals the plain date_trunc rollup."""
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = windowed_event_rollup(events)
    expected = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in expected.collect()
    }


def test_windowed_rollup_streaming(spark, workdir):
    """The rollup runs as a real stream with watermarked event-time state."""
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(500)
    src = f"{workdir}/ev_src"
    events.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema).parquet(src)
    )
    rolled = windowed_event_rollup(stream)
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/ev_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; with a single
    # batch nothing may finalize — the assertion is that the stateful
    # streaming plan executes, not a value check (parity is tested in batch)
    assert spark.table("rollup_test").columns == [
        "hour", "event_type", "n", "total_value"
    ]


def test_hll_stream_matches_batch_and_replays_idempotently(spark, workdir):
    """Streaming register maintenance over two trigger files equals the
    batch sketch of the union; re-running the stream (new checkpoint,
    same state) changes nothing — per-bucket max is idempotent."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    from kgforge.functions.sketch import hll_registers
    from kgforge.streaming.sketch import hll_stream, merged_registers

    src = f"{workdir}/src"
    schema = "grp string, val string"
    b1 = spark.createDataFrame(
        [("g", f"v{i}") for i in range(300)], schema
    )
    b2 = spark.createDataFrame(
        [("g", f"v{i}") for i in range(200, 500)] + [("h", "x")], schema
    )
    b1.write.mode("overwrite").parquet(src)
    q = hll_stream(
        spark, src, schema, f"{workdir}/state", f"{workdir}/ckpt",
        "grp", "val",
    )
    q.awaitTermination(120)
    b2.write.mode("append").parquet(src)
    q = hll_stream(
        spark, src, schema, f"{workdir}/state", f"{workdir}/ckpt",
        "grp", "val",
    )
    q.awaitTermination(120)

    batch = {
        (r.grp, r.bucket): r.max_rho
        for r in hll_registers(
            b1.unionByName(b2), "grp", "val"
        ).collect()
    }
    got = {
        (r.grp, r.bucket): r.max_rho
        for r in merged_registers(spark, f"{workdir}/state").collect()
    }
    assert got == batch

    # replay with a FRESH checkpoint (all files re-delivered): state
    # must be unchanged — the merge is idempotent by algebra
    os.makedirs(f"{workdir}/ckpt2", exist_ok=True)
    q = hll_stream(
        spark, src, schema, f"{workdir}/state", f"{workdir}/ckpt2",
        "grp", "val",
    )
    q.awaitTermination(120)
    again = {
        (r.grp, r.bucket): r.max_rho
        for r in merged_registers(spark, f"{workdir}/state").collect()
    }
    assert again == batch


def test_moments_stream_matches_batch_and_replay_overwrites(spark, workdir):
    """Streaming moment partials over two trigger files equal the batch
    sketch of the union. Moment sums are additive (NOT idempotent), so
    exactly-once is the batch_id dynamic-overwrite trick: a redelivered
    micro-batch (checkpoint rolled back to before the commit) rewrites
    its own partition with identical rows instead of double-counting."""
    import shutil

    from kgforge.functions.sketch import moments_sketch
    from kgforge.streaming.sketch import merged_moments, moments_stream

    src = f"{workdir}/src"
    ckpt = f"{workdir}/ckpt"
    state = f"{workdir}/state"
    schema = "grp string, value double"
    b1 = spark.createDataFrame(
        [("g", float(i % 7) + 0.25) for i in range(100)], schema
    )
    b2 = spark.createDataFrame(
        [("g", float(i % 5)) for i in range(50)] + [("h", 9.5)], schema
    )
    b1.write.mode("overwrite").parquet(src)
    q = moments_stream(spark, src, schema, state, ckpt, "grp", "value")
    q.awaitTermination(120)

    # snapshot the checkpoint BEFORE batch 1 commits (crash simulation)
    shutil.copytree(ckpt, f"{workdir}/ckpt_snap")
    b2.write.mode("append").parquet(src)
    q = moments_stream(spark, src, schema, state, ckpt, "grp", "value")
    q.awaitTermination(120)

    def _merged():
        return {
            r.grp: (r.n, r.m1, r.m2, r.m3, r.m4)
            for r in merged_moments(spark, state, "grp").collect()
        }

    batch = {
        r.grp: (r.n, r.m1, r.m2, r.m3, r.m4)
        for r in moments_sketch(
            b1.unionByName(b2), ["grp"], "value"
        ).collect()
    }
    assert _merged() == batch

    # roll the checkpoint back and re-run: batch 1 is REDELIVERED with
    # the same batch_id -> same partition overwritten, no double count
    shutil.rmtree(ckpt)
    shutil.copytree(f"{workdir}/ckpt_snap", ckpt)
    q = moments_stream(spark, src, schema, state, ckpt, "grp", "value")
    q.awaitTermination(120)
    assert _merged() == batch


def test_stream_text_rule_matches_batch(spark, corpus, workdir, monkeypatch):
    """A page whose stored `text` disagrees with its `html`: the stream must
    extract from html exactly as batch stage 01 does, so its mentions equal
    batch 03_mentions."""
    from kgforge.plans.pipeline import run_pipeline

    onto = movies_ontology()
    pages, _, _ = corpus_to_spark(spark, corpus)
    rows = pages.limit(6).collect()
    # each page carries the text of the next one (a stale text column)
    stale = [
        (r.url, r.warc_ts, r.html, rows[(i + 1) % len(rows)].text, r.lang)
        for i, r in enumerate(rows)
    ]
    pages_dir = f"{workdir}/pages_stale"
    spark.createDataFrame(stale, pages.schema).coalesce(1).write.parquet(
        f"{pages_dir}/c1"
    )

    q = stream_extract(
        spark, pages_dir, onto, f"{workdir}/stream_out", f"{workdir}/ckpt"
    )
    q.awaitTermination(120)
    # the batch side only needs stages 01-03: stop the pipeline there
    monkeypatch.setenv("KGFORGE_FAIL_AFTER_STAGE", "03_mentions")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(
            spark, spark.read.parquet(f"{pages_dir}/c1"), onto,
            f"{workdir}/batch",
        )

    key = ["url", "label", "key"]
    m_stream = spark.read.parquet(f"{workdir}/stream_out/mentions")
    m_batch = spark.read.parquet(f"{workdir}/batch/03_mentions")
    got = {tuple(r) for r in m_stream.select(*key).collect()}
    assert got and got == {tuple(r) for r in m_batch.select(*key).collect()}
