"""Incremental ingestion: Structured Streaming over the pages table.

The reference's only incrementality is "call `process_sources` again"
(/root/reference/graphrag_sdk/kg.py:88-106) with a driver-resident processed
set that dies on restart (kg.py:58). The engine's streaming face:

- `stream_extract`: `readStream` (file source over the pages directory) ->
  `foreachBatch` calling the batch build's stage functions (text UDF ->
  extraction IR -> flatten, plans/pipeline.py) and appending mentions/raw_edges
  parquet. The file-source + checkpoint pair replaces the in-memory set:
  restart resumes from the checkpoint, each file processed exactly once.
- graph materialization (linking/CC/dedup) stays a periodic batch job over
  the accumulated IR — matching the reference's semantics, where MERGE
  idempotence re-canonicalizes on every pass; an alias discovered later must
  be able to merge nodes created earlier, which no per-batch incremental
  update can do.
- `windowed_event_rollup`: event-time tumbling-window aggregation with a
  watermark for late data — the streaming analogue of
  driver_queries.events_hourly_rollup (processing-time triggers only in the
  batch reference; the watermark is engine-new).

Tumbling processing-time micro-batches (`availableNow` in tests) keep
no state across batches except the source checkpoint — there is no
stateful operator on the extraction path, so scale-out is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.ontology import Ontology
from kgforge.plans.pipeline import flatten_stage, ir_stage, text_stage


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    onto: Ontology,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    wrappers: list | None = None,
):
    """Stream pages parquet -> mentions/raw_edges parquet, exactly-once BY
    IDEMPOTENCE: output is partitioned by batch_id and written with dynamic
    partition overwrite, so a batch replayed after a crash (foreachBatch is
    at-least-once between the two sinks and the checkpoint commit)
    overwrites its own partition instead of appending duplicates — IR row
    counts (which link_map's canonical-name choice weighs) stay exact.

    Returns the StreamingQuery (caller awaits termination). Each micro-batch
    calls the batch build's stage functions text -> IR -> flatten
    (plans/pipeline.py), so it writes the batch build's flattened
    mentions/raw_edges; attribute validation, linking and materialization
    (stages 03-08) run later in `KnowledgeGraph.rematerialize`.
    """
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(pages_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int):
        text = text_stage(batch_df, wrappers=wrappers)
        mentions, raw_edges = flatten_stage(ir_stage(text, onto, wrappers), onto)
        for df, sub in ((mentions, "mentions"), (raw_edges, "raw_edges")):
            (
                df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(f"{out_dir}/{sub}")
            )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window rollup with late-data watermark.

    Works on both a streaming DataFrame (emits finalized windows as the
    watermark passes) and a batch DataFrame (equivalent to a date_trunc
    groupBy) — the same plan serves both faces.
    """
    # watermarks require an instant (TIMESTAMP_LTZ); testdata carries NTZ.
    # Session tz is pinned to UTC (session.py), so the cast is value-stable.
    events = events.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )
