"""SparkSession factory with scale-oriented defaults, and `local_frame`,
the one way driver-held rows become a DataFrame.

The same configuration is used by tests (local[32]) and the two-parallelism
bench (local[8] vs local[32]); on a real cluster the master/shuffle-partition
settings come from spark-submit and everything else holds.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "kgforge",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the kgforge pipeline.

    - AQE on (runtime coalescing + skew-join splitting — the reference has no
      skew story at all; hot entities like "United States" serialize its
      FalkorDB MERGEs, see /root/reference/graphrag_sdk/steps/extract_data_step.py:222).
    - Arrow on (every Python-side operator is a pandas/Arrow UDF; zero
      per-row Python on the hot path).
    - shuffle partitions sized to cores locally; on a cluster leave to AQE.
    - no DataFrame call-site capture: with it on, PySpark records the
      Python call site of every `F.col`/`.alias`/comparison through 13-24
      py4j round trips, which made up about half of planning a Cypher
      read. Error messages lose only the Python line of the failing
      expression.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-held `rows` (tuples in `schema` field order; `schema` is a
    StructType or a DDL string) as a DataFrame over a local relation.

    `createDataFrame(<python list>)` plans the rows as a PythonRDD: every
    action starts a Python worker that unpickles them again inside a Spark
    task. A `pyarrow.Table` becomes a `LocalRelation` instead, planned as
    a `LocalTableScan` that the driver evaluates, so no Python worker ever
    touches the rows and projections over them fold into the relation.
    The Arrow-table path has no fallback to the list path."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
