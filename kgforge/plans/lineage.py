"""Per-stage / per-partition lineage + checkpoint-resume (SURVEY §2.9, M5).

The reference's incrementality is a driver-resident ``self.sources`` set that
is lost on restart (/root/reference/graphrag_sdk/kg.py:58,104-106) plus one
log file per task (steps/extract_data_step.py:56-57,104-115). The engine
replaces both with a durable lineage table:

    lineage(run_id, stage, partition_id, rows, wall_ms, status, finished_at)

Each pipeline stage writes its output as parquet (Iceberg-shaped layout: one
directory per stage, partition column preserved) and then appends lineage
rows — one per output partition (counters) plus one ``stage_complete``
summary row. A restarted run consults lineage + the stage output marker and
*skips* every completed stage, re-reading its output instead of recomputing —
the anti-join-on-completed-work semantics required by the north rule.

The log is tiny (tens of rows per build) and only the driver reads or
writes it, so it is kept off the cluster: every append is one small parquet
file written with pyarrow and renamed into place, every lookup a driver-side
read of those files. A Spark job per append costs more scheduling time than
its rows are worth (0.5-1 s each, measured with ``local[2]`` on a 4-core
host). The on-disk layout stays plain parquet under ``out_dir/_lineage/``,
so Spark reads it as before (`RunContext.lineage`). Every driver-side file
access (log, ``_SUCCESS`` markers, footers, ``ontology.json``) goes through
``out_dir`` resolved once per RunContext by `kgforge.storage.resolve`, the
Hadoop filesystem Spark writes the stages with, so the log lands beside the
stage data for a URI out_dir (``hdfs://``, ``file://``) and for a path
without a scheme under any ``fs.defaultFS``.

Failure injection for tests: set env ``KGFORGE_FAIL_AFTER_STAGE=<name>`` and
the driver raises immediately after that stage commits, simulating a mid-run
crash between stages.
"""

from __future__ import annotations

import os
import posixpath
import re
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from kgforge import graph_table, storage
from kgforge.session import local_frame

STAGE_COMPLETE = "stage_complete"
BUCKET_COMPLETE = "bucket_complete"
# Per-partition counter rows carry WHICH counting mode produced them
# (ADVICE r03: the footer path keys on the writer's file part index, the
# scan fallback on spark_partition_id of the re-read — different
# numberings, so rows from the two modes must not be compared as if
# interchangeable; totals agree either way). `PARTITION` stays the shared
# prefix for filters that only need "any per-partition row".
PARTITION = "partition"
PARTITION_FOOTER = "partition_footer"
PARTITION_SCAN = "partition_scan"

LINEAGE_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("wall_ms", pa.int64()),
        ("status", pa.string()),
        ("finished_at", pa.float64()),
    ]
)


def _footer_counts(where: storage.Location | str) -> dict[str, int] | None:
    """Per-file row counts from parquet FOOTER metadata — no data scan.

    The write already produced the files; their footers carry exact row
    counts, so lineage counters cost one tiny metadata read per file
    instead of a second full pass over the stage output (VERDICT r02 #3:
    harmless at sf0.1, a real tax at 100 TB). Returns None when footers
    are unreachable (a scheme pyarrow cannot open, a torn file, a failed
    listing) so the caller can fall back to the scan; a cluster deployment
    would swap this for the write's task metrics via a
    QueryExecutionListener, same idea. `where` is a resolved stage
    directory or a local path. A location on the Hadoop route, which moves
    whole files, is read through pyarrow's own filesystem for its URI
    (`hdfs://` through libhdfs) instead, so only footers are fetched.
    """
    if isinstance(where, str):
        where = storage.local(where)
    counts: dict[str, int] = {}
    try:
        if storage.whole_files(where):
            fs, root = pafs.FileSystem.from_uri(where.uri)
        else:
            fs, root = where.fs, where.path
        for info in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
            name = info.base_name
            if (
                info.is_file and name.endswith(".parquet")
                and not name.startswith(".")
            ):
                counts[info.path] = pq.read_metadata(
                    info.path, filesystem=fs
                ).num_rows
    except Exception:
        return None
    return counts


def _part_index(file_path: str) -> int:
    """part-00012-<uuid>... -> 12 (the writer task's partition index)."""
    name = os.path.basename(file_path)
    try:
        return int(name.split("-")[1])
    except (IndexError, ValueError):
        return -1


@dataclass
class RunContext:
    spark: SparkSession
    out_dir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    def __post_init__(self) -> None:
        self.location = storage.resolve(self.spark, self.out_dir)
        self._fs = self.location.fs

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.out_dir, "_lineage")

    # ---------------------------------------------------------------- io
    def stage_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _fs_path(self, *parts: str) -> str:
        """`parts` under out_dir, as a path on the resolved filesystem."""
        return posixpath.join(self.location.path, *parts)

    def _read_lineage(self) -> list[dict]:
        """Every committed lineage row, read on the driver.

        Hidden and ``_``-prefixed entries (in-flight ``._tmp`` files,
        Spark's ``_SUCCESS`` and ``_temporary/``) are not part of the log,
        the same rule Spark's file listing applies. An unreadable log
        reads as empty, so resume recomputes rather than trusting it.
        """
        try:
            listing = self._fs.get_file_info(
                pafs.FileSelector(self._fs_path("_lineage"), allow_not_found=True)
            )
            files = sorted(
                i.path for i in listing
                if i.is_file and i.base_name.endswith(".parquet")
                and not i.base_name.startswith((".", "_"))
            )
            return (
                pads.dataset(
                    files, schema=LINEAGE_SCHEMA, format="parquet",
                    filesystem=self._fs,
                )
                .to_table()
                .to_pylist()
            )
        except (OSError, pa.ArrowException):
            return []

    def _stage_rows(self, name: str, status: str) -> list[dict]:
        return [
            r for r in self._read_lineage()
            if r["stage"] == name and r["status"] == status
        ]

    def lineage(self) -> DataFrame:
        """The lineage log as a Spark DataFrame (empty before any commit)."""
        rows = [tuple(r.values()) for r in self._read_lineage()]
        return local_frame(self.spark, rows, from_arrow_schema(LINEAGE_SCHEMA))

    def stage_complete(self, name: str) -> bool:
        marker = self._fs.get_file_info(self._fs_path(name, "_SUCCESS"))
        if not marker.is_file:
            return False
        return bool(self._stage_rows(name, STAGE_COMPLETE))

    def _append_lineage(self, rows: list[tuple]) -> None:
        """Commit `rows` as one new log file; a torn write stays hidden."""
        table = pa.Table.from_pylist(
            [dict(zip(LINEAGE_SCHEMA.names, r)) for r in rows],
            schema=LINEAGE_SCHEMA,
        )
        self._fs.create_dir(self._fs_path("_lineage"), recursive=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = self._fs_path("_lineage", f"._tmp-{name}")
        pq.write_table(table, tmp, filesystem=self._fs)
        self._fs.move(tmp, self._fs_path("_lineage", name))

    def _commit(
        self,
        name: str,
        counts: dict[int, int],
        status: str,
        total: int,
        wall_ms: int,
    ) -> None:
        """Record a written stage: one `status` row per partition count
        plus the ``stage_complete`` row, in one log file."""
        now = time.time()
        rows = [
            (self.run_id, name, pid, c, wall_ms, status, now)
            for pid, c in sorted(counts.items())
        ]
        rows.append((self.run_id, name, -1, total, wall_ms, STAGE_COMPLETE, now))
        self._append_lineage(rows)
        if os.environ.get("KGFORGE_FAIL_AFTER_STAGE") == name:
            raise RuntimeError(f"injected failure after stage '{name}'")

    # ---------------------------------------------------------------- api
    def run_stage(
        self,
        name: str,
        build: "callable",
        repartition_col: str | None = None,
        num_partitions: int | None = None,
    ) -> DataFrame:
        """Compute-or-reuse one stage.

        `build()` -> DataFrame is only invoked when the stage is incomplete.
        Output layout: parquet under ``out_dir/<name>``; when
        `repartition_col` is set the data is hash-repartitioned on it first
        (url_host bucketing analogue for the local run).
        """
        path = self.stage_path(name)
        if self.stage_complete(name):
            # a graph table an upsert has versioned since is read at its
            # current version, without files a crash left beside it
            v = graph_table.pointed(self.location.join(name))
            if v is not None:
                return self.spark.read.parquet(
                    *(self.location.join(name, f).uri for f in v.files)
                )
            return self.spark.read.parquet(path)

        t0 = time.monotonic()
        df = build()
        if repartition_col is not None:
            n = num_partitions or self.spark.sparkContext.defaultParallelism
            df = df.repartition(n, F.col(repartition_col))
        df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)

        # read back with the schema just written: inferring it from the
        # footers would run a job
        out = self.spark.read.schema(df.schema).parquet(path)
        footer = _footer_counts(self.location.join(name))
        if footer is not None:
            mode = PARTITION_FOOTER
            per_part: dict[int, int] = {}
            for p, c in footer.items():
                idx = _part_index(p)
                per_part[idx] = per_part.get(idx, 0) + c
        else:  # metadata unreachable -> the old one-pass scan
            mode = PARTITION_SCAN
            per_part = {
                int(r["partition_id"]): int(r["count"])
                for r in out.groupBy(
                    F.spark_partition_id().alias("partition_id")
                )
                .count()
                .collect()
            }
        self._commit(name, per_part, mode, sum(per_part.values()), wall_ms)
        return out

    def run_stage_bucketed(
        self,
        name: str,
        input_df: DataFrame,
        transform: "callable",
        bucket_col: str = "url",
        n_buckets: int = 64,
    ) -> DataFrame:
        """Compute-or-resume one stage at BUCKET granularity.

        The input is hashed into `n_buckets` buckets on `bucket_col`;
        `transform(df)` must preserve that column. Completed buckets are
        recorded in lineage (`status='bucket_complete'`) and skipped on
        restart — the anti-join-on-completed-work semantics at sub-stage
        granularity, so a crash mid-stage only recomputes the buckets whose
        lineage never committed. Partially-written buckets are safe:
        dynamic partition overwrite replaces exactly the re-run buckets.
        """
        path = self.stage_path(name)
        rows = [r for r in self._read_lineage() if r["stage"] == name]
        # dynamic partition overwrite emits no root _SUCCESS marker; the
        # lineage stage_complete row alone is the commit record here
        if any(r["status"] == STAGE_COMPLETE for r in rows):
            return self.spark.read.parquet(path).drop("bucket")
        done = {
            r["partition_id"] for r in rows if r["status"] == BUCKET_COMPLETE
        }

        bucket = F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets))
        todo = input_df.withColumn("bucket", bucket)
        if done:
            todo = todo.filter(~F.col("bucket").isin(*sorted(done)))

        t0 = time.monotonic()
        out = transform(todo.drop("bucket")).withColumn("bucket", bucket)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(path)
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        try:
            final = self.spark.read.parquet(path)
        except AnalysisException:
            # a dynamic-partitioned write of an EMPTY stage output (empty
            # input included) leaves no readable footer (unlike plain
            # writes, SPARK-23271): write the empty schema plainly so
            # downstream reads see an empty-but-typed stage. Checked here
            # rather than pre-checking out.isEmpty(), which would cost a
            # partial evaluation of the transform on every non-empty stage.
            out.limit(0).write.mode("overwrite").parquet(path)
            final = self.spark.read.parquet(path)
        footer = _footer_counts(self.location.join(name))
        if footer is not None:  # counts from footers, not a re-scan
            per_bucket: dict[int | None, int] = {}
            for p, c in footer.items():
                m = re.search(r"bucket=(\d+)", p)
                b = int(m.group(1)) if m else None
                per_bucket[b] = per_bucket.get(b, 0) + c
        else:
            per_bucket = {
                r["bucket"]: int(r["count"])
                for r in final.groupBy("bucket").count().collect()
            }
        self._commit(
            name,
            {
                b: c for b, c in per_bucket.items()
                if b is not None and b not in done
            },
            BUCKET_COMPLETE,
            sum(per_bucket.values()),
            wall_ms,
        )
        return final.drop("bucket")

    def side_output(self, name: str, df: DataFrame) -> None:
        """Write a stage's secondary output (no lineage of its own: it is
        rewritten exactly when the stage that produces it runs)."""
        df.write.mode("overwrite").parquet(self.stage_path(name))

    def stage_buckets(self, name: str) -> dict[int, str]:
        """bucket -> run_id that completed it (resume-evidence helper)."""
        return {
            r["partition_id"]: r["run_id"]
            for r in self._stage_rows(name, BUCKET_COMPLETE)
        }

    def stage_runs(self, name: str) -> list[str]:
        """run_ids that produced a stage_complete record for `name`."""
        return [r["run_id"] for r in self._stage_rows(name, STAGE_COMPLETE)]
