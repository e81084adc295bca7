"""Versioned graph tables (`06_nodes`, `07_edges`), written on the driver
behind an atomic pointer.

A table directory holds, flat (Spark does not descend into non-partition
subdirectories, and `spark.read.parquet(dir)` must keep reading the table):

    _kg_table.json                   the pointer: the current version
    v000007-<hex>.parquet            the table as version 7 wrote it

The pointer is one JSON object naming the version's data files:

    {"format": 1, "version": 7, "files": ["v000007-<hex>.parquet"]}

A version an upsert commits is one file holding every row of the table.
Version 0 is a flat table adopted as it lies: the part files of the build
that wrote it.

`GraphTable.commit` writes the new version's file beside the current ones,
replaces the pointer by a rename (atomic on local disk and HDFS, not on
object stores; see kgforge/storage.py) and then reclaims: every entry of the
directory the new pointer does not name is deleted, except Spark's
`_SUCCESS` marker and checksum files of kept files. A crash before the
rename leaves the previous version current and the new file orphaned; a
crash after it leaves the replaced files. Either way the next commit
reclaims them, so at rest the directory's data files are exactly the
current version. Until then, a reader of the whole directory would see two
versions, so the graph's readers (`GraphTable.frame`, and a build's resume
of 06/07 in `RunContext.run_stage`) read the files the pointer names.

A versioned table's read handle (`GraphTable.frame`) is built once per
version and reused while the pointer names it. It takes one of two forms,
chosen from the version's row count, which its files' footers carry:

- at most `LOCAL_ROWS` rows: a local relation over the version's rows,
  read with pyarrow (`session.local_frame`). Spark's optimizer evaluates a
  filter and projection over it on the driver (`ConvertToLocalRelation`),
  so a point read runs no Spark job, and `run_cypher` plans the joins and
  aggregates of a read whose inputs are all local over one partition, so a
  two-hop or a top-k runs as one job with no broadcast and no shuffle;
- more rows, or a table on the whole-file storage route (where a footer
  read would copy the file): a parquet scan of the version's files.

The gate exists because a local relation is re-filtered, interpreted, on
the driver at every optimization, and its rows travel inside the task of
every job that reads it, so its cost grows with the table while a scan's
fixed cost does not. A flat table is always scanned.

A directory without a pointer is a flat table as the build writes it
(`run_pipeline` stage 06/07, `rematerialize`). Spark reads it as any parquet
directory. The first upsert reads all its rows, so a table that cannot be
read fails the upsert before anything is written, and then records it as
version 0 before writing version 1, so a crash in between leaves a pointer
that names the flat files. A Spark overwrite of the directory deletes the
pointer with the rest, so the table is flat again afterwards.
"""

from __future__ import annotations

import json
import struct
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from kgforge.session import local_frame
from kgforge.storage import Location, whole_files

POINTER = "_kg_table.json"
FORMAT = 1
# Rows per parquet row group of a version's file. Spark reads and skips a
# file by row groups, so pyarrow's default of one group per file slows the
# table's reads: on 460k nodes at local[2], reads alternating with the same
# read of the flat build table (88 ms), a point read took 121 ms with
# groups of 230,000 rows, 110 ms with 65,536 and 88 ms with 32,768.
ROW_GROUP_ROWS = 32768
# Rows up to which a version is read through a local relation instead of a
# parquet scan (see the module docstring). Read medians at local[1] on
# synthetic movie graphs with as many edges as nodes, two runs each (ms;
# point / top-k / two-hop, scan -> local relation): 2.4k rows 88/164/258 ->
# 32/99/168, 4.8k 82/157/258 -> 36/109/202, 9.6k 74/145/235 -> 49/148/278,
# 24k 86/173/265 -> 79/234/480. The two-hop stops gaining between 6.4k
# and 9.6k rows; the gate stays below that with a margin.
LOCAL_ROWS = 4096
# Spark's commit marker and its checksum: the reclaim keeps them, because a
# build's resume checks the marker before it reuses 06_nodes/07_edges
_SPARK_MARKERS = ("_SUCCESS", "._SUCCESS.crc")


def identity(table: pa.Table, cols: tuple[str, ...]) -> pa.ChunkedArray:
    """Each row's values of `cols` as one string that no other tuple of
    values maps to (every value prefixed by its byte length), for
    vectorized membership tests against `identity_of` of a batch."""
    parts = []
    for c in cols:
        col = table.column(c)
        parts += [pc.cast(pc.binary_length(col), pa.string()), col]
    return pc.binary_join_element_wise(*parts, "\x00")


def identity_of(values: tuple[str, ...]) -> str:
    return "\x00".join(
        x for v in values for x in (str(len(v.encode())), v)
    )


# ------------------------------------------------------------------ xxhash64
# Spark's `xxhash64(c1, c2, ...)` over strings: XXH64 of each value's UTF-8
# bytes, seeded with the previous column's hash (42 for the first), read as
# a signed long. The driver computes a node's `node_id` and an edge's
# endpoint ids with it, so an upsert needs no Spark expression; tests pin it
# to Spark's values.
_M = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def _xxh64(data: bytes, seed: int) -> int:
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed,
             (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(a, x)
                 for a, x in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    for byte in data[i:]:
        h ^= byte * _P5 & _M
        h = _rotl(h, 11) * _P1 & _M
    h = (h ^ (h >> 33)) * _P2 & _M
    h = (h ^ (h >> 29)) * _P3 & _M
    return h ^ (h >> 32)


def xxhash64(*values: str) -> int:
    h = 42
    for v in values:
        h = _xxh64(v.encode(), h)
    return h - (1 << 64) if h >= 1 << 63 else h


# ------------------------------------------------------------------- tables
@dataclass(frozen=True)
class Version:
    """One version of a table: its rows are the data files `files`."""

    number: int
    files: tuple[str, ...]


def pointed(loc: Location) -> Version | None:
    """The version the pointer of the table directory `loc` names; None for
    a missing or flat table or a path that is not a directory."""
    raw = loc.join(POINTER).read_bytes()
    if raw is None:
        return None
    m = json.loads(raw)
    return Version(m["version"], tuple(m["files"]))


def _data_file(info: pafs.FileInfo) -> bool:
    """Spark's listing rule: `_`- and `.`-prefixed names are not data."""
    return info.is_file and not info.base_name.startswith(("_", "."))


class GraphTable:
    """The graph table in the directory `loc`."""

    def __init__(self, loc: Location, schema: StructType):
        self.loc = loc
        self.schema = schema
        self.arrow_schema = to_arrow_schema(schema)
        self._handle: tuple[tuple[str, ...], DataFrame] | None = None

    def _kind(self) -> pafs.FileType:
        kind = self.loc.info().type
        if kind == pafs.FileType.File:
            raise ValueError(f"{self.loc.uri} is not a table directory")
        return kind

    # ------------------------------------------------------------ reads
    def frame(self, spark: SparkSession) -> DataFrame | None:
        """The table as a DataFrame with the pinned schema, or None when it
        does not exist. A versioned table's handle reads the version the
        pointer names, as a local relation or a scan of its files (see the
        module docstring); it is built once per version and reused while
        that version is current. A flat table is listed afresh by each
        call."""
        v = pointed(self.loc)
        if v is None:
            self._handle = None
            if self._kind() == pafs.FileType.NotFound:
                return None
            return spark.read.schema(self.schema).parquet(self.loc.uri)
        if self._handle is None or self._handle[0] != v.files:
            small = not whole_files(self.loc) and sum(
                pq.read_metadata(self.loc.join(f).path,
                                 filesystem=self.loc.fs).num_rows
                for f in v.files
            ) <= LOCAL_ROWS
            if small:
                df = local_frame(spark, self.rows(v), self.schema)
            else:
                df = spark.read.schema(self.schema).parquet(
                    *(self.loc.join(f).uri for f in v.files)
                )
            self._handle = (v.files, df)
        return self._handle[1]

    def snapshot(self) -> Version | None:
        """The current version: the pointer's, or for a flat table its data
        files as version 0; None when the table does not exist."""
        v = pointed(self.loc)
        if v is not None or self._kind() == pafs.FileType.NotFound:
            return v
        return Version(0, tuple(sorted(
            i.base_name for i in self.loc.list() if _data_file(i)
        )))

    def rows(
        self, v: Version | None, columns: list[str] | None = None
    ) -> pa.Table:
        """Every row of version `v` (none when `v` is None), all columns or
        only `columns`."""
        return pads.dataset(
            [self.loc.join(f).path for f in v.files] if v else [],
            format="parquet", schema=self.arrow_schema,
            filesystem=self.loc.fs,
        ).to_table(columns=columns)

    # ----------------------------------------------------------- writes
    def commit(self, base: Version | None, rows: pa.Table) -> Version:
        """Commit `rows` as the version after `base`: its file, the pointer
        swap, the reclaim. A flat `base` is recorded in the pointer first."""
        if base is not None and base.number == 0:
            self._swap(base)
        number = (base.number if base else 0) + 1
        name = f"v{number:06d}-{uuid.uuid4().hex[:12]}.parquet"
        self.loc.fs.create_dir(self.loc.path, recursive=True)
        pq.write_table(
            rows, self.loc.join(name).path, filesystem=self.loc.fs,
            row_group_size=ROW_GROUP_ROWS,
        )
        v = Version(number, (name,))
        self._swap(v)
        self._reclaim(v)
        return v

    def _swap(self, v: Version) -> None:
        """Make `v` current: the pointer replaced by one rename."""
        self.loc.join(POINTER).write_bytes(json.dumps({
            "format": FORMAT, "version": v.number, "files": list(v.files),
        }).encode())

    def _reclaim(self, v: Version) -> None:
        keep = {POINTER, *_SPARK_MARKERS}
        for f in (POINTER, *v.files):
            keep |= {f, f".{f}.crc"}
        for info in self.loc.list():
            if info.base_name in keep:
                continue
            if info.type == pafs.FileType.Directory:
                self.loc.fs.delete_dir(info.path)
            else:
                self.loc.fs.delete_file(info.path)
