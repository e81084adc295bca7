"""Iceberg MERGE INTO upserts for the graph tables (SURVEY §2.9 / §4).

The engine's storage contract is Iceberg at cluster scale: `MERGE INTO`
node/edge upserts, snapshot-based resume, `bucket(url_host)` layouts. This
container ships no Iceberg runtime jar, so the KnowledgeGraph facade
defaults to the parquet rewrite path (kg.add_nodes/add_edges) with
identical MERGE semantics; when a SparkSession HAS an Iceberg catalog
configured (spark.sql.catalog.<name> = org.apache.iceberg.spark.
SparkCatalog), these helpers route the same batches through real
`MERGE INTO` statements — one atomic commit per batch, no full-table
rewrite, concurrent-writer safe.

The generated SQL mirrors the facade's semantics exactly:

- node identity  = node_id (xxhash64 of label + canonical key);
- edge identity  = (src_id, label, dst_id);
- matched rows   : `SET props +=` overlay — new keys win, untouched keys
  survive (the map_filter/map_concat expression below; the parquet path's
  `kg._merge_rewrite` applies the same overlay to the collected rows on
  the driver, and tests/test_merge_equivalence.py pins the two together);
- unmatched rows : plain INSERT.

SQL generation is unit-tested everywhere; execution tests are gated on a
live Iceberg catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_OVERLAY = (
    "map_concat(map_filter(t.props, (k, v) -> "
    "NOT array_contains(map_keys(s.props), k)), s.props)"
)


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Iceberg catalogs (empty: no runtime wired in).

    Scans BOTH the context-creation-time conf and the runtime SQL conf
    (``SET`` output): catalogs registered after session start via
    ``spark.conf.set("spark.sql.catalog.x", ...)`` are only visible in the
    latter (ADVICE r02)."""
    pairs = list(spark.sparkContext.getConf().getAll())
    try:
        pairs += [(r["key"], r["value"]) for r in spark.sql("SET").collect()]
    except Exception:
        pass
    out = set()
    for key, value in pairs:
        parts = key.split(".")
        if (
            len(parts) == 4
            and parts[:3] == ["spark", "sql", "catalog"]
            and "iceberg" in (value or "").lower()
        ):
            out.add(parts[3])
    return sorted(out)


def merge_nodes_sql(target_table: str, source_view: str) -> str:
    """MERGE INTO for the nodes table: match on node_id, overlay props."""
    return (
        f"MERGE INTO {target_table} t USING {source_view} s "
        f"ON t.node_id = s.node_id "
        f"WHEN MATCHED THEN UPDATE SET t.props = {_OVERLAY} "
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def merge_edges_sql(target_table: str, source_view: str) -> str:
    """MERGE INTO for the edges table: match on (src_id, label, dst_id)."""
    return (
        f"MERGE INTO {target_table} t USING {source_view} s "
        f"ON t.src_id = s.src_id AND t.label = s.label "
        f"AND t.dst_id = s.dst_id "
        f"WHEN MATCHED THEN UPDATE SET t.props = {_OVERLAY} "
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def _merge(spark: SparkSession, batch: DataFrame, target_table: str,
           sql_fn, view_name: str) -> None:
    batch.createOrReplaceTempView(view_name)
    try:
        if not spark.catalog.tableExists(target_table):
            batch.writeTo(target_table).create()
            return
        spark.sql(sql_fn(target_table, view_name))
    finally:
        spark.catalog.dropTempView(view_name)


def merge_nodes(spark: SparkSession, batch: DataFrame,
                target_table: str) -> None:
    """Upsert a node batch (node_id, label, key, props) into an Iceberg
    table — creates the table on first write, MERGE INTO afterwards."""
    _merge(spark, batch, target_table, merge_nodes_sql, "_kgforge_nodes_src")


def merge_edges(spark: SparkSession, batch: DataFrame,
                target_table: str) -> None:
    """Upsert an edge batch keyed (src_id, label, dst_id)."""
    _merge(spark, batch, target_table, merge_edges_sql, "_kgforge_edges_src")
