"""Property-graph materialization: dedup + endpoint resolution + sinks.

Reference semantics reproduced (SURVEY §2.3 J1, §2.4 A1/A2, §2.1 S8/S9):

- A1 node upsert: repeated ``MERGE (n:L {unique}) SET n += {props}``
  collapses every mention sharing (label, unique-key) into one node, later
  SETs overwriting only the properties they carry
  (/root/reference/graphrag_sdk/steps/extract_data_step.py:195-225).
  Spark: per-attribute last-write-wins with an explicit deterministic order
  (warc_ts, url) — the reference relied on arrival order, which a distributed
  engine must replace with data-defined order (SURVEY §7 known-hard #5).
- A2 edge dedup: MERGE is idempotent per (src, label, dst); ``SET r +=``
  overwrites edge props (extract_data_step.py:227-269).
- J1 endpoint resolution: ``MATCH (s) MATCH (d) MERGE (s)-[r]->(d)`` — an
  edge is silently dropped if either endpoint node is missing; realized as
  two inner hash joins against the nodes table (extract_data_step.py:266).
- node identity: xxhash64(label, canonical key) — the distributed stand-in
  for FalkorDB's MERGE key.

All shuffles key on (label, key) / node ids; AQE handles residual skew and
hot keys are pre-aggregated map-side by Spark's partial hash aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

_PROPS = StructField("props", MapType(StringType(), StringType()))

# The graph tables' on-disk schemas: `build_nodes`/`build_edges` and the
# KnowledgeGraph upserts write exactly these columns, and the facade reads
# them back with the schema pinned (no per-read footer inference).
NODES_SCHEMA = StructType([
    StructField("node_id", LongType()),
    StructField("label", StringType()),
    StructField("key", StringType()),
    _PROPS,
])
EDGES_SCHEMA = StructType([
    StructField("src_id", LongType()),
    StructField("label", StringType()),
    StructField("dst_id", LongType()),
    _PROPS,
    *(StructField(c, StringType())
      for c in ("src_label", "src_key", "dst_label", "dst_key")),
])


def _lww_props(
    df: DataFrame, group_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Per-attribute last-write-wins over a map<string,string> `attributes`.

    explode map -> (group, attr, value, order) -> max_by(value, order) per
    (group, attr) -> re-assemble map. Partial aggregation happens map-side;
    determinism comes from the explicit (warc_ts, url) order struct.
    """
    exploded = df.select(
        *group_cols,
        F.struct(*order_cols).alias("_ord"),
        F.explode_outer("attributes").alias("attr", "value"),
    )
    per_attr = (
        exploded.filter(F.col("attr").isNotNull())
        .groupBy(*group_cols, "attr")
        .agg(F.expr("max_by(value, _ord)").alias("value"))
    )
    props = per_attr.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("attr", "value")))
        ).alias("props")
    )
    # groups whose every row had an empty attribute map still yield a node
    all_groups = df.select(*group_cols).dropDuplicates()
    return all_groups.join(props, on=group_cols, how="left").withColumn(
        "props",
        F.coalesce(
            "props", F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
        ),
    )


def apply_link_map(
    mentions: DataFrame, edges: DataFrame, links: DataFrame
):
    """Rewrite mention keys and edge endpoint keys to canonical keys.

    links(label, key, canon_key) covers every distinct surface form (identity
    included), so inner joins are total; broadcast when small.
    """
    lm = links
    mentions_c = (
        mentions.join(lm, on=["label", "key"], how="left")
        .withColumn("key", F.coalesce("canon_key", "key"))
        .drop("canon_key")
    )
    src_lm = lm.select(
        F.col("label").alias("src_label"),
        F.col("key").alias("src_key"),
        F.col("canon_key").alias("_src_canon"),
    )
    dst_lm = lm.select(
        F.col("label").alias("dst_label"),
        F.col("key").alias("dst_key"),
        F.col("canon_key").alias("_dst_canon"),
    )
    edges_c = (
        edges.join(src_lm, on=["src_label", "src_key"], how="left")
        .withColumn("src_key", F.coalesce("_src_canon", "src_key"))
        .drop("_src_canon")
        .join(dst_lm, on=["dst_label", "dst_key"], how="left")
        .withColumn("dst_key", F.coalesce("_dst_canon", "dst_key"))
        .drop("_dst_canon")
    )
    # canonicalization may also rewrite the mention's key attribute value
    return mentions_c, edges_c


def build_nodes(mentions: DataFrame, key_attr_by_label: dict[str, str]) -> DataFrame:
    """mentions(url, warc_ts, label, key, attributes) -> nodes table.

    nodes(node_id, label, key, props map<string,string>) = NODES_SCHEMA
    """
    lww = _lww_props(
        mentions, ["label", "key"], ["warc_ts", "url"]
    )
    # ensure the unique-key attribute reflects the canonical key
    entries = F.map_from_arrays(
        F.array(*[F.lit(l) for l in key_attr_by_label]),
        F.array(*[F.lit(a) for a in key_attr_by_label.values()]),
    ) if key_attr_by_label else F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
    with_key_attr = lww.withColumn(
        "_key_attr", F.element_at(entries, F.col("label"))
    )
    nodes = with_key_attr.withColumn(
        "props",
        F.when(
            F.col("_key_attr").isNotNull(),
            F.map_concat(
                F.map_filter("props", lambda k, v: k != F.col("_key_attr")),
                F.map_from_entries(F.array(F.struct(F.col("_key_attr"), F.col("key")))),
            ),
        ).otherwise(F.col("props")),
    ).drop("_key_attr")
    return nodes.withColumn("node_id", F.xxhash64("label", "key")).select(
        "node_id", "label", "key", "props"
    )


def build_edges(raw_edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """A2 dedup + J1 endpoint resolution -> edges(src_id, label, dst_id, props,
    src_label, src_key, dst_label, dst_key) = EDGES_SCHEMA.

    Inner joins reproduce the reference's drop-if-endpoint-missing semantics.
    """
    dedup = _lww_props(
        raw_edges,
        ["src_label", "src_key", "label", "dst_label", "dst_key"],
        ["warc_ts", "url"],
    )
    node_keys = nodes.select("node_id", "label", "key")
    src_nodes = node_keys.select(
        F.col("node_id").alias("src_id"),
        F.col("label").alias("src_label"),
        F.col("key").alias("src_key"),
    )
    dst_nodes = node_keys.select(
        F.col("node_id").alias("dst_id"),
        F.col("label").alias("dst_label"),
        F.col("key").alias("dst_key"),
    )
    return (
        dedup.join(src_nodes, on=["src_label", "src_key"], how="inner")
        .join(dst_nodes, on=["dst_label", "dst_key"], how="inner")
        .select(
            "src_id",
            "label",
            "dst_id",
            "props",
            "src_label",
            "src_key",
            "dst_label",
            "dst_key",
        )
    )


def triples_view(edges: DataFrame) -> DataFrame:
    """(subj, pred, obj) projection for golden comparison (FIXTURES.md §3)."""
    return edges.select(
        F.col("src_label").alias("subj_label"),
        F.col("src_key").alias("subj_key"),
        F.col("label").alias("pred"),
        F.col("dst_label").alias("obj_label"),
        F.col("dst_key").alias("obj_key"),
        F.col("props"),
    )
