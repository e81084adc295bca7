"""KnowledgeGraph facade — the engine's equivalent of the reference's
`graphrag_sdk.kg.KnowledgeGraph` (/root/reference/graphrag_sdk/kg.py).

API parity map:

| reference (kg.py)            | here                                      |
|------------------------------|-------------------------------------------|
| `process_sources(sources)`   | `process_pages(df)` / `process_sources()` |
| `add_node(label, attrs)`     | `add_node` — same validation + MERGE      |
| `add_edge(rel, ..., attrs)`  | `add_edge` — silent no-op if endpoint missing (Cypher MATCH semantics, extract_data_step.py:266) |
| `ask(question)`              | Spark SQL over `register_views()` + `match()` (NL->query out of scope) |
| `delete()`                   | `delete()`                                |

Validation reproduces kg.py:189-297: unknown label/relation -> raise;
unknown attribute -> raise; missing required attribute -> raise; type
mismatch (string/number/boolean) -> raise. The graph lives as parquet
tables under `out_dir` (`nodes/`, `edges/`), written by the resumable
pipeline and updated by MERGE-semantics upserts here.
"""

from __future__ import annotations

import functools
import operator
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kgforge.ontology import Ontology
from kgforge.operators.materialize import EDGES_SCHEMA, NODES_SCHEMA
from kgforge.session import local_frame


class KnowledgeGraph:
    def __init__(
        self,
        spark: SparkSession,
        ontology: Ontology,
        out_dir: str,
        name: str = "kg",
        iceberg_tables: tuple[str, str] | None = None,
    ):
        """`iceberg_tables=(nodes_table, edges_table)` routes upserts
        through Iceberg MERGE INTO (sinks/iceberg.py) instead of the
        parquet table rewrite — requires a configured Iceberg catalog on
        the session; same MERGE semantics, atomic per-batch commits."""
        if not ontology.validate_entities():
            raise ValueError(
                "every entity needs at least one unique attribute "
                "(ontology.py:238-243)"
            )
        if iceberg_tables is not None:
            from kgforge.sinks.iceberg import iceberg_catalogs

            if not iceberg_catalogs(spark):
                raise ValueError(
                    "iceberg_tables given but no Iceberg catalog is "
                    "configured on this SparkSession"
                )
        self.spark = spark
        self.ontology = ontology
        self.out_dir = out_dir
        self.name = name
        self.iceberg_tables = iceberg_tables
        self._compiled = ontology.compile()

    # ------------------------------------------------------------ paths
    @property
    def nodes_path(self) -> str:
        return os.path.join(self.out_dir, "06_nodes")

    @property
    def edges_path(self) -> str:
        return os.path.join(self.out_dir, "07_edges")

    # ------------------------------------------------------- construction
    def process_pages(
        self,
        pages: DataFrame,
        run_id: str | None = None,
        wrappers: list | None = None,
    ) -> dict:
        """EP1: construct/extend the graph from a pages DataFrame
        (url, warc_ts, html, text, lang); resumable. `wrappers` enables
        layout-template extraction (operators/wrappers.py) for corpora
        whose facts live in DOM structure."""
        from kgforge.plans.pipeline import run_pipeline

        return run_pipeline(
            self.spark, pages, self.ontology, self.out_dir, run_id=run_id,
            wrappers=wrappers,
        )

    def process_sources(self, paths: list[str]) -> dict:
        """Load files via the extension factory (S1-S7) and process them as
        text-only pages."""
        from kgforge.sources.loaders import load_source

        dfs = [load_source(self.spark, p) for p in paths]
        docs = dfs[0]
        for d in dfs[1:]:
            docs = docs.unionByName(d)
        pages = docs.select(
            F.concat(
                F.lit("file://"), "source", F.lit("#"), F.col("doc_id")
            ).alias("url"),
            F.current_timestamp().alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.col("content").alias("text"),
            F.lit("en").alias("lang"),
        )
        return self.process_pages(pages)

    def ingest_incremental(self, pages_dir: str) -> None:
        """Incrementally ingest NEW page files from a growing directory.

        The reference's incrementality is "call process_sources again"
        (kg.py:88-106) with MERGE idempotence; here the streaming face
        (streaming/incremental.py) processes each file exactly once
        (checkpoint-tracked), appending to the accumulated mentions /
        raw_edges IR. Call `rematerialize()` afterwards to rebuild
        nodes/edges — linking must be global, because an alias discovered
        in a later batch can merge nodes created earlier (exactly like
        repeated MERGE in the reference re-canonicalizes).
        """
        from kgforge.streaming.incremental import stream_extract

        q = stream_extract(
            self.spark,
            pages_dir,
            self.ontology,
            f"{self.out_dir}/incremental_ir",
            f"{self.out_dir}/_stream_ckpt",
        )
        q.awaitTermination()

    def rematerialize(self) -> dict:
        """Rebuild the graph tables from the accumulated incremental IR:
        the build's stages 03-08 (`pipeline.compose_graph`), held in
        memory, then the nodes and edges written."""
        from kgforge.plans.pipeline import InMemory, compose_graph

        ir = f"{self.out_dir}/incremental_ir"
        # batch_id is the stream's idempotence partition key, not IR data
        mentions = self.spark.read.parquet(f"{ir}/mentions").drop("batch_id")
        raw_edges = self.spark.read.parquet(f"{ir}/raw_edges").drop("batch_id")
        commit = InMemory()
        out = compose_graph(commit, mentions, raw_edges, self.ontology)
        out["nodes"].write.mode("overwrite").parquet(self.nodes_path)
        out["edges"].write.mode("overwrite").parquet(self.edges_path)
        commit.unpersist()
        return {"nodes": self.nodes(), "edges": self.edges()}

    # ------------------------------------------------------- validation
    def _validate(self, label: str, attributes: dict, *, is_relation=False):
        if is_relation:
            rels = self._compiled["relations"].get(label)
            if rels is None:
                raise ValueError(f"relation '{label}' not in ontology")
            known = set()
            for _, _, attrs in rels:
                known |= set(attrs)
            spec_attrs = {
                k: t for _, _, a in rels for k, t in a.items()
            }
            required: set[str] = set()
        else:
            spec = self._compiled["entities"].get(label)
            if spec is None:
                raise ValueError(f"entity '{label}' not in ontology")
            known = set(spec["attrs"])
            spec_attrs = spec["attrs"]
            required = set(spec["required"])
        for k, v in attributes.items():
            if k not in known:
                raise ValueError(
                    f"attribute '{k}' not defined on '{label}' (kg.py:189-297)"
                )
            t = spec_attrs[k]
            if t == "number" and not isinstance(v, (int, float)):
                raise ValueError(f"attribute '{k}' must be a number")
            if t == "boolean" and not isinstance(v, bool):
                raise ValueError(f"attribute '{k}' must be a boolean")
            if t == "string" and not isinstance(v, str):
                raise ValueError(f"attribute '{k}' must be a string")
        for k in required:
            if k not in attributes:
                raise ValueError(f"required attribute '{k}' missing on '{label}'")

    def _node_key(self, label: str, attributes: dict) -> str:
        uniq = self._compiled["entities"][label]["unique"]
        # missing unique attr defaults to "" (extract_data_step.py:202-207)
        return "|".join(str(attributes.get(u, "")) for u in uniq)

    # ------------------------------------------------------------ upserts
    #
    # Parquet has no MERGE INTO, so an upsert rewrites the table; the batch
    # APIs amortize that: N rows = ONE filtered scan that collects the table
    # rows the batch can touch, the MERGE of those rows on the driver, and
    # ONE write (`_merge_rewrite`; the per-row wrappers below keep reference
    # API parity but cost a full rewrite per call — never loop them; pass
    # the batch). Driver-held rows enter Spark as local relations
    # (`session.local_frame`), so no Python worker and no shuffle touch a
    # batch.

    def _merge_rewrite(
        self,
        path: str,
        existing: DataFrame | None,
        keyed: dict[tuple, dict],
        idcols: list[str],
        frame: Callable[[dict[tuple, dict]], DataFrame],
    ) -> None:
        """Overwrite the table at `path` with `existing` MERGEd with the
        key-unique batch `keyed` ({identity tuple in `idcols` order:
        props}); `frame` turns such a dict into table rows, deriving the
        key columns from the identity (`node_id` is xxhash64(label, key),
        an edge's ids hash its endpoints).

        A table row can share an identity with the batch only if each of
        its identity values occurs in the batch, so one `isin` per column
        splits the table. The `touched` rows (a small superset of the
        matches) are collected, and the MERGE runs on them in Python: a row
        the batch names gets the `SET +=` overlay (new values win, untouched
        keys survive), a row it does not name goes back unchanged, and a
        batch identity no row has is inserted. The write is the untouched
        rows plus one local relation of the merged rows; the localCheckpoint
        materializes it before the overwrite deletes the files it was read
        from.
        """
        merged: dict[tuple, dict] = {}
        if existing is not None:
            touched = F.coalesce(
                functools.reduce(operator.and_, (
                    F.col(c).isin(sorted({ident[i] for ident in keyed}))
                    for i, c in enumerate(idcols)
                )),
                F.lit(False),
            )
            for r in existing.where(touched).select(*idcols, "props").collect():
                merged[tuple(r[:-1])] = r["props"]
        for ident, props in keyed.items():
            old = merged.get(ident) or {}
            merged[ident] = {
                k: v for k, v in old.items() if k not in props
            } | props
        out = frame(merged)
        if existing is not None:
            out = existing.where(~touched).unionByName(out).localCheckpoint()
        out.write.mode("overwrite").parquet(path)

    def _node_keyed(self, rows: list[tuple[str, dict]]) -> dict[tuple, dict]:
        """Validated node rows collapsed to {(label, key): props}, last-wins
        in input order (matching sequential MERGE calls)."""
        by_key: dict[tuple, dict] = {}
        for label, attributes in rows:
            self._validate(label, attributes)
            key = self._node_key(label, attributes)
            props = by_key.setdefault((label, key), {})
            props.update({k: str(v) for k, v in attributes.items()})
        return by_key

    def _node_frame(self, keyed: dict[tuple, dict]) -> DataFrame:
        """Node-table rows (NODES_SCHEMA columns) for keyed nodes, as a
        local relation."""
        return local_frame(
            self.spark,
            [(label, key, props) for (label, key), props in keyed.items()],
            "label string, key string, props map<string,string>",
        ).select(
            F.xxhash64("label", "key").alias("node_id"), "label", "key", "props"
        )

    def _node_batch(self, rows: list[tuple[str, dict]]) -> DataFrame:
        """Validated, key-collapsed node batch DF: the Iceberg MERGE
        source (the parquet rewrite MERGEs the same keyed rows on the
        driver); the equivalence property test uses it to pin the two
        paths to each other."""
        return self._node_frame(self._node_keyed(rows))

    def add_nodes(self, rows: list[tuple[str, dict]]) -> None:
        """Batch MERGE (n:label {unique}) SET n += {...} for
        [(label, attributes), ...] (extract_data_step.py:222).

        Validation is driver-side per row (raises on the first bad row,
        before any write); the upsert itself is one `_merge_rewrite`: one
        filtered scan collects the table rows sharing the batch's labels
        and keys, the MERGE runs on the driver, then one write. Duplicate
        keys within the batch collapse last-wins in input order, matching
        sequential MERGE calls.
        """
        if not rows:
            return
        keyed = self._node_keyed(rows)
        if self.iceberg_tables is not None:
            from kgforge.sinks.iceberg import merge_nodes

            merge_nodes(
                self.spark, self._node_frame(keyed), self.iceberg_tables[0]
            )
            return
        self._merge_rewrite(
            self.nodes_path, self.nodes(), keyed, ["label", "key"],
            self._node_frame,
        )

    def add_node(self, label: str, attributes: dict) -> None:
        """Single-row wrapper (reference API parity)."""
        self.add_nodes([(label, attributes)])

    def add_edges(self, rows: list[tuple]) -> int:
        """Batch MATCH (s) MATCH (d) MERGE (s)-[r]->(d) SET r += {...} for
        [(relation, src_label, dst_label, src_attrs, dst_attrs, attributes),
        ...]. Returns how many edges were written; rows whose endpoint
        nodes don't exist are silently dropped — the reference's Cypher
        MATCH semantics (extract_data_step.py:227-269). Existence is ONE
        filtered scan for the batch's distinct endpoints (`_live_edges`),
        not per-row scans; the upsert is one `_merge_rewrite` on the edge
        identity (label and both endpoints' label and key). The count is
        the size of the batch resolved on the driver, so it costs no Spark
        job.
        """
        if not rows:
            return 0
        keyed = self._edge_keyed(rows)  # validates (raises) before any IO
        nodes = self.nodes()
        if nodes is None:
            return 0
        live = self._live_edges(keyed, nodes)
        if not live:
            return 0
        if self.iceberg_tables is not None:
            from kgforge.sinks.iceberg import merge_edges

            merge_edges(
                self.spark, self._edge_frame(live), self.iceberg_tables[1]
            )
            return len(live)
        self._merge_rewrite(
            self.edges_path, self.edges(), live,
            ["label", "src_label", "src_key", "dst_label", "dst_key"],
            self._edge_frame,
        )
        return len(live)

    def _edge_keyed(self, rows: list[tuple]) -> dict[tuple, dict]:
        """Validate every edge row (raising on the first bad one) and
        collapse duplicates last-wins in input order."""
        by_key: dict[tuple, dict] = {}
        for row in rows:
            relation, src_label, dst_label, src_attrs, dst_attrs = row[:5]
            attributes = row[5] if len(row) > 5 else {}
            attributes = attributes or {}
            self._validate(relation, attributes, is_relation=True)
            self._validate(src_label, src_attrs)
            self._validate(dst_label, dst_attrs)
            sigs = [
                (s, d) for (s, d, _) in self._compiled["relations"][relation]
            ]
            if (src_label, dst_label) not in sigs:
                raise ValueError(
                    f"relation '{relation}' does not connect "
                    f"{src_label}->{dst_label} (helpers.py:137-213)"
                )
            k = (
                relation,
                src_label, self._node_key(src_label, src_attrs),
                dst_label, self._node_key(dst_label, dst_attrs),
            )
            props = by_key.setdefault(k, {})
            props.update({k_: str(v) for k_, v in attributes.items()})
        return by_key

    def _live_edges(
        self, keyed: dict[tuple, dict], nodes: DataFrame
    ) -> dict[tuple, dict]:
        """The entries of `keyed` whose two endpoint nodes exist in
        `nodes` (Cypher MATCH semantics). One Spark job collects the
        (label, key) of every node whose key is an endpoint key of the
        batch; the batch is then filtered in Python by exact
        (label, key) pair."""
        ends = {k[1:3] for k in keyed} | {k[3:5] for k in keyed}
        keys = sorted({key for _, key in ends})
        hits = nodes.where(F.col("key").isin(keys)).select("label", "key")
        found = {(r["label"], r["key"]) for r in hits.collect()}
        return {
            k: props for k, props in keyed.items()
            if k[1:3] in found and k[3:5] in found
        }

    def _edge_frame(self, keyed: dict[tuple, dict]) -> DataFrame:
        """Edge-table rows (EDGES_SCHEMA columns) for already-resolved
        keyed edges, as a local relation."""
        return local_frame(
            self.spark,
            [k + (props,) for k, props in keyed.items()],
            "label string, src_label string, src_key string, "
            "dst_label string, dst_key string, props map<string,string>",
        ).select(
            F.xxhash64("src_label", "src_key").alias("src_id"),
            "label",
            F.xxhash64("dst_label", "dst_key").alias("dst_id"),
            "props", "src_label", "src_key", "dst_label", "dst_key",
        )

    def _edge_batch(
        self, keyed: dict[tuple, dict], nodes: DataFrame
    ) -> DataFrame:
        """Key-collapsed edge batch with both endpoints resolved against
        `nodes` (rows with a missing endpoint drop out — Cypher MATCH
        semantics): the Iceberg MERGE source (the parquet rewrite MERGEs
        the same resolved rows on the driver); the equivalence property
        test uses it to pin the two paths to each other."""
        return self._edge_frame(self._live_edges(keyed, nodes))

    def add_edge(
        self,
        relation: str,
        src_label: str,
        dst_label: str,
        src_attrs: dict,
        dst_attrs: dict,
        attributes: dict | None = None,
    ) -> bool:
        """Single-row wrapper; False when an endpoint node is missing."""
        return (
            self.add_edges(
                [(relation, src_label, dst_label, src_attrs, dst_attrs,
                  attributes)]
            )
            == 1
        )

    # ------------------------------------------------------------- reads
    def _table(
        self, path: str, schema: StructType, iceberg_name: str | None
    ) -> DataFrame | None:
        """The table at `path` read with its pinned schema (no footer
        inference job), or None when it does not exist yet. A path that
        exists but is not a table directory raises instead of passing
        for "no graph yet", so an upsert cannot overwrite it.

        Existence is asked of the Hadoop filesystem Spark itself resolves
        `path` with (the session's `fs.defaultFS` decides where a path
        without a scheme lives), so the check and the read or write that
        follows see the same table; it runs no Spark job."""
        if iceberg_name is not None:
            if not self.spark.catalog.tableExists(iceberg_name):
                return None
            return self.spark.table(iceberg_name)
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(
            self.spark._jsparkSession.sessionState().newHadoopConf()
        )
        if not fs.exists(hpath):
            return None
        if not fs.getFileStatus(hpath).isDirectory():
            raise ValueError(f"{path} is not a table directory")
        return self.spark.read.schema(schema).parquet(path)

    def nodes(self) -> DataFrame | None:
        """The nodes table (NODES_SCHEMA), or None when no graph exists."""
        return self._table(
            self.nodes_path, NODES_SCHEMA,
            self.iceberg_tables and self.iceberg_tables[0],
        )

    def edges(self) -> DataFrame | None:
        """The edges table (EDGES_SCHEMA), or None when no edge exists."""
        return self._table(
            self.edges_path, EDGES_SCHEMA,
            self.iceberg_tables and self.iceberg_tables[1],
        )

    def match(self, src_label=None, relation=None, dst_label=None) -> DataFrame:
        """MATCH (a:src)-[:rel]->(b:dst) (EP3 execution surface)."""
        from kgforge.plans.graph_query import match_edges

        return match_edges(self.nodes(), self.edges(), src_label, relation, dst_label)

    def execute_writes(self, queries: list[str]) -> dict:
        """Replay reference-emitted write Cypher (`MERGE (n:L {..}) SET
        n += {..}` / `MATCH .. MATCH .. MERGE (s)-[r:R]->(t) ..`,
        ref extract_data_step.py:218-266) through the batch upserts —
        N queries become one table rewrite per table per segment. See
        plans/cypher_write.py for grammar, segmenting, and the
        endpoint-keying deviation note."""
        from kgforge.plans.cypher_write import execute_writes

        return execute_writes(self, queries)

    def query(self, cypher: str) -> DataFrame:
        """Execute a read-only Cypher query (the subset the reference's
        prompt produces: MATCH chains, WHERE, RETURN + count/sum/avg/min/max
        aggregates, ORDER BY, LIMIT) against the graph tables, after validating labels
        and directions against the ontology (F5) — invalid queries raise
        with the validator's messages, like the reference re-prompts on
        them (graph_query_step.py:40-44)."""
        from kgforge.plans.cypher_exec import run_cypher
        from kgforge.plans.cypher_validate import validate_cypher

        errors = validate_cypher(cypher, self.ontology)
        if errors:
            raise ValueError("; ".join(errors))
        return run_cypher(cypher, self.nodes(), self.edges())

    def pagerank(
        self,
        n_iter: int = 10,
        damping: float = 0.85,
        relation: str | None = None,
    ) -> DataFrame:
        """Entity importance over the graph: (label, key, rank).

        Runs float power-iteration PageRank over the edge table (optionally
        one relation type only) and joins ranks back to node identities.
        Isolated nodes get the teleport mass (1 - damping). The reference
        exposes no analytics over its FalkorDB graph; this is the Spark-side
        equivalent of "which entities matter" for curation/disambiguation.
        """
        from kgforge.plans.graph_query import pagerank as _pr

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        ranks = _pr(
            e.select(
                F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
            ),
            n_iter=n_iter,
            damping=damping,
        )
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        return n.join(ranks, on="id", how="left").select(
            "label",
            "key",
            F.coalesce(F.col("rank"), F.lit(1.0 - damping)).alias("rank"),
        )

    def hits(
        self,
        rounds: int = 2,
        normalized: bool = False,
        relation: str | None = None,
    ) -> DataFrame:
        """HITS hub/authority scores over the DIRECTED edge table
        (optionally one relation type): (label, key, auth, hub).

        Default is the fixed-round unnormalized integer recurrence
        (exact BIGINTs, ranking identical to normalized HITS per round;
        see plans/graph_query.py::hits for the scale notes and the
        ``normalized=True`` float variant). Isolated nodes score 0/0.
        """
        from kgforge.plans.graph_query import hits as _hits

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        scores = _hits(
            e.select(
                F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
            ),
            rounds=rounds,
            normalized=normalized,
        )
        zero = F.lit(0.0) if normalized else F.lit(0).cast("long")
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        return n.join(scores, on="id", how="left").select(
            "label",
            "key",
            F.coalesce(F.col("auth"), zero).alias("auth"),
            F.coalesce(F.col("hub"), zero).alias("hub"),
        )

    def triangle_counts(self, relation: str | None = None) -> DataFrame:
        """Triangle count over the undirected projection of the edge table
        (optionally one relation type): single-row (n_triangles)."""
        from kgforge.plans.graph_query import triangle_count

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        return triangle_count(
            e.select(
                F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
            )
        )

    def closeness(
        self,
        sources: list[tuple[str, str]] | None = None,
        relation: str | None = None,
        max_hops: int = 8,
    ) -> DataFrame:
        """Sampled-landmark closeness centrality over the undirected
        projection of the edge table:
        (label, key, n_reached, total_dist, closeness).

        ``sources`` is a list of (label, key) landmark pairs (default:
        every node — exact closeness when max_hops covers the diameter).
        Landmark-parallel BFS: the landmark count does not multiply the
        per-level join count, so sampling landmarks is how this stays
        cheap on a large graph.
        """
        from kgforge.plans.graph_query import closeness_centrality

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes()
        lm = n
        if sources is not None:
            pred = None
            for label, key in sources:
                c = (F.col("label") == label) & (F.col("key") == key)
                pred = c if pred is None else (pred | c)
            if pred is None:
                raise ValueError("sources must be None or non-empty")
            lm = n.filter(pred)
        out = closeness_centrality(
            edges, lm.select(F.col("node_id").alias("id")),
            max_hops=max_hops,
        )
        return n.select(
            F.col("node_id").alias("id"), "label", "key"
        ).join(out, on="id").select(
            "label", "key", "n_reached", "total_dist", "closeness"
        )

    def random_walks(
        self,
        walk_len: int,
        n_walks: int = 1,
        relation: str | None = None,
        seed: str = "kgforge",
    ) -> DataFrame:
        """DeepWalk-style walk corpus over the undirected projection:
        (walk_id, start_label, start_key, route) — `route` is the
        '->'-joined node-key walk, the table a skip-gram embedding
        trainer consumes. Deterministic hash-draw walks (see
        plans/graph_query.py::random_walks)."""
        from kgforge.plans.graph_query import random_walks

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes()
        walks = random_walks(
            edges, walk_len=walk_len, n_walks=n_walks, seed=seed,
            nodes=n.select(F.col("node_id").alias("id")),
        )
        return self._walks_to_routes(walks, n)

    def node2vec(
        self,
        walk_len: int,
        n_walks: int = 1,
        w_return: int = 1,
        w_common: int = 1,
        w_far: int = 1,
        relation: str | None = None,
        seed: str = "kgforge",
    ) -> DataFrame:
        """node2vec-biased walk corpus over the undirected projection:
        (walk_id, start_label, start_key, route) — `random_walks` with
        the 2nd-order integer weight dials (return / triangle-step /
        far; see plans/graph_query.py::node2vec_walks). far > common >
        return leans DFS (structural-equivalence embeddings); the
        reverse leans BFS (homophily)."""
        from kgforge.plans.graph_query import node2vec_walks

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes()
        walks = node2vec_walks(
            edges, walk_len=walk_len, n_walks=n_walks,
            w_return=w_return, w_common=w_common, w_far=w_far,
            seed=seed, nodes=n.select(F.col("node_id").alias("id")),
        )
        return self._walks_to_routes(walks, n)

    def _walks_to_routes(self, walks: DataFrame, n: DataFrame) -> DataFrame:
        """(walk_id, start, path) -> (walk_id, start_label, start_key,
        route) with node ids translated to keys — shared by
        random_walks/node2vec."""
        id2key = n.select(
            F.col("node_id").cast("string").alias("__pid"),
            F.col("key").alias("__pkey"),
        )
        routes = (
            walks.select(
                "walk_id", F.posexplode("path").alias("__pos", "__pid")
            )
            .join(id2key, on="__pid")
            .groupBy("walk_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__pkey"))
                ).alias("__ps")
            )
            .select(
                "walk_id",
                F.concat_ws(
                    "->", F.transform("__ps", lambda s: s["__pkey"])
                ).alias("route"),
            )
        )
        start = n.select(
            F.col("node_id").cast("string").alias("start"),
            F.col("label").alias("start_label"),
            F.col("key").alias("start_key"),
        )
        return (
            walks.join(routes, on="walk_id")
            .join(start, on="start")
            .select("walk_id", "start_label", "start_key", "route")
        )

    def harmonic(
        self,
        sources: list[tuple[str, str]] | None = None,
        relation: str | None = None,
        max_hops: int = 8,
    ) -> DataFrame:
        """Harmonic centrality over the undirected projection:
        (label, key, harmonic) — the closeness variant that stays
        well-defined on disconnected graphs (sum of 1/dist over
        reachable nodes). Same landmark-parallel BFS and sampling
        contract as `closeness`."""
        from kgforge.plans.graph_query import (
            harmonic_centrality,
            harmonic_sum,
        )

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes()
        lm = n
        if sources is not None:
            pred = None
            for label, key in sources:
                c = (F.col("label") == label) & (F.col("key") == key)
                pred = c if pred is None else (pred | c)
            if pred is None:
                raise ValueError("sources must be None or non-empty")
            lm = n.filter(pred)
        hist = harmonic_centrality(
            edges, lm.select(F.col("node_id").alias("id")),
            max_hops=max_hops,
        )
        out = harmonic_sum(hist)
        return (
            lm.select(F.col("node_id").alias("id"), "label", "key")
            .join(out, on="id", how="left")
            .select(
                "label", "key",
                F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
            )
        )

    def eccentricity(
        self,
        relation: str | None = None,
        max_hops: int = 8,
    ) -> DataFrame:
        """Bounded eccentricity over the undirected projection:
        (label, key, ecc, n_reached) — max BFS distance per node
        (diameter lower bound = max ecc; graph_query.diameter_bound).
        Same landmark-parallel BFS as `closeness`/`harmonic`."""
        from kgforge.plans.graph_query import eccentricity as _ecc

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        out = _ecc(edges, n.select("id"), max_hops=max_hops)
        return n.join(out, on="id").select(
            "label", "key", "ecc", "n_reached"
        )

    def coreness(self, relation: str | None = None) -> DataFrame:
        """Full core decomposition over the undirected projection:
        (label, key, coreness) — every node's largest-k k-core
        membership in one run (graph_query.coreness h-index iteration
        to the fixpoint), complementing the single-k `k_core`."""
        from kgforge.plans.graph_query import coreness as _coreness

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        out = _coreness(edges, n.select("id"))
        return n.join(out, on="id").select(
            "label", "key", F.col("c").alias("coreness")
        )

    def modularity(
        self, relation: str | None = None, n_iter: int = 5
    ) -> float:
        """Newman modularity Q of the LPA communities (`communities`)
        over the undirected projection — the standard partition-quality
        check after community detection. Exact-integer decomposition
        inside (graph_query.modularity_parts); one float division at
        the end."""
        from kgforge.plans.graph_query import (
            label_propagation,
            modularity_score,
        )

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nodes = self.nodes().select(F.col("node_id").alias("id"))
        labels = label_propagation(edges, nodes, n_iter=n_iter)
        return modularity_score(edges, labels)

    def feature_prop(
        self,
        prop: str,
        n_rounds: int = 2,
        relation: str | None = None,
        directed: bool = False,
    ) -> DataFrame:
        """GNN-style neighborhood aggregation of a numeric node
        property: (label, key, f_sum, f_cnt) — after k rounds the
        length-k walk sums/counts of `prop`
        (graph_query.feature_propagation); f_sum/f_cnt is the
        walk-averaged feature. Non-numeric/missing props count 0."""
        from kgforge.plans.graph_query import feature_propagation

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        edges = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        if not directed:
            edges = edges.unionByName(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        n = self.nodes().select(
            F.col("node_id").alias("id"),
            "label",
            "key",
            F.coalesce(
                F.col("props")[prop].try_cast("long"), F.lit(0)
            ).alias("f"),
        )
        out = feature_propagation(
            edges, n.select("id", "f"), n_rounds=n_rounds
        )
        return n.select("id", "label", "key").join(out, on="id").select(
            "label", "key", "f_sum", "f_cnt"
        )

    def betweenness(
        self,
        relation: str | None = None,
        max_depth: int = 4,
    ) -> DataFrame:
        """Bounded-depth (k-)betweenness centrality over the undirected
        projection of the edge table: (label, key, bc). Each unordered
        pair within max_depth counts twice (directed convention on the
        symmetrized graph); see
        plans/graph_query.py::betweenness_counts for the exact
        integer decomposition and scale notes."""
        from kgforge.plans.graph_query import betweenness_centrality

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes()
        out = betweenness_centrality(
            edges, max_depth=max_depth,
            nodes=n.select(F.col("node_id").alias("id")),
        )
        return n.select(
            F.col("node_id").alias("id"), "label", "key"
        ).join(out, on="id").select("label", "key", "bc")

    def communities(
        self, relation: str | None = None, n_iter: int = 5
    ) -> DataFrame:
        """Label-propagation communities over the undirected edge
        projection: (label, key, community) — community is the
        representative member's key (deterministic: self-inclusive
        synchronous LPA, min-label tie-break)."""
        from kgforge.plans.graph_query import label_propagation

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        n = self.nodes()
        out = label_propagation(
            edges, n.select(F.col("node_id").alias("id")), n_iter=n_iter
        )
        rep = n.select(
            F.col("node_id").alias("community"),
            F.col("key").alias("community_key"),
        )
        return (
            n.select(F.col("node_id").alias("id"), "label", "key")
            .join(out, on="id")
            .join(rep, on="community")
            .select("label", "key", F.col("community_key").alias("community"))
        )

    def k_core(
        self,
        k: int,
        relation: str | None = None,
        rounds: int | None = None,
    ) -> DataFrame:
        """Nodes in the k-core of the undirected edge projection:
        (label, key) — iterative removal of degree-< k nodes
        (plans/graph_query.k_core; `rounds` bounds the peel, None runs
        to the fixpoint). The standard corpus-graph densification
        filter: keep only entities embedded in dense neighborhoods."""
        from kgforge.plans.graph_query import k_core as _k_core

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates()
        core = _k_core(edges, k=k, rounds=rounds)
        n = self.nodes()
        return (
            n.select(F.col("node_id").alias("id"), "label", "key")
            .join(core, on="id", how="left_semi")
            .select("label", "key")
        )

    def k_truss(
        self,
        k: int,
        relation: str | None = None,
        rounds: int | None = None,
    ) -> DataFrame:
        """Entity pairs in the k-truss of the undirected edge
        projection: (label_a, key_a, label_b, key_b) — iterative
        removal of edges with fewer than k-2 triangle witnesses
        (plans/graph_query.k_truss). One notch stronger than k_core:
        trusses reject star-like hubs that cores keep, so surviving
        pairs sit inside genuinely clustered neighborhoods."""
        from kgforge.plans.graph_query import k_truss as _k_truss

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        truss = _k_truss(
            e.select(
                F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
            ),
            k=k,
            rounds=rounds,
        )
        n = self.nodes().select(
            F.col("node_id").alias("id"),
            F.col("label"),
            F.col("key"),
        )
        return (
            truss.join(n.withColumnsRenamed(
                {"id": "a", "label": "label_a", "key": "key_a"}
            ), on="a")
            .join(n.withColumnsRenamed(
                {"id": "b", "label": "label_b", "key": "key_b"}
            ), on="b")
            .select("label_a", "key_a", "label_b", "key_b")
        )

    def personalized_rank(
        self,
        seeds: list[tuple[str, str]],
        relation: str | None = None,
        n_iter: int = 3,
    ) -> DataFrame:
        """Personalized PageRank from seed entities: (label, key, rank)
        — rank the graph neighborhood around the given (label, key)
        entities (plans/graph_query.personalized_pagerank, BIGINT
        fixed-point). The GraphRAG retrieval expansion: score candidate
        context entities by multi-hop proximity to the query's."""
        if not seeds:
            raise ValueError("seeds must be non-empty")
        from kgforge.plans.graph_query import personalized_pagerank

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        sym = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates()
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        seed_df = n.join(
            local_frame(self.spark, seeds, "label string, key string"),
            on=["label", "key"],
            how="left_semi",
        ).select("id")
        out = personalized_pagerank(
            sym, seed_df, n_iter=n_iter, scaled=True, dedup=False
        )
        return n.join(out, on="id").select("label", "key", "rank")

    def independent_set(
        self, relation: str | None = None, rounds: int | None = None
    ) -> DataFrame:
        """Entities forming a maximal independent set of the undirected
        edge projection: (label, key) — derandomized Luby
        (plans/graph_query.maximal_independent_set). The standard
        pick-non-conflicting-representatives primitive (e.g. choose
        audit samples no two of which are directly related)."""
        from kgforge.plans.graph_query import maximal_independent_set

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        mis = maximal_independent_set(
            e.select(
                F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
            ),
            rounds=rounds,
        )
        return (
            self.nodes()
            .select(F.col("node_id").alias("id"), "label", "key")
            .join(mis, on="id", how="left_semi")
            .select("label", "key")
        )

    def neighborhood_sizes(
        self, radius: int = 2, relation: str | None = None, p: int = 8
    ) -> DataFrame:
        """Approximate distance-<=radius ball size per entity:
        (label, key, est) — HyperBall over the undirected projection
        (plans/graph_query.hyperball_registers + hll_estimate). The
        web-scale neighborhood-function primitive: per-entity state is
        2^p registers regardless of ball size."""
        from kgforge.functions.sketch import hll_estimate
        from kgforge.plans.graph_query import hyperball_registers

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        fwd = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        sym = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates()
        regs = hyperball_registers(sym, rounds=radius, p=p)
        est = hll_estimate(regs, "id", p=p)
        return (
            self.nodes()
            .select(F.col("node_id").alias("id"), "label", "key")
            .join(est, on="id")
            .select("label", "key", "est")
        )

    def node_similarity(
        self,
        relation: str | None = None,
        min_shared: int = 1,
        max_dst_degree: int | None = None,
    ) -> DataFrame:
        """Neighborhood-Jaccard similarity between entities that share
        out-neighbors: (label_a, key_a, label_b, key_b, shared, deg_a,
        deg_b, jaccard) — the GDS `nodeSimilarity` surface over the
        materialized graph (plans/graph_query.node_similarity).
        ``max_dst_degree`` caps viral hub neighbors before the
        inverted-index self-join (documented recall trade)."""
        from kgforge.plans.graph_query import node_similarity as _nsim

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        sim = _nsim(
            e.select(
                F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
            ),
            min_shared=min_shared,
            max_dst_degree=max_dst_degree,
        )
        n = self.nodes().select(F.col("node_id").alias("id"), "label", "key")
        return (
            sim.join(
                n.select(
                    F.col("id").alias("a"),
                    F.col("label").alias("label_a"),
                    F.col("key").alias("key_a"),
                ),
                on="a",
            )
            .join(
                n.select(
                    F.col("id").alias("b"),
                    F.col("label").alias("label_b"),
                    F.col("key").alias("key_b"),
                ),
                on="b",
            )
            .select(
                "label_a",
                "key_a",
                "label_b",
                "key_b",
                "shared",
                "deg_a",
                "deg_b",
                (
                    F.col("shared")
                    / (F.col("deg_a") + F.col("deg_b") - F.col("shared"))
                ).alias("jaccard"),
            )
        )

    def shortest_path_weights(
        self,
        sources: list[tuple[str, str]],
        weight_prop: str | None = None,
        relation: str | None = None,
        max_hops: int = 8,
    ) -> DataFrame:
        """Min-total-weight distance from a source entity set:
        (label, key, dist) — the FalkorDB ``algo.SSpaths`` surface
        (ref fixtures/prompts.py:395-398) over the materialized graph.

        ``sources`` is a list of (label, key) pairs. Edge weight comes
        from ``weight_prop`` (try_cast double; a missing/unparseable prop
        counts 1.0) or defaults to 1.0 per hop, making dist the hop
        count. Unreachable nodes are absent from the result.
        """
        from kgforge.plans.graph_query import weighted_sssp

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        w = (
            F.coalesce(
                F.col("props")[weight_prop].try_cast("double"), F.lit(1.0)
            )
            if weight_prop is not None
            else F.lit(1.0)
        )
        edges = e.select(
            F.col("src_id").alias("src"),
            F.col("dst_id").alias("dst"),
            w.alias("w"),
        )
        n = self.nodes()
        pred = None
        for label, key in sources:
            c = (F.col("label") == label) & (F.col("key") == key)
            pred = c if pred is None else (pred | c)
        if pred is None:
            raise ValueError("sources must be a non-empty list")
        src_df = n.filter(pred).select(F.col("node_id").alias("id"))
        dist = weighted_sssp(edges, src_df, max_hops=max_hops)
        return n.select(
            F.col("node_id").alias("id"), "label", "key"
        ).join(dist, on="id").select("label", "key", "d").withColumnRenamed(
            "d", "dist"
        )

    def shortest_path_weight(
        self,
        source: tuple[str, str],
        target: tuple[str, str],
        weight_prop: str | None = None,
        relation: str | None = None,
        max_hops: int = 8,
    ) -> DataFrame:
        """Single-PAIR min-total-weight distance: (label, key, dist) for
        the target entity — the FalkorDB ``algo.SPpaths`` surface (ref
        fixtures/prompts.py:394-395; VERDICT r03 #4). ``source`` /
        ``target`` are (label, key) pairs; weights as in
        `shortest_path_weights`. Empty result = unreachable in max_hops.

        Uses `shortest_path_pair`'s branch-and-bound Bellman-Ford: nodes
        that cannot improve the pair leave the relaxation set, so this is
        strictly cheaper than running the full SSSP and filtering.
        """
        from kgforge.plans.graph_query import shortest_path_pair

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        w = (
            F.coalesce(
                F.col("props")[weight_prop].try_cast("double"), F.lit(1.0)
            )
            if weight_prop is not None
            else F.lit(1.0)
        )
        edges = e.select(
            F.col("src_id").alias("src"),
            F.col("dst_id").alias("dst"),
            w.alias("w"),
        )
        n = self.nodes()

        def _pick(pair: tuple[str, str]) -> DataFrame:
            label, key = pair
            return n.filter(
                (F.col("label") == label) & (F.col("key") == key)
            ).select(F.col("node_id").alias("id"))

        dist = shortest_path_pair(
            edges, _pick(source), _pick(target), max_hops=max_hops
        )
        return n.select(
            F.col("node_id").alias("id"), "label", "key"
        ).join(dist, on="id").select(
            "label", "key", F.col("d").alias("dist")
        )

    def shortest_path_route(
        self,
        source: tuple[str, str],
        weight_prop: str | None = None,
        relation: str | None = None,
        max_hops: int = 8,
    ) -> DataFrame:
        """Cheapest ROUTE from a source entity to every reachable node:
        (label, key, dist, route) where route is the textual node-key
        walk 'k1->k2->…' — the facade twin of Cypher's ``CALL
        algo.SSpaths(...) YIELD path, pathWeight`` (r5). One origin, so
        the Bellman-Ford carries its per-node argmin path array
        (graph_query.weighted_paths with_path=True); among equal-weight
        walks the lexicographically smallest id-sequence wins
        (deterministic). Weight semantics as in
        `shortest_path_weights`."""
        from kgforge.plans.graph_query import weighted_paths

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        w = (
            F.coalesce(
                F.col("props")[weight_prop].try_cast("double"), F.lit(1.0)
            )
            if weight_prop is not None
            else F.lit(1.0)
        )
        edges = e.select(
            F.col("src_id").alias("src"),
            F.col("dst_id").alias("dst"),
            w.alias("w"),
        )
        n = self.nodes()
        label, key = source
        origin = n.filter(
            (F.col("label") == label) & (F.col("key") == key)
        ).select(F.col("node_id").alias("origin"))
        dist = weighted_paths(
            edges, origin, max_hops=max_hops, with_path=True
        )
        id2key = n.select(
            F.col("node_id").alias("__pid"), F.col("key").alias("__pkey")
        )
        routes = (
            dist.select(
                "origin", "id", F.posexplode("path").alias("__pos", "__pid")
            )
            .join(id2key, on="__pid")
            .groupBy("origin", "id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__pkey"))
                ).alias("__ps")
            )
            .select(
                "origin", "id",
                F.concat_ws(
                    "->", F.transform("__ps", lambda s: s["__pkey"])
                ).alias("route"),
            )
        )
        out = dist.drop("path").join(routes, on=["origin", "id"])
        return (
            n.select(F.col("node_id").alias("id"), "label", "key")
            .join(out, on="id")
            .select("label", "key", F.col("d").alias("dist"), "route")
        )

    def k_cheapest_routes(
        self,
        source: tuple[str, str],
        k: int,
        weight_prop: str | None = None,
        relation: str | None = None,
        max_hops: int = 8,
        beam: int | None = None,
    ) -> DataFrame:
        """The k cheapest SIMPLE routes from a source entity to every
        reachable node: (label, key, rank, dist, route) — the facade
        twin of Cypher's ``CALL algo.SSpaths({..., pathCount: k})``
        (r5). EXACT bounded enumeration by default; pass ``beam`` for
        the documented beam-search approximation on dense graphs (see
        graph_query.weighted_paths_topk). Ranks are 1..k by (weight,
        lexicographic id-sequence). Weight semantics as in
        `shortest_path_weights`."""
        from kgforge.plans.graph_query import weighted_paths_topk

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        w = (
            F.coalesce(
                F.col("props")[weight_prop].try_cast("double"), F.lit(1.0)
            )
            if weight_prop is not None
            else F.lit(1.0)
        )
        edges = e.select(
            F.col("src_id").alias("src"),
            F.col("dst_id").alias("dst"),
            w.alias("w"),
        )
        n = self.nodes()
        label, key = source
        origin = n.filter(
            (F.col("label") == label) & (F.col("key") == key)
        ).select(F.col("node_id").alias("origin"))
        dist = weighted_paths_topk(
            edges, origin, k=k, max_hops=max_hops, beam=beam
        )
        id2key = n.select(
            F.col("node_id").alias("__pid"), F.col("key").alias("__pkey")
        )
        routes = (
            dist.select(
                "origin", "id", "rank",
                F.posexplode("path").alias("__pos", "__pid"),
            )
            .join(id2key, on="__pid")
            .groupBy("origin", "id", "rank")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__pkey"))
                ).alias("__ps")
            )
            .select(
                "origin", "id", "rank",
                F.concat_ws(
                    "->", F.transform("__ps", lambda s: s["__pkey"])
                ).alias("route"),
            )
        )
        out = dist.drop("path").join(routes, on=["origin", "id", "rank"])
        return (
            n.select(F.col("node_id").alias("id"), "label", "key")
            .join(out, on="id")
            .select(
                "label", "key", "rank", F.col("d").alias("dist"), "route"
            )
        )

    def scc(self, relation: str | None = None) -> DataFrame:
        """Strongly connected components of the DIRECTED edge
        projection: (label, key, scc_label, scc_key) — each node tagged
        with its component representative (the member with the smallest
        internal id). plans/graph_query.strongly_connected_components
        (FW-BW coloring); unlike k_core/communities this does NOT
        symmetrize — mutual reachability is the point."""
        from kgforge.plans.graph_query import (
            strongly_connected_components as _scc,
        )

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        edges = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        out = _scc(edges, n.select("id"))
        rep = n.select(
            F.col("id").alias("scc"),
            F.col("label").alias("scc_label"),
            F.col("key").alias("scc_key"),
        )
        return (
            out.join(n, on="id")
            .join(rep, on="scc")
            .select("label", "key", "scc_label", "scc_key")
        )

    def dependency_layers(self, relation: str | None = None) -> DataFrame:
        """Cycle-safe topological waves: (label, key, layer) with layer
        = the longest dependency depth of the node's SCC in the
        condensation DAG (every member of a cycle shares its
        component's layer). The full composition: SCC -> condensation
        -> Kahn longest-path layering (plans/graph_query.py)."""
        from kgforge.plans.graph_query import (
            condensation as _cond,
            strongly_connected_components as _scc,
            topological_layers as _layers,
        )

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        edges = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        scc = _scc(edges, n.select("id"))
        cond = _cond(edges, scc).select(
            F.col("src_scc").alias("src"), F.col("dst_scc").alias("dst")
        )
        qnodes = scc.select(F.col("scc").alias("id")).dropDuplicates()
        layers = _layers(cond, qnodes).withColumnRenamed("id", "scc")
        return (
            scc.join(layers, on="scc")
            .join(n, on="id")
            .select("label", "key", "layer")
        )

    def matching(self, relation: str | None = None) -> DataFrame:
        """Maximal matching over the undirected edge projection: one
        disjoint pairing per node, (label_a, key_a, label_b, key_b) —
        the deterministic pick-one-partner primitive for entity-pair
        shortlists (plans/graph_query.maximal_matching)."""
        from kgforge.plans.graph_query import maximal_matching as _mm

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        edges = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        m = _mm(edges)
        na = n.select(
            F.col("id").alias("a"),
            F.col("label").alias("label_a"),
            F.col("key").alias("key_a"),
        )
        nb = n.select(
            F.col("id").alias("b"),
            F.col("label").alias("label_b"),
            F.col("key").alias("key_b"),
        )
        return (
            m.join(na, on="a")
            .join(nb, on="b")
            .select("label_a", "key_a", "label_b", "key_b")
        )

    def link_predictions(
        self,
        relation: str | None = None,
        min_common: int = 1,
        max_degree: int | None = None,
    ) -> DataFrame:
        """KG-completion shortlist: candidate SAME-neighborhood pairs
        that are NOT yet connected, with all-integer common-neighbor /
        degree scores (label_a, key_a, label_b, key_b, common, deg_a,
        deg_b) — plans/graph_query.link_prediction_scores over the
        undirected edge projection."""
        from kgforge.plans.graph_query import link_prediction_scores as _lp

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        edges = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        cand = _lp(edges, min_common=min_common, max_degree=max_degree)
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        na = n.select(
            F.col("id").alias("a"),
            F.col("label").alias("label_a"),
            F.col("key").alias("key_a"),
        )
        nb = n.select(
            F.col("id").alias("b"),
            F.col("label").alias("label_b"),
            F.col("key").alias("key_b"),
        )
        return (
            cand.join(na, on="a")
            .join(nb, on="b")
            .select(
                "label_a", "key_a", "label_b", "key_b",
                "common", "deg_a", "deg_b",
            )
        )

    def clustering(self, relation: str | None = None) -> DataFrame:
        """Per-node local clustering decomposition (label, key,
        triangles, deg) over the undirected edge projection —
        plans/graph_query.local_clustering; C = 2·tri/(deg·(deg−1))
        derives at read time."""
        from kgforge.plans.graph_query import local_clustering as _lc

        e = self.edges()
        if relation is not None:
            e = e.filter(F.col("label") == relation)
        edges = e.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        )
        out = _lc(edges)
        n = self.nodes().select(
            F.col("node_id").alias("id"), "label", "key"
        )
        return out.join(n, on="id").select(
            "label", "key", "triangles", "deg"
        )

    def register_views(self, prefix: str | None = None) -> None:
        """Expose the graph to Spark SQL: <name>_nodes / <name>_edges."""
        p = prefix or self.name
        self.nodes().createOrReplaceTempView(f"{p}_nodes")
        self.edges().createOrReplaceTempView(f"{p}_edges")

    def export_falkordb(self, export_dir: str) -> None:
        from kgforge.sinks.falkordb_export import export_cypher

        export_cypher(
            self.nodes(), self.edges(), self.ontology.key_attrs(), export_dir
        )

    def delete(self) -> None:
        """Drop the graph (kg.py delete parity)."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
