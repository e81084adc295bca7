"""The KG build dataflow, defined once (the reference's EP1, Spark-first).

Replaces the reference's graphrag_sdk/kg.py:88-119 +
steps/extract_data_step.py — where the reference flattens the whole corpus in
driver memory, fans out to 16 threads, and issues one LLM call + O(entities)
serial DB round-trips per document — with one staged DataFrame dataflow:

    01_text       pages --(S3 text UDF)--> text             text_stage
    02_ir         text --(L3 rules UDF)--> extraction IR    ir_stage
                  IR --explode/sanitize/ontology filter     flatten_stage
                     (P1-P7, J6/J7)--> mentions, raw_edges
    03_mentions   P8 attribute validation; invalid rows go to the
                  `_quarantine/mentions` side output
    04_raw_edges  ontology-conforming edges
    05_links      J8 LSH linking + J9 CC --> link map
    06_nodes      J1 canonical keys + A1 dedup --> nodes
    07_edges      A2 dedup + endpoint resolution --> edges
    08_triples    (subj, pred, obj) view of the edges

`compose` is the one place these stages are strung together (03-08 are
`compose_graph`). Each stage is committed through a commit policy: an
object whose `run_stage(name, build, ...)` and
`run_stage_bucketed(name, input_df, transform, ...)` turn the stage's plan
into its output, and whose `side_output(name, df)` keeps the quarantine.
There are two:

- `run_pipeline` passes a `RunContext` (plans/lineage.py): every stage is
  written as parquet under ``out_dir/<name>`` with lineage, so a rerun
  resumes after the last complete stage, and 02_ir per url bucket.
- `build_graph` passes `InMemory`: every stage's output is persisted,
  nothing is written, and `unpersist()` releases them.

The other callers reuse the stage functions rather than re-composing
operators: `streaming.incremental.stream_extract` runs text -> IR -> flatten
per micro-batch, `KnowledgeGraph.rematerialize` runs `compose_graph` over the
accumulated IR, and the fixture gate (`fixtures.extract_corpus_triples`)
runs IR -> flatten. The Arrow-batched UDFs of 01 and 02 are the only places
the build leaves the JVM.

Scale notes (SURVEY §4): the `html` column dies at the first stage unless
layout wrappers read it; 01_text is repartitioned on url so extraction is
balanced; linking joins key on (label, band) — never a cross product;
node/edge dedup is a hash aggregate with map-side partial agg; AQE handles
skew splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.ontology import Ontology
from kgforge.operators import extract, link, materialize, normalize
from kgforge.plans.lineage import RunContext
from kgforge.sources.html import text_expr


# ------------------------------------------------------------------ stages
def text_stage(
    pages: DataFrame,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> DataFrame:
    """01_text: pages(url, warc_ts, html, text, lang) ->
    (url, warc_ts, text, lang[, html], url_host).

    Layout-template wrappers read DOM structure, so with `wrappers` the
    `html` column rides through to the extraction UDF; otherwise it dies
    here (the column-pruning contract)."""
    if lang_filter:
        pages = pages.filter(F.col("lang").isin(lang_filter))
    html_keep = ["html"] if wrappers else []
    return pages.select(
        "url", "warc_ts", text_expr(pages), "lang", *html_keep
    ).withColumn("url_host", F.parse_url("url", F.lit("HOST")))


def ir_stage(
    text: DataFrame, onto: Ontology, wrappers: list | None = None
) -> DataFrame:
    """02_ir: text -> (url, warc_ts, entities, relations) extraction IR.
    Document-local coreference runs inside the extraction UDF
    (extract._resolve_local_aliases)."""
    return extract.extract_ir(
        text,
        extract.compile_rules(onto),
        keep_cols=["url", "warc_ts"],
        wrappers=wrappers,
        html_col="html" if wrappers else None,
    )


def flatten_stage(ir: DataFrame, onto: Ontology) -> tuple[DataFrame, DataFrame]:
    """IR -> (mentions, raw_edges), sanitized and filtered to the ontology."""
    mentions, raw_edges = extract.explode_ir(ir)
    return normalize.filter_to_ontology(
        normalize.sanitize_mentions(mentions),
        normalize.sanitize_edges(raw_edges),
        onto,
        ir.sparkSession,
    )


# ------------------------------------------------------------- composition
def compose(
    commit,
    pages: DataFrame,
    onto: Ontology,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> dict:
    """The whole build, pages -> triples, committed through `commit`."""
    # repartition on full url, not url_host: extraction is per-row, and a
    # Zipf-headed host would put most of the corpus in one partition (the
    # lineage counters showed a 20x spread at 5k pages). url_host stays as a
    # column for host-bucketed table layouts downstream.
    text = commit.run_stage(
        "01_text",
        lambda: text_stage(pages, lang_filter, wrappers),
        repartition_col="url",
    )
    # bucket-granular resume: the most expensive stage only recomputes url
    # buckets whose lineage never committed after a mid-stage crash
    ir = commit.run_stage_bucketed(
        "02_ir",
        text,
        lambda df: ir_stage(df, onto, wrappers),
        bucket_col="url",
        n_buckets=64,
    )
    mentions, raw_edges = flatten_stage(ir, onto)
    return {"text": text, "ir": ir, **compose_graph(commit, mentions, raw_edges, onto)}


def compose_graph(
    commit, mentions: DataFrame, raw_edges: DataFrame, onto: Ontology
) -> dict:
    """Stages 03-08: flat mentions/raw_edges -> links, nodes, edges, triples."""

    def build_mentions():
        valid, quarantine = normalize.validate_attributes(mentions, onto)
        # skip-don't-fail with a durable record (the reference logs skipped
        # records per task, extract_data_step.py:177-189): invalid rows land
        # in a quarantine table instead of vanishing
        commit.side_output("_quarantine/mentions", quarantine)
        return valid

    valid = commit.run_stage("03_mentions", build_mentions)
    edges_ok = commit.run_stage("04_raw_edges", lambda: raw_edges)
    links = commit.run_stage(
        "05_links", lambda: link.link_map(link.endpoint_names(valid, edges_ok))
    )
    mentions_c, edges_c = materialize.apply_link_map(valid, edges_ok, links)
    nodes = commit.run_stage(
        "06_nodes", lambda: materialize.build_nodes(mentions_c, onto.key_attrs())
    )
    edges = commit.run_stage(
        "07_edges", lambda: materialize.build_edges(edges_c, nodes)
    )
    triples = commit.run_stage(
        "08_triples", lambda: materialize.triples_view(edges)
    )
    return {
        "mentions": valid,
        "raw_edges": edges_ok,
        "links": links,
        "nodes": nodes,
        "edges": edges,
        "triples": triples,
    }


class InMemory:
    """Commit policy that persists each stage's output and writes nothing.

    The layout arguments of `run_stage`/`run_stage_bucketed` (repartition
    column, url buckets) shape on-disk stage tables and are ignored, and
    side outputs (the quarantine) are dropped."""

    def __init__(self) -> None:
        self.persisted: list[DataFrame] = []

    def run_stage(self, name: str, build, **layout) -> DataFrame:
        df = build().persist()
        self.persisted.append(df)
        return df

    def run_stage_bucketed(
        self, name: str, input_df: DataFrame, transform, **layout
    ) -> DataFrame:
        return self.run_stage(name, lambda: transform(input_df))

    def side_output(self, name: str, df: DataFrame) -> None:
        pass

    def unpersist(self) -> None:
        """Release every persisted stage output, including handles
        operators tracked in kgforge.cache."""
        from kgforge.cache import release_cached

        for df in self.persisted:
            df.unpersist()
        release_cached()


# ------------------------------------------------------------- entry points
def build_graph(
    spark: SparkSession,
    pages: DataFrame,
    onto: Ontology,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> dict:
    """Build the graph in memory: `compose` with the `InMemory` policy.

    Returns the stage outputs as persisted DataFrames ("text", "ir",
    "mentions", "raw_edges", "links", "nodes", "edges", "triples") plus
    "unpersist", which long sessions that build many graphs call once done
    with the outputs. Used by `entry()`, the driver gates and the benches;
    `run_pipeline` is the same dataflow committed to disk.

    `wrappers` (operators/wrappers.py specs) enables layout-template
    extraction; the `html` column then rides through the text stage into
    the extraction UDF.
    """
    commit = InMemory()
    out = compose(commit, pages, onto, lang_filter, wrappers)
    return {**out, "unpersist": commit.unpersist}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    onto: Ontology,
    out_dir: str,
    run_id: str | None = None,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> dict:
    """Run (or resume) the build under `out_dir`: `compose` with a
    `RunContext`, which commits each stage as parquet plus lineage and
    skips the stages a previous run completed.

    Returns the stage outputs read back from disk plus "ctx" (the
    RunContext). With `wrappers` (see build_graph) the stage-01 parquet
    carries the html column: template corpora trade stage storage for
    structure-exact extraction."""
    ctx = (
        RunContext(spark, out_dir, run_id)
        if run_id
        else RunContext(spark, out_dir)
    )
    out = compose(ctx, pages, onto, lang_filter, wrappers)
    # S10: the ontology rides with the graph it constrained — the engine's
    # analogue of the reference's MERGE-per-meta-node save
    # (graphrag_sdk/ontology.py:317-332)
    onto.save(f"{out_dir}/ontology.json")
    return {"ctx": ctx, **out}
