"""End-to-end KG-construction pipeline (the reference's EP1, Spark-first).

Replaces /root/reference/graphrag_sdk/kg.py:88-119 +
steps/extract_data_step.py — where the reference flattens the whole corpus in
driver memory, fans out to 16 threads, and issues one LLM call + O(entities)
serial DB round-trips per document — with a staged DataFrame dataflow:

    pages --(S3 text UDF)--> text --(L3 rules UDF)--> IR
      --explode/normalize (P1-P8, J6/J7)--> mentions, raw_edges
      --J8 LSH linking + J9 CC--> link map
      --A1/A2 dedup + J1 resolution--> nodes, edges --> triples

Every stage commits to parquet with lineage (plans/lineage.py), so a rerun
resumes after the last complete stage. Stage boundaries are the checkpoints.

Scale notes (SURVEY §4): the `html` column dies at the first stage; text
stages repartition on url_host (bucket analogue); linking joins key on
(label, band) — never a cross product; node/edge dedup is a hash aggregate
with map-side partial agg; AQE handles skew splits and `hot_keys` salting is
available in operators/skew.py for the heavy-hitter node ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.ontology import Ontology
from kgforge.operators import extract, link, materialize, normalize
from kgforge.plans.lineage import RunContext
from kgforge.sources.html import text_expr


def build_graph(
    spark: SparkSession,
    pages: DataFrame,
    onto: Ontology,
    lang_filter: list[str] | None = None,
    reuse_text_col: bool = False,
    wrappers: list | None = None,
) -> dict:
    """Pure-DataFrame composition of the pipeline (no checkpointing).

    Used by `entry()` smoke paths and micro-benchmarks; `run_pipeline` is the
    production staged/resumable variant with identical semantics.

    `wrappers` (operators/wrappers.py specs) enables layout-template
    extraction; because template wrappers read DOM structure, the `html`
    column then rides THROUGH the text stage into the extraction UDF
    instead of dying at stage 1 (the no-wrapper default keeps the
    html-dies-early column-pruning contract).
    """
    rules = extract.compile_rules(onto)
    df = pages
    if lang_filter:
        df = df.filter(F.col("lang").isin(lang_filter))
    html_keep = ["html"] if wrappers else []
    # reuse_text_col=True skips the UDF entirely when a trusted text column
    # exists (benchmark/entry paths)
    text = (
        F.col("text") if reuse_text_col and "text" in df.columns
        else text_expr(df)
    )
    text_df = df.select("url", "warc_ts", text, "lang", *html_keep)
    # persist at the Python-UDF boundary: IR feeds both explode branches and
    # every downstream consumer — without this the bs4+extraction UDF chain
    # re-runs once per consumer (the single biggest wall-clock factor here)
    ir_df = extract.extract_ir(
        text_df,
        rules,
        keep_cols=["url", "warc_ts"],
        wrappers=wrappers,
        html_col="html" if wrappers else None,
    ).persist()
    # (document-local coreference happens inside the extraction UDF:
    # extract._resolve_local_aliases — zero extra stages)
    mentions, raw_edges = extract.explode_ir(ir_df)
    mentions = normalize.sanitize_mentions(mentions)
    raw_edges = normalize.sanitize_edges(raw_edges)
    mentions, raw_edges = normalize.filter_to_ontology(
        mentions, raw_edges, onto, spark
    )
    mentions, _quar = normalize.validate_attributes(mentions, onto)
    mentions = mentions.persist()
    raw_edges = raw_edges.persist()
    # link_map's CC fixpoint runs eagerly (localCheckpoint per iteration);
    # its output is consumed once per endpoint side — persist the small map
    links = link.link_map(link.endpoint_names(mentions, raw_edges)).persist()
    mentions_c, edges_c = materialize.apply_link_map(mentions, raw_edges, links)
    nodes = materialize.build_nodes(mentions_c, onto.key_attrs()).persist()
    edges = materialize.build_edges(edges_c, nodes)
    triples = materialize.triples_view(edges)
    persisted = [ir_df, mentions, raw_edges, links, nodes]

    def unpersist():
        """Release this graph's cached intermediates (long sessions that
        build many graphs should call this when done with the outputs),
        including handles operators tracked in kgforge.cache."""
        from kgforge.cache import release_cached

        for df in persisted:
            df.unpersist()
        release_cached()

    return {
        "text": text_df,
        "mentions": mentions,
        "raw_edges": raw_edges,
        "links": links,
        "nodes": nodes,
        "edges": edges,
        "triples": triples,
        "unpersist": unpersist,
    }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    onto: Ontology,
    out_dir: str,
    run_id: str | None = None,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns dict of output DataFrames.

    `wrappers` = layout-template extraction specs (see build_graph); when
    set, the html column survives stage 01 so the IR stage can parse DOM
    structure, and the stage-01 parquet carries it (template corpora trade
    stage-storage for structure-exact extraction)."""
    ctx = (
        RunContext(spark, out_dir, run_id)
        if run_id
        else RunContext(spark, out_dir)
    )
    rules = extract.compile_rules(onto)

    # ---- stage 1: text extraction (M0) --------------------------------
    def build_text():
        df = pages
        if lang_filter:
            df = df.filter(F.col("lang").isin(lang_filter))
        html_keep = ["html"] if wrappers else []
        out = df.select("url", "warc_ts", text_expr(df), "lang", *html_keep)
        return out.withColumn("url_host", F.parse_url("url", F.lit("HOST")))

    # repartition on full url, not url_host: extraction is per-row, and a
    # Zipf-headed host would put most of the corpus in one partition (the
    # lineage counters showed a 20x spread at 5k pages). url_host stays as a
    # column for host-bucketed table layouts downstream.
    text_df = ctx.run_stage("01_text", build_text, repartition_col="url")

    # ---- stage 2: extraction IR (M2) ----------------------------------
    # bucket-granular resume: the most expensive stage only recomputes url
    # buckets whose lineage never committed after a mid-stage crash
    ir_df = ctx.run_stage_bucketed(
        "02_ir",
        text_df,
        lambda df: extract.extract_ir(
            df,
            rules,
            keep_cols=["url", "warc_ts"],
            wrappers=wrappers,
            html_col="html" if wrappers else None,
        ),
        bucket_col="url",
        n_buckets=64,
    )

    # ---- stage 3: flatten + normalize + validate ----------------------
    # (document-local coreference already ran inside the extraction UDF)
    def _flat():
        mentions, raw_edges = extract.explode_ir(ir_df)
        mentions = normalize.sanitize_mentions(mentions)
        raw_edges = normalize.sanitize_edges(raw_edges)
        return mentions, raw_edges

    def build_mentions():
        mentions, raw_edges = _flat()
        mentions, _edges_unused = normalize.filter_to_ontology(
            mentions, raw_edges, onto, spark
        )
        valid, quarantine = normalize.validate_attributes(mentions, onto)
        # skip-don't-fail with a durable record (the reference logs skipped
        # records per task, extract_data_step.py:177-189): invalid rows land
        # in a quarantine table instead of vanishing
        quarantine.write.mode("overwrite").parquet(
            f"{out_dir}/_quarantine/mentions"
        )
        return valid

    def build_raw_edges():
        mentions, raw_edges = _flat()
        _m, edges_ok = normalize.filter_to_ontology(
            mentions, raw_edges, onto, spark
        )
        return edges_ok

    mentions_df = ctx.run_stage("03_mentions", build_mentions)
    raw_edges_df = ctx.run_stage("04_raw_edges", build_raw_edges)

    # ---- stage 4: entity linking (M4: J8 + J9) ------------------------
    def build_links():
        return link.link_map(link.endpoint_names(mentions_df, raw_edges_df))

    links_df = ctx.run_stage("05_links", build_links)

    # ---- stage 5: materialize (A1/A2 + J1 + S8/S9) --------------------
    def build_nodes():
        mentions_c, _ = materialize.apply_link_map(
            mentions_df, raw_edges_df, links_df
        )
        return materialize.build_nodes(mentions_c, onto.key_attrs())

    nodes_df = ctx.run_stage("06_nodes", build_nodes)

    def build_edges():
        _, edges_c = materialize.apply_link_map(
            mentions_df, raw_edges_df, links_df
        )
        return materialize.build_edges(edges_c, nodes_df)

    edges_df = ctx.run_stage("07_edges", build_edges)

    def build_triples():
        return materialize.triples_view(edges_df)

    triples_df = ctx.run_stage("08_triples", build_triples)

    # S10: the ontology rides with the graph it constrained — the engine's
    # analogue of the reference's MERGE-per-meta-node save
    # (/root/reference/graphrag_sdk/ontology.py:317-332)
    onto.save(f"{out_dir}/ontology.json")

    return {
        "ctx": ctx,
        "text": text_df,
        "ir": ir_df,
        "mentions": mentions_df,
        "raw_edges": raw_edges_df,
        "links": links_df,
        "nodes": nodes_df,
        "edges": edges_df,
        "triples": triples_df,
    }

