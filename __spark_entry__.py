"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction pipeline; `queries()` /
`oracle_sql()` expose operator-level pairs checked against DuckDB at sf=0.01.
The inventory lives in `kgforge/driver_queries.py` (one entry per operator
family from SURVEY.md §2 plus the engine-new corpus-curation operators).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ontology-guided KG construction (pages -> triples).

    Input is the engine's contract shape pages(url, warc_ts, html, text,
    lang): a deterministic synthetic Common-Crawl-style corpus, plus the
    driver's sf0.001 documents table wrapped as text-only pages (they flow
    through the same ontology-constrained extraction and contribute no
    spurious triples). Returns the (subj, pred, obj) triples DataFrame.
    """
    from kgforge.plans.pipeline import build_graph
    from kgforge.sources.pages import (
        corpus_to_spark,
        generate_corpus,
        movies_ontology,
    )

    corpus = generate_corpus(n_pages=30, seed=42)
    pages, _, _ = corpus_to_spark(spark, corpus)

    docs = _load(spark, SF_DEFAULT, "documents").select(
        F.concat(F.lit("doc://"), "source", F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit(dt.datetime(2024, 1, 1)).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    all_pages = pages.unionByName(docs)
    out = build_graph(spark, all_pages, movies_ontology())
    return out["triples"].orderBy("subj_label", "subj_key", "pred", "obj_key")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 + engine-new
    corpus-curation operators (dedup / similarity / text analysis)."""
    from kgforge import driver_queries

    return driver_queries.queries()


def oracle_sql() -> dict[str, str]:
    from kgforge import driver_queries

    return driver_queries.oracle_sql()
