"""One build dataflow: `build_graph` (persisted in memory) and
`run_pipeline` (committed to disk) give the same graph, and no module
outside plans/pipeline.py strings the build's operators together."""

import re
from pathlib import Path

from kgforge.plans.pipeline import build_graph, run_pipeline
from kgforge.sources.pages import corpus_to_spark, generate_corpus, movies_ontology

KGFORGE = Path(__file__).resolve().parents[1] / "kgforge"
# the operators only plans/pipeline.py may compose (the operator modules
# define them; the driver gates exercise them one at a time)
DATAFLOW_CALLS = (
    "explode_ir",
    "filter_to_ontology",
    "validate_attributes",
    "apply_link_map",
    "build_nodes",
    "build_edges",
)


def _rows(df):
    """Sorted rows, with map columns as sorted item tuples."""
    return sorted(
        tuple(
            tuple(sorted(v.items())) if isinstance(v, dict) else v
            for v in r
        )
        for r in df.collect()
    )


def test_commit_policies_build_the_same_graph(spark, workdir):
    pages, _, _ = corpus_to_spark(spark, generate_corpus(n_pages=40, seed=7))
    mem = build_graph(spark, pages, movies_ontology())
    disk = run_pipeline(spark, pages, movies_ontology(), workdir)
    try:
        nodes = _rows(mem["nodes"].select("label", "key", "props"))
        assert nodes, "empty graph proves nothing"
        assert nodes == _rows(disk["nodes"].select("label", "key", "props"))
        for table in ("edges", "triples"):
            cols = mem[table].columns
            assert _rows(mem[table]) == _rows(disk[table].select(*cols)), table
        # the corpus has aliases: linking merged some names on both paths
        merged = "key != canon_key"
        assert mem["links"].where(merged).count() > 0
        assert _rows(mem["links"]) == _rows(disk["links"])
    finally:
        mem["unpersist"]()


def test_dataflow_is_composed_only_in_pipeline():
    call = re.compile(r"\b(" + "|".join(DATAFLOW_CALLS) + r")\(")
    offenders = []
    for path in sorted(KGFORGE.rglob("*.py")):
        rel = path.relative_to(KGFORGE).as_posix()
        if rel.startswith("operators/") or rel in (
            "driver_queries.py",
            "plans/pipeline.py",
        ):
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if call.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, offenders
