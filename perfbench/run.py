#!/usr/bin/env python3
"""kgforge build-and-serve benchmark.

    python3 perfbench/run.py --workload crawl_mirror --seed 1 --seconds 20 --trace 0

Run from the repository root. Each invocation starts one fresh driver with
one ``local[k]`` Spark session (k = 2 for builds, 1 for serving), drives
the public API from outside (`KnowledgeGraph.process_pages`, `query`,
`add_nodes`, `add_edges`), checks every result, and prints as its last
stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when ``--trace 0`` and the per-layer metrics
(from `tracer.py`'s spans) when ``--trace 1``. Lines before it repeat every
named metric with its unit for people. Scratch files go under
``.perfbench/`` in the repository root and are removed at exit; a traced
run leaves its spans in ``.perfbench/trace-<workload>-<seed>.json``.
Workloads, metrics and protocol are described in NOTES.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from procstat import TreeSampler, tree_pids  # noqa: E402

SETUP_REPEATS = 3
WARMUP_BLOCKS = 4  # block wall time levels off after about 4 (NOTES.md)
BLOCK_S = 4.0  # seconds one graph_serve block (4 reads, 1 write) takes here
# local[k] per workload: builds fan UDF work out over partitions; a single
# serving client issues small queries one at a time (NOTES.md, "Session")
WORKLOAD_CPUS = {"crawl_mirror": 2, "graph_serve": 1}
PR_GATE = 0.95
STAGE_LAYER = {
    "01_text": "sources.html",
    "02_ir": "operators.extract",
    "03_mentions": "operators.normalize",
    "04_raw_edges": "operators.normalize",
    "05_links": "operators.link",
    "06_nodes": "operators.materialize",
    "07_edges": "operators.materialize",
    "08_triples": "operators.materialize",
}
OTHER_LAYER = "plans.pipeline.other"
# the row count each stage's lineage records, by the metric it feeds
ROWS_OUT = {
    "01_text": "sources.html.rows_out",
    "02_ir": "operators.extract.rows_out",
    "03_mentions": "operators.normalize.rows_out",
    "04_raw_edges": "operators.normalize.rows_out",
    "05_links": "operators.link.names_in",
    "06_nodes": "operators.materialize.nodes_out",
    "07_edges": "operators.materialize.edges_out",
}

# peak_rss_mb is printed but not part of the result: the RSS sum counts the
# pages forked Python workers share once per process, and 2 of 10 builds
# read 4.3-4.8 GB against a 2.65 GB median (NOTES.md, "Steadiness")
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "cpu_s_per_kitem": "s",
    "op_p50_ms": "ms",
}
PER_LAYER = {
    "sources.html.wall_s": "s",
    "sources.html.jobs": "count",
    "sources.html.rows_out": "count",
    "operators.extract.wall_s": "s",
    "operators.extract.jobs": "count",
    "operators.extract.tasks": "count",
    "operators.extract.rows_out": "count",
    "operators.normalize.wall_s": "s",
    "operators.normalize.jobs": "count",
    "operators.normalize.rows_out": "count",
    "operators.normalize.quarantined": "count",
    "operators.link.wall_s": "s",
    "operators.link.jobs": "count",
    "operators.link.stages": "count",
    "operators.link.tasks": "count",
    "operators.link.names_in": "count",
    "operators.link.names_merged": "count",
    "operators.link.pairs_scored": "count",
    "operators.link.pair_yield": "ratio",
    "operators.materialize.wall_s": "s",
    "operators.materialize.jobs": "count",
    "operators.materialize.nodes_out": "count",
    "operators.materialize.edges_out": "count",
    "plans.pipeline.other.wall_s": "s",
    "plans.lineage.overhead_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "plans.cypher_validate.wall_ms": "ms",
    "plans.cypher_exec.plan_ms": "ms",
    "plans.cypher_exec.exec_ms": "ms",
    "plans.cypher_exec.jobs_per_query": "count",
    "kg.add_nodes.wall_ms": "ms",
    "kg.add_edges.wall_ms": "ms",
    "kg.upsert.jobs_per_batch": "count",
    "kg.upsert.bytes_rewritten_per_row": "B",
}


def pct(values: list[float], q: float) -> float:
    """q-th percentile, nearest rank."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def file_state(path: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under `path`."""
    state = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            state[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return state


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed between two states."""
    return sum(st[0] for f, st in after.items() if before.get(f) != st)


def footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files if f.endswith(".parquet")
    )


class Run:
    """State of one benchmark invocation: session, work dir, counters."""

    def __init__(self, args):
        self.args = args
        self.work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.human: list[tuple[str, float, str]] = []
        self.e2e: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.tracer = None
        self.spark = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH: {what}", file=sys.stderr)

    def start_session(self):
        from kgforge.session import get_spark

        # keep every temporary file inside the checkout: Python's, and those
        # of both JVMs spark-submit starts (the launcher and the driver)
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        cpus = min(WORKLOAD_CPUS[self.args.workload], os.cpu_count() or 1)
        self.spark = get_spark(
            app_name="perfbench",
            cpus=cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(self.work / "spark-local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from tracer import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def stop_session(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 20
        while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in tree_pids(os.getpid())[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------- crawl_mirror
def crawl_mirror(run: Run, sampler: TreeSampler, session_s: float) -> None:
    from inputs import PAGES_SCHEMA, crawl_mirror_pages
    from kgforge.cache import release_cached
    from kgforge.kg import KnowledgeGraph
    from kgforge.sources.pages import movies_ontology

    spark, args = run.spark, run.args
    onto = movies_ontology()

    setups, pages = [], None
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        rows, gold = crawl_mirror_pages(args.seed)
        df = spark.createDataFrame(rows, PAGES_SCHEMA).cache()
        n_pages = df.count()
        setups.append(time.perf_counter() - t)
        if pages is not None:
            pages.unpersist()
        pages = df
    run.setup_parts = {"session_s": session_s, "inputs_s": statistics.median(setups)}

    # exactly one timed build per run: a second build in the same JVM is
    # 20-45 % faster (NOTES.md, "Warm plateau"), so every run times the same
    # cold start, whatever --seconds says and however fast a build gets
    out_dir = str(run.work / "build")
    cpu0 = sampler.cpu_s()
    t = time.perf_counter()
    with run.span("build") as span:
        out = KnowledgeGraph(spark, onto, out_dir).process_pages(pages)
    wall = time.perf_counter() - t
    cpu = sampler.cpu_s() - cpu0

    # ---- after the clock: correctness, per-layer counts, clean-up
    got = {
        tuple(r) for r in out["triples"].select(
            "subj_label", "subj_key", "pred", "obj_label", "obj_key"
        ).collect()
    }
    precision = len(got & gold) / len(got) if got else 0.0
    recall = len(got & gold) / len(gold)
    run.check(precision >= PR_GATE and recall >= PR_GATE,
              f"precision {precision:.4f} recall {recall:.4f}")
    if run.tracer is not None:
        build_layers(run, out, out_dir, span)
    release_cached()
    shutil.rmtree(out_dir, ignore_errors=True)
    pages.unpersist()

    run.e2e = {
        "setup_s": sum(run.setup_parts.values()),
        "items_per_s": n_pages / wall,
        "cpu_s_per_kitem": cpu / n_pages * 1000,
        # the one build is the run's one operation, so this carries the same
        # number as items_per_s; the median stage time read 22 % spread
        # against 12.6 % for the build (NOTES.md, "Metrics")
        "op_p50_ms": wall * 1000,
    }
    run.human += [
        ("input_pages", n_pages, "pages"),
        ("build_s", wall, "s"),
        ("pages_per_s", n_pages / wall, "1/s"),
        ("cpu_s_per_kpage", cpu / n_pages * 1000, "s"),
        ("triple_precision", precision, "ratio"),
        ("triple_recall", recall, "ratio"),
    ]


def build_layers(run: Run, out: dict, out_dir: str, build_span) -> None:
    """Per-layer metrics of the run's traced build."""
    from pyspark.sql import functions as F

    from kgforge.cache import release_cached
    from kgforge.operators import link

    tr = run.tracer
    tr.resolve()
    L = run.layer
    lin = {
        r["stage"]: (r["rows"], r["wall_ms"])
        for r in out["ctx"].lineage()
        .filter(F.col("status") == "stage_complete").collect()
    }
    for s in tr.spans:
        if s.parent != build_span.id:
            continue
        stage = s.name.removeprefix("stage:")
        layer = STAGE_LAYER.get(stage, OTHER_LAYER)
        jobs, stages, tasks = tr.inclusive(s)
        L[f"{layer}.wall_s"] += s.wall_s
        for metric, v in (("jobs", jobs), ("stages", stages), ("tasks", tasks)):
            if f"{layer}.{metric}" in L:
                L[f"{layer}.{metric}"] += v
        rows, wall_ms = lin.get(stage, (0, 0))
        L["plans.lineage.overhead_s"] += s.wall_s - wall_ms / 1000
        if stage in ROWS_OUT:
            L[ROWS_OUT[stage]] += rows
    L["operators.normalize.quarantined"] = footer_rows(
        os.path.join(out_dir, "_quarantine", "mentions")
    )
    jobs, stages, tasks = tr.inclusive(build_span)
    L["spark.jobs"], L["spark.stages"], L["spark.tasks"] = jobs, stages, tasks

    # linking's useful-work ratio, recomputed outside every span: the link
    # map has one row per distinct surface form, so it is also the input
    # name set; scoring every candidate with a constant counts the pairs
    # the verifier saw
    links = out["links"]
    L["operators.link.names_merged"] = links.filter(
        F.col("key") != F.col("canon_key")
    ).count()
    names = links.select("label", F.col("key").alias("name"))
    scorer = link.match_score_udf
    link.match_score_udf = lambda a, b: F.lit(1.0)
    try:
        L["operators.link.pairs_scored"] = link.candidate_pairs(names).count()
    finally:
        link.match_score_udf = scorer
        release_cached()
    scored = L["operators.link.pairs_scored"]
    L["operators.link.pair_yield"] = (
        L["operators.link.names_merged"] / scored if scored else 0.0
    )


# ---------------------------------------------------------------- graph_serve
def graph_serve(run: Run, sampler: TreeSampler, session_s: float) -> None:
    from inputs import OpStream, gold_graph
    from kgforge.kg import KnowledgeGraph
    from kgforge.sources.pages import movies_ontology
    from oracle import GraphOracle

    spark, args = run.spark, run.args
    onto = movies_ontology()

    t = time.perf_counter()
    graph = gold_graph(args.seed)
    generate_s = time.perf_counter() - t
    setups, kg = [], None
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        nxt = KnowledgeGraph(spark, onto, str(run.work / f"graph{i}"))
        nxt.add_nodes(graph.node_rows)
        nxt.add_edges(graph.edge_rows)
        setups.append(time.perf_counter() - t)
        if kg is not None:
            shutil.rmtree(kg.out_dir)
        kg = nxt
    oracle = GraphOracle()
    oracle.add_nodes(graph.node_rows)
    oracle.add_edges(graph.edge_rows)
    stream = OpStream(args.seed, graph)

    def do(op) -> float:
        """Run one op, check it, return its latency in seconds."""
        if run.tracer is not None and op.cypher is None:
            path = kg.nodes_path if op.kind == "nodes" else kg.edges_path
            before = file_state(path)
        t = time.perf_counter()
        try:
            with run.span(f"op:{op.kind}") as span:
                if op.cypher is not None:
                    df = kg.query(op.cypher)
                    with run.span("collect"):
                        got = [tuple(r) for r in df.collect()]
                elif op.kind == "nodes":
                    kg.add_nodes(op.rows)
                else:
                    kg.add_edges(op.rows)
        except Exception:
            traceback.print_exc()
            run.check(False, f"{op.kind} raised")
            return time.perf_counter() - t
        lat = time.perf_counter() - t
        if op.cypher is not None:
            want = oracle.answer(op)
            if op.kind != "topk":
                got = sorted(got)
            run.check(got == want, f"{op.cypher!r}: got {got[:3]} want {want[:3]}")
        else:
            oracle.apply(op)
            if run.tracer is not None:
                write_bytes.append(
                    (bytes_written(before, file_state(path)), len(op.rows))
                )
        op_spans.append((span if run.tracer else None, op.kind))
        return lat

    write_bytes: list[tuple[int, int]] = []
    op_spans: list = []
    t = time.perf_counter()
    for b in range(WARMUP_BLOCKS):
        for op in stream.block(b, tag="w"):
            do(op)
    run.setup_parts = {
        "session_s": session_s,
        "generate_s": generate_s,
        "load_s": statistics.median(setups),
        "warmup_s": time.perf_counter() - t,
    }
    write_bytes.clear()
    op_spans.clear()

    # A fixed amount of work, sized from --seconds: whole cycles of two
    # blocks at about BLOCK_S each. Timing until a deadline instead lets a
    # faster run get further up the JIT warm-up ramp and so read faster
    # still; fixed work keeps every run at the same place on the ramp.
    blocks = 2 * max(1, round(args.seconds / (2 * BLOCK_S)))
    reads, writes = [], []
    cpu0 = sampler.cpu_s()
    t_start = time.perf_counter()
    for b in range(blocks):
        for op in stream.block(b):
            (reads if op.cypher else writes).append(do(op))
    elapsed = time.perf_counter() - t_start
    cpu = sampler.cpu_s() - cpu0
    n_ops = len(reads) + len(writes)

    # ---- after the clock: whole-table comparison with the oracle
    got_nodes = {
        (r["label"], r["key"], tuple(sorted(r["props"].items())))
        for r in kg.nodes().collect()
    }
    got_edges = {
        (r["label"], r["src_label"], r["src_key"], r["dst_label"],
         r["dst_key"], tuple(sorted(r["props"].items())))
        for r in kg.edges().collect()
    }
    run.check(got_nodes == oracle.node_table(), "final node table")
    run.check(got_edges == oracle.edge_table(), "final edge table")

    lats = reads + writes
    run.e2e = {
        "setup_s": sum(run.setup_parts.values()),
        "items_per_s": n_ops / elapsed,
        "cpu_s_per_kitem": cpu / n_ops * 1000,
        "op_p50_ms": statistics.median(lats) * 1000,
    }
    run.human += [
        ("ops", n_ops, "count"),
        ("blocks", blocks, "count"),
        ("graph_nodes", len(oracle.nodes), "count"),
        ("graph_edges", len(oracle.edges), "count"),
        ("ops_per_s", n_ops / elapsed, "1/s"),
        ("read_p50_ms", statistics.median(reads) * 1000, "ms"),
        ("read_p90_ms", pct(reads, 90) * 1000, "ms"),
        ("reads", len(reads), "count"),
        ("write_p50_ms", statistics.median(writes) * 1000, "ms"),
        ("write_p90_ms", pct(writes, 90) * 1000, "ms"),
        ("writes", len(writes), "count"),
        ("cpu_s_per_kop", cpu / n_ops * 1000, "s"),
        ("answer_accuracy", 1 - run.failed / run.attempted, "ratio"),
    ]
    if run.tracer is not None:
        serve_layers(run, op_spans, write_bytes)
    shutil.rmtree(kg.out_dir, ignore_errors=True)


def serve_layers(run: Run, op_spans: list, write_bytes: list) -> None:
    """Per-layer metrics of the timed loop. Times are medians over every
    op; counts cover the first whole cycle only, which every run completes,
    so two runs with the same seed count the same ops."""
    from inputs import CYCLE

    tr = run.tracer
    tr.resolve()
    L = run.layer
    by_name: dict[str, list[float]] = {}
    for span, _ in op_spans:
        for s in tr.subtree(span)[1:]:
            if s.parent == span.id:
                by_name.setdefault(s.name, []).append(s.wall_s * 1000)
    med = lambda k: statistics.median(by_name.get(k, [0.0]))  # noqa: E731
    L["plans.cypher_validate.wall_ms"] = med("cypher_validate")
    L["plans.cypher_exec.plan_ms"] = med("cypher_exec")
    L["plans.cypher_exec.exec_ms"] = med("collect")
    L["kg.add_nodes.wall_ms"] = med("add_nodes")
    L["kg.add_edges.wall_ms"] = med("add_edges")

    counts = {kind: [] for kind in ("read", "write")}
    for span, kind in op_spans[:len(CYCLE)]:
        counts["write" if kind in ("nodes", "edges") else "read"].append(
            tr.inclusive(span)
        )
    every = counts["read"] + counts["write"]
    L["plans.cypher_exec.jobs_per_query"] = statistics.mean(c[0] for c in counts["read"])
    L["kg.upsert.jobs_per_batch"] = statistics.mean(c[0] for c in counts["write"])
    L["spark.jobs"] = statistics.mean(c[0] for c in every)
    L["spark.stages"] = statistics.mean(c[1] for c in every)
    L["spark.tasks"] = statistics.mean(c[2] for c in every)
    first = write_bytes[:CYCLE.count("nodes") + CYCLE.count("edges")]
    L["kg.upsert.bytes_rewritten_per_row"] = (
        sum(b for b, _ in first) / sum(n for _, n in first)
    )


WORKLOADS = {"crawl_mirror": crawl_mirror, "graph_serve": graph_serve}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program is imported from the checkout, by this driver and by the
    # Python workers Spark starts
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("kgforge") is None:
        print(f"kgforge package not found under {ROOT}", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )

    run = Run(args)
    sampler = TreeSampler().start()
    try:
        t = time.perf_counter()
        run.start_session()
        session_s = time.perf_counter() - t
        WORKLOADS[args.workload](run, sampler, session_s)
    finally:
        try:
            if run.tracer is not None:
                run.tracer.uninstall()
                run.tracer.dump(str(ROOT / ".perfbench"
                                    / f"trace-{args.workload}-{args.seed}.json"))
            run.stop_session()
        finally:
            sampler.stop()
            shutil.rmtree(run.work, ignore_errors=True)
    run.human += [(k, v, "s") for k, v in run.setup_parts.items()]
    run.human += [
        ("setup_s", run.e2e["setup_s"], "s"),
        ("peak_rss_mb", sampler.peak_bytes / 2**20, "MB"),
        ("error_rate", run.failed / run.attempted, "ratio"),
    ]
    for name, value, unit in run.human:
        print(f"{args.workload:>12}  {name:<24} {value:>14.6g} {unit}")

    if args.trace:
        metrics = {k: {"value": run.layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
