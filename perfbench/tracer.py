"""Spans around the program's layer boundaries, with exact Spark counts.

Used only by traced runs (``--trace 1``). `Tracer.install()` wraps, from
outside the program:

    RunContext.run_stage, RunContext.run_stage_bucketed   (pipeline stages)
    cypher_validate.validate_cypher, cypher_exec.run_cypher   (query layer)
    KnowledgeGraph.add_nodes, KnowledgeGraph.add_edges        (write layer)

Each span records name, start, end and parent, and runs under a Spark job
group of its own. A group name is never reused: the status tracker keeps
every job it has seen under its group, so a reused name would add up the
jobs of every earlier build. Counts are read after the timed work, once the
listener bus has drained, so late events cannot make two runs differ.
Spans stay in memory until `dump()`.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

IDLE_GROUP = "perfbench-untraced"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = -1      # own jobs, children excluded
    stages: int = -1    # stages that ran at least one task
    tasks: int = -1     # tasks that completed

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._restore: list[tuple] = []
        self.sc.setJobGroup(IDLE_GROUP, IDLE_GROUP)

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, parent.id if parent else None, time.perf_counter(),
                 group=f"perfbench-{sid}")
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            back = parent.group if parent else IDLE_GROUP
            self.sc.setJobGroup(back, back)

    def resolve(self) -> None:
        """Fill job/stage/task counts of finished spans (call after the
        timed work: it waits for the listener bus)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.jobs >= 0 or not s.end:
                continue
            job_ids = st.getJobIdsForGroup(s.group)
            stages = tasks = 0
            for j in job_ids:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            s.jobs, s.stages, s.tasks = len(job_ids), stages, tasks

    def subtree(self, root: Span) -> list[Span]:
        """`root` and all spans under it."""
        ids, out = {root.id}, [root]
        for s in self.spans:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def inclusive(self, root: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of a span including its children."""
        sub = self.subtree(root)
        return (sum(s.jobs for s in sub), sum(s.stages for s in sub),
                sum(s.tasks for s in sub))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # ------------------------------------------------------ patch points
    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name_of(args)):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from kgforge.kg import KnowledgeGraph
        from kgforge.plans import cypher_exec, cypher_validate
        from kgforge.plans.lineage import RunContext

        self._wrap(RunContext, "run_stage", lambda a: f"stage:{a[1]}")
        self._wrap(RunContext, "run_stage_bucketed", lambda a: f"stage:{a[1]}")
        # kg.query imports both functions at call time, so patching the
        # module attributes reaches it
        self._wrap(cypher_validate, "validate_cypher", lambda a: "cypher_validate")
        self._wrap(cypher_exec, "run_cypher", lambda a: "cypher_exec")
        self._wrap(KnowledgeGraph, "add_nodes", lambda a: "add_nodes")
        self._wrap(KnowledgeGraph, "add_edges", lambda a: "add_edges")

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)
