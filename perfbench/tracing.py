"""Spans at layer boundaries, and Spark accounting read from outside.

The benchmark never edits the program.  A traced run wraps the public
functions of each layer (module attributes the program itself looks up
at call time) with span recorders; an untraced run wraps nothing.
Spark's own counters come from the status tracker (per job group), the
JVM's garbage-collector beans and the block manager's RDD storage
report, all read after a request has finished.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span log.  A span is ``[request, id, parent, name,
    start, end, jobs_at_start, jobs_at_end]``; spans of one request share
    ``request``.  ``job_counter`` (set by the runner) returns the number
    of Spark jobs of the current request so far; it is read at the
    boundaries of ``path.*`` spans only."""

    def __init__(self):
        self.enabled = False
        self.request: int | None = None
        self.spans: list[list] = []
        self.job_counter = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        count = self.job_counter if name.startswith("path.") else None
        rec = [self.request, len(self.spans), self._stack[-1] if self._stack else None,
               name, time.perf_counter(), None, count() if count else None, None]
        self.spans.append(rec)
        self._stack.append(rec[1])
        try:
            yield
        finally:
            self._stack.pop()
            rec[5] = time.perf_counter()
            if count:
                rec[7] = count()

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def install_layer_spans(self) -> None:
        """Wrap the calls into each layer the workloads reach."""
        from terminus_server_spark.docs import graphql
        from terminus_server_spark.model import triples
        from terminus_server_spark.operators import path
        from terminus_server_spark.versioning import layers
        from terminus_server_spark.woql import compiler

        self.wrap(compiler.WOQLContext, "run", "woql.run")
        self.wrap(compiler.WOQLContext, "run_update", "woql.run_update")
        self.wrap(graphql, "execute_graphql", "gql.execute")
        self.wrap(graphql, "parse_graphql", "gql.parse")
        for fn in ("compile_path", "anchored_closure", "transitive_closure"):
            self.wrap(path, fn, f"path.{fn}")
        # the path module binds the checkpoint helpers at import time,
        # so its own names are the ones to wrap
        for fn in ("loop_checkpoint", "loop_checkpoint_count"):
            self.wrap(path, fn, f"checkpoint.{fn}")
        for fn in ("materialize", "diff"):
            self.wrap(layers, fn, f"layers.{fn}")
        self.wrap(triples, "tpch_store", "triples.tpch_store")
        self.wrap(triples.TripleStore, "spo", "triples.spo")

    # -- reading the log ----------------------------------------------------

    def by_request(self) -> dict[int, list[list]]:
        out: dict[int, list[list]] = {}
        for s in self.spans:
            out.setdefault(s[0], []).append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Per-layer self time in seconds, summed over all spans: a span's
        duration minus what its direct children cover."""
        child = {}
        for s in self.spans:
            if s[2] is not None:
                child[s[2]] = child.get(s[2], 0.0) + (s[5] - s[4])
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s[3].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s[5] - s[4]) - child.get(s[1], 0.0)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "request": s[0], "id": s[1], "parent": s[2], "name": s[3],
                    "start_s": s[4], "end_s": s[5],
                }) + "\n")


class SparkProbe:
    """Per-request Spark accounting read through public status APIs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())

    def settle(self) -> None:
        """Let the listener bus deliver every event of finished jobs, so
        the status tracker is complete before it is read."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    def job_count(self, group: str) -> int:
        return len(self.tracker.getJobIdsForGroup(group))

    def jobs(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) of a job group."""
        job_ids = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(sid)
                if stage and stage.numCompletedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return len(job_ids), stages, tasks

    def persisted(self) -> tuple[int, float]:
        """(persisted RDDs held, their memory + disk in MB)."""
        held = self.sc._jsc.getPersistentRDDs().size()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        return held, size / 2**20


def plan_ops(qe) -> int:
    """Operators in the optimized logical plan (one tree line each)."""
    return len(qe.optimizedPlan().treeString().splitlines())


def scan_rows(qe) -> int:
    """Rows produced by file scans of an executed query, from its SQL
    metrics; a reused exchange is counted once."""
    total = 0
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchangeExec":
            continue
        if name == "FileSourceScanExec":
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += metric.get().value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def mean(values, default=0.0) -> float:
    values = list(values)
    return statistics.fmean(values) if values else default
