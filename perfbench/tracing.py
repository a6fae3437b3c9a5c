"""Traced mode: per-layer spans and Spark counters, taken from outside.

The tracer wraps the program's public functions at the names their
callers look them up by, records one span per call (name, start, end,
the operation it belongs to), and reads Spark's own status store and
``queryExecution`` plans for the jobs started inside the spans.  Spans
stay in memory and become per-layer metrics when the run ends.  Nothing
inside the program changes; the wrappers are removed on ``close``.
"""

from __future__ import annotations

import collections
import re
import statistics
import time

# every per-layer metric, with its unit; a layer the workload never
# calls reports 0
LAYER_METRICS = {
    "pipeline.plan_build_ms": "ms",
    "pipeline.batch_ms": "ms",
    "pipeline.other_ms": "ms",
    "spark.jobs_per_batch": "count",
    "write_job.wall_ms": "ms",
    "write_job.tasks": "count",
    "write_job.executor_run_ms": "ms",
    "write_job.executor_cpu_ms": "ms",
    "write_job.shuffle_write_bytes": "B",
    "write_job.output_bytes": "B",
    "write_job.task_skew": "ratio",
    "write.routed_bytes_per_row": "B/row",
    "plan.ingest.exchanges": "count",
    "plan.ingest.python_exec": "count",
    "plan.ingest.broadcast_joins": "count",
    "commit.file_stats_ms": "ms",
    "commit.files_written": "count",
    "commit.manifest_write_ms": "ms",
    "dlq.cap_ms": "ms",
    "metrics.emit_ms": "ms",
    "checkpoint.save_ms": "ms",
    "checkpoint.load_ms": "ms",
    "checkpoint.bytes": "B",
    "scan.plan_ms": "ms",
    "scan.job_ms": "ms",
    "scan.files_read": "count",
    "scan.files_total": "count",
    "follower.poll_ms": "ms",
    "follower.consume_ms": "ms",
    "follower.commit_ms": "ms",
    "catalog.python_exec": "count",
    "memory.peak_rss_mb": "MB",
}

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")
_LAMBDA = re.compile(r"\b(?:aggregate|zip_with|transform)\(")


def plan_counts(plan: str) -> dict[str, int]:
    """Node counts of a physical plan string.  An adaptive plan that has
    run prints its final plan first and the initial one after it; only
    the final one is counted."""
    plan = plan.split("== Initial Plan ==")[0]
    nodes = collections.Counter()
    for line in plan.splitlines():
        m = _NODE.match(line)
        if m:
            nodes[m.group(1)] += 1
    python = sum(n for k, n in nodes.items()
                 if k.endswith("Python") or "InPandas" in k or "InArrow" in k)
    return {
        "exchanges": nodes["Exchange"],
        "generates": nodes["Generate"],
        "broadcast_joins": nodes["BroadcastHashJoin"],
        "python_exec": python,
        "lambdas": len(_LAMBDA.findall(plan)),
    }


class Tracer:
    """Spans keyed by name and operation index; ``op`` is set by the
    workload before each measured operation (None outside them)."""

    def __init__(self, spark):
        self.spark = spark
        self.op: int | None = None
        self.spans: dict[str, dict[int, float]] = collections.defaultdict(
            lambda: collections.defaultdict(float))
        self.counts: dict[str, dict[int, float]] = collections.defaultdict(
            lambda: collections.defaultdict(float))
        self.jobs: dict[str, dict[int, list[int]]] = collections.defaultdict(
            lambda: collections.defaultdict(list))
        self.plans: dict[str, dict[str, int]] = {}
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------
    def add(self, name: str, ms: float) -> None:
        if self.op is not None:
            self.spans[name][self.op] += ms

    def count(self, name: str, n: float) -> None:
        if self.op is not None:
            self.counts[name][self.op] += n

    def _job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(None))

    def wrap(self, module, attr: str, span: str, jobs: bool = False,
             on_call=None) -> None:
        """Replace ``module.attr`` with a timing wrapper."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            before = self._job_ids() if jobs and self.op is not None else None
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(span, (time.perf_counter() - t0) * 1e3)
                if before is not None:
                    self.jobs[span][self.op] += sorted(self._job_ids() - before)

        setattr(module, attr, traced)
        self._undo.append((module, attr, fn))

    def close(self) -> None:
        for module, attr, fn in reversed(self._undo):
            setattr(module, attr, fn)
        self._undo.clear()

    # -- the ingest layers ---------------------------------------------
    def install_ingest(self) -> None:
        from logfowd2_spark.streaming import commit, dlq, pipeline  # noqa: PLC0415

        def ingest_plan(df, *args, **kwargs):
            if self.op is not None:
                self.plans["ingest"] = plan_counts(
                    df._jdf.queryExecution().executedPlan().toString())

        def files_written(root, files, *args, **kwargs):
            self.count("commit.files_written", len(files))

        self.wrap(pipeline, "run_batch", "pipeline.batch", jobs=True)
        self.wrap(pipeline, "transform_batch_unified", "pipeline.transform")
        self.wrap(pipeline, "repartition_for_write", "pipeline.repartition")
        self.wrap(pipeline, "write_routed", "write_job", jobs=True,
                  on_call=ingest_plan)
        self.wrap(pipeline, "emit_metrics", "metrics.emit")
        self.wrap(pipeline, "save_manifest", "checkpoint.save")
        self.wrap(pipeline, "load_manifest", "checkpoint.load")
        self.wrap(commit, "collect_file_stats", "commit.file_stats",
                  on_call=files_written)
        self.wrap(commit, "write_file_manifest", "commit.manifest_write")
        self.wrap(dlq, "enforce_dlq_cap", "dlq.cap")

    # -- reading it out ------------------------------------------------
    def series(self) -> dict[str, dict[int, float]]:
        """Each span's and count's total per operation, kept in the run's
        record so a layer's cost can be followed across batches."""
        return {k: dict(v) for k, v in {**self.spans, **self.counts}.items()}

    def _stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Task and I/O totals of the stages that ran for ``job_ids``,
        from Spark's status store; skew is the slowest task over the
        median task of the stage that wrote output."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tot = collections.Counter()
        skew, widest = 1.0, -1
        for j in job_ids:
            stage_ids = store.job(j).stageIds()
            for k in range(stage_ids.size()):
                sd = store.lastStageAttempt(stage_ids.apply(k))
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                tot["tasks"] += sd.numTasks()
                tot["executor_run_ms"] += sd.executorRunTime()
                tot["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["output_bytes"] += sd.outputBytes()
                if sd.outputBytes() > 0 and sd.numTasks() > widest:
                    widest = sd.numTasks()
                    tl = store.taskList(sd.stageId(), sd.attemptId(), 100_000)
                    d = [tl.apply(i).duration().get() for i in range(tl.size())
                         if tl.apply(i).duration().isDefined()]
                    if d and statistics.median(d) > 0:
                        skew = max(d) / statistics.median(d)
        tot["task_skew"] = skew
        return tot

    def per_op(self, name: str, ops: list[int]) -> float:
        """Median over the measured operations of a span's total."""
        src = self.spans.get(name) or self.counts.get(name) or {}
        return statistics.median(src.get(o, 0.0) for o in ops) if ops else 0.0

    def ingest_metrics(self, op_ms: dict[int, float]) -> dict:
        """The ingest layers' metrics over the timed operations
        (``op_ms``: operation index -> wall ms)."""
        ops = list(op_ms)
        m = {
            "pipeline.plan_build_ms": statistics.median(
                self.spans["pipeline.transform"].get(o, 0.0)
                + self.spans["pipeline.repartition"].get(o, 0.0) for o in ops),
            "pipeline.batch_ms": self.per_op("pipeline.batch", ops),
            "pipeline.other_ms": statistics.median(
                op_ms[o] - self.spans["pipeline.batch"].get(o, 0.0)
                for o in ops),
            "spark.jobs_per_batch": statistics.median(
                len(self.jobs["pipeline.batch"].get(o, [])) for o in ops),
            "write_job.wall_ms": self.per_op("write_job", ops),
            "commit.file_stats_ms": self.per_op("commit.file_stats", ops),
            "commit.files_written": self.per_op("commit.files_written", ops),
            "commit.manifest_write_ms": self.per_op("commit.manifest_write", ops),
            "dlq.cap_ms": self.per_op("dlq.cap", ops),
            "metrics.emit_ms": self.per_op("metrics.emit", ops),
            "checkpoint.save_ms": self.per_op("checkpoint.save", ops),
            "checkpoint.load_ms": self.per_op("checkpoint.load", ops),
        }
        per_job = [self._stage_totals(self.jobs["write_job"].get(o, []))
                   for o in ops]
        for k in ("tasks", "executor_run_ms", "executor_cpu_ms",
                  "shuffle_write_bytes", "output_bytes", "task_skew"):
            m[f"write_job.{k}"] = statistics.median(t[k] for t in per_job)
        plan = self.plans.get("ingest", {})
        for k in ("exchanges", "python_exec", "broadcast_joins"):
            m[f"plan.ingest.{k}"] = plan.get(k, 0)
        return m


def layer_metrics(values: dict[str, float],
                  queries: list[str]) -> dict[str, dict]:
    """The full per-layer metric set in the output form, zero for every
    layer the workload did not reach."""
    units = dict(LAYER_METRICS)
    for q in queries:
        units[f"catalog.{q}.wall_s"] = "s"
        for k in ("exchanges", "generates", "lambdas"):
            units[f"catalog.{q}.{k}"] = "count"
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()}
