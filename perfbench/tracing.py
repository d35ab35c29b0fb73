"""Layer tracing for the benchmark, kept entirely outside the package.

Spans are recorded around calls into each layer's public functions by
rebinding those names from here (``install``); the package itself is not
edited. Every span also becomes the Spark job group of the jobs it starts,
so the event log attributes jobs, stages, tasks, CPU and shuffle bytes to
the span (and so to the op and the layer) that launched them.

Layers are named by module: ``plans`` (``QuerySpec.fn`` and the catalog's
``_t`` table read), ``spark`` (the action), ``sources``
(``files.read_source``), ``operators`` (``transform_chain`` and the quality
engine), ``sinks`` (``tables.write_partitioned`` /
``tables.write_warehouse_table``) and ``runner`` (``PipelineRunner.run``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

# attribute -> span name. A module without the attribute is skipped, so
# only the bindings each module actually imports are rebound.
RUNNER_STAGES = {
    "read_source": "sources.read",
    "transform_chain": "operators.transform",
    "enforce_quality_checks": "operators.quality",
    "write_partitioned": "sinks.write",
    "write_warehouse_table": "sinks.write",
}
PLAN_HELPERS = {
    "_t": "plans.read",
    "transform_chain": "operators.transform",
    "quality_check_df": "operators.quality",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index of the parent span, -1 at an op's root
    op: int


@dataclass
class Tracer:
    """In-memory span recorder. ``op`` is the id of the op being timed
    (-1 outside the timed window, where spans are not kept)."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    _stack: list[int] = field(default_factory=list)

    def _set_group(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", value)

    def call(self, name: str, fn, *args, **kwargs):
        if self.op < 0:
            return fn(*args, **kwargs)
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        span = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(span)
        self._stack.append(idx)
        self._set_group(f"bench:{idx}")
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(f"bench:{self._stack[-1]}" if self._stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced


def install(tracer: Tracer) -> None:
    """Rebind the layer entry points to traced wrappers."""
    import sys

    from universal_aws_data_pipeline_spark import runner
    from universal_aws_data_pipeline_spark.plans.catalog import QUERIES

    for spec in QUERIES.values():
        spec.fn = tracer.wrap("plans.build", spec.fn)
    for mod_name, mod in list(sys.modules.items()):
        if mod is not None and mod_name.startswith("universal_aws_data_pipeline_spark.plans"):
            for attr, span in PLAN_HELPERS.items():
                if hasattr(mod, attr):
                    setattr(mod, attr, tracer.wrap(span, getattr(mod, attr)))
    for attr, span in RUNNER_STAGES.items():
        setattr(runner, attr, tracer.wrap(span, getattr(runner, attr)))
    runner.PipelineRunner.run = tracer.wrap("runner.run", runner.PipelineRunner.run)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s QueryExecution,
    from its QueryPlanningTracker. Analysis ran when the DataFrame was
    built; forcing ``executedPlan`` runs the other two phases on this
    QueryExecution. The write planned its own copy, so this is an estimate
    of the write's phases; the caller runs it outside the op's span."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span index -> its duration minus the time its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s.parent >= 0:
            child[s.parent] += s.end - s.start
    return {i: (s.end - s.start) - child[i] for i, s in enumerate(spans)}


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


# -- event log ---------------------------------------------------------------


@dataclass
class JobStats:
    group: str | None
    start_ms: int
    end_ms: int = 0
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job counters from an uncompressed Spark event log directory."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")) + glob.glob(os.path.join(log_dir, "*.inprogress")))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = JobStats(ev.get("Properties", {}).get("spark.jobGroup.id"), ev["Submission Time"])
                    jobs[ev["Job ID"]] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    job = jobs[stage_job[ev["Stage ID"]]]
                    tm = ev.get("Task Metrics") or {}
                    job.stages.add(ev["Stage ID"])
                    job.tasks += 1
                    job.run_ms += tm.get("Executor Run Time", 0)
                    job.cpu_ns += tm.get("Executor CPU Time", 0)
                    job.shuffle_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def layer_metrics(spans: list[Span], jobs: list[JobStats], n_ops: int, cores: int) -> dict[str, float]:
    """Per-op layer metrics from the window's spans and the event log."""
    span_jobs: dict[int, list[JobStats]] = defaultdict(list)
    for job in jobs:
        if job.group and job.group.startswith("bench:"):
            span_jobs[int(job.group.split(":", 1)[1])].append(job)
    selft = self_times(spans)
    ms: dict[str, float] = defaultdict(float)  # span name -> ms outside same-layer parents
    for i, s in enumerate(spans):
        layer = layer_of(s.name)
        if s.parent < 0 or layer_of(spans[s.parent].name) != layer:
            ms[s.name] += (s.end - s.start) * 1000.0
        if s.name == "runner.run":
            ms["runner.self"] += selft[i] * 1000.0

    def jobs_under(prefix: str) -> int:
        """Jobs launched anywhere below a span whose name starts with prefix."""
        total = 0
        for i, s in enumerate(spans):
            j, hit = i, False
            while j >= 0:
                if spans[j].name.startswith(prefix):
                    hit = True
                    break
                j = spans[j].parent
            total += len(span_jobs[i]) if hit else 0
        return total

    win = [j for i in span_jobs for j in span_jobs[i]]
    exec_ms = sum(
        _union_ms([(j.start_ms, j.end_ms) for i in idxs for j in span_jobs[i]])
        for idxs in _by_op(spans).values()
    )
    run_ms = sum(j.run_ms for j in win)
    per = max(n_ops, 1)
    return {
        "plans.build_ms_per_op": ms["plans.build"] / per,
        "plans.build_jobs_per_op": jobs_under("plans.") / per,
        "spark.exec_ms_per_op": exec_ms / per,
        "spark.core_busy_frac": run_ms / (cores * exec_ms) if exec_ms else 0.0,
        "spark.jobs_per_op": len(win) / per,
        "spark.stages_per_op": sum(len(j.stages) for j in win) / per,
        "spark.tasks_per_op": sum(j.tasks for j in win) / per,
        "spark.task_cpu_ms_per_op": sum(j.cpu_ns for j in win) / 1e6 / per,
        "spark.shuffle_bytes_per_op": sum(j.shuffle_bytes for j in win) / per,
        "spark.spill_bytes_per_op": sum(j.spill_bytes for j in win) / per,
        "sources.read_ms_per_op": ms["sources.read"] / per,
        "sources.read_jobs_per_op": jobs_under("sources.") / per,
        "operators.transform_ms_per_op": ms["operators.transform"] / per,
        "operators.quality_ms_per_op": ms["operators.quality"] / per,
        "sinks.write_ms_per_op": ms["sinks.write"] / per,
        "runner.self_ms_per_op": ms["runner.self"] / per,
    }


def _by_op(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        out[s.op].append(i)
    return out


def layer_table(spans: list[Span], n_ops: int) -> list[tuple[str, float]]:
    """(layer, self ms per op) rows plus ``unattributed``: op wall time not
    covered by any layer span (harness bookkeeping between calls)."""
    selft = self_times(spans)
    by_layer: dict[str, float] = defaultdict(float)
    top = 0.0
    for i, s in enumerate(spans):
        if s.name == "op":
            top += selft[i]
            continue
        by_layer[layer_of(s.name)] += selft[i]
    per = max(n_ops, 1)
    rows = sorted(((k, v * 1000.0 / per) for k, v in by_layer.items()), key=lambda kv: -kv[1])
    rows.append(("unattributed", top * 1000.0 / per))
    return rows


def dump_spans(spans: list[Span], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for s in spans:
            fh.write(json.dumps({"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}) + "\n")


def load_spans(path: str) -> list[Span]:
    with open(path, encoding="utf-8") as fh:
        return [Span(**json.loads(line)) for line in fh]
