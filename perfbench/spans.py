"""Spans recorded from the benchmark's side of each module boundary.

Every span runs its calls under a Spark job group of its own and restores
the caller's group on exit, so a job belongs to the innermost span that
launched it. Right after a span ends, the stages of its group's jobs are
read from the status store (before retention can evict them) and kept on
the span. Spans stay in memory until the benchmark writes them out.
"""

from __future__ import annotations

import functools
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

# stage fields kept per completed stage: our name -> v1.StageData getter
STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "output_bytes": "outputBytes",
    "output_rows": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "peak_exec_mem": "peakExecutionMemory",
}


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: list[dict] = field(default_factory=list)
    # max / median task run time of this span's longest stage
    task_skew: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "layer": self.layer,
            "name": self.name, "start": self.start, "end": self.end,
            "jobs": self.jobs, "stages": self.stages, "task_skew": self.task_skew,
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Records spans for one Spark session."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._prefix = f"perfbench-{uuid.uuid4().hex}"
        self._stack: list[int] = []
        self.spans: list[Span] = []
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextmanager
    def span(self, layer: str, name: str):
        sp = Span(len(self.spans), self._stack[-1] if self._stack else None,
                  layer, name, 0.0)
        self.spans.append(sp)
        group = f"{self._prefix}-{sp.id}"
        saved = [self.sc.getLocalProperty(k) for k in GROUP_PROPS]
        self.sc.setJobGroup(group, f"{layer}:{name}")
        self._stack.append(sp.id)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            for k, v in zip(GROUP_PROPS, saved):
                self.sc.setLocalProperty(k, v)
            self._rollup(sp, group)

    def wrap(self, layer: str, fn, name: str | None = None):
        label = name or fn.__name__

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, label):
                return fn(*args, **kwargs)

        return traced

    def _rollup(self, sp: Span, group: str) -> None:
        # the status store is fed by the listener bus; drain it so the
        # group's jobs and stages are complete before reading them
        self._bus.waitUntilEmpty()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        sp.jobs = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        longest = None
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            row = {"stage": sid, "attempt": sd.attemptId()}
            for key, getter in STAGE_FIELDS.items():
                row[key] = getattr(sd, getter)()
            sp.stages.append(row)
            if longest is None or row["run_ms"] > longest["run_ms"]:
                longest = row
        if longest is not None:
            dist = self._store.taskSummary(
                longest["stage"], longest["attempt"], self._quantiles
            )
            if dist.isDefined():
                q = dist.get().executorRunTime()
                med, top = q.apply(0), q.apply(1)
                sp.task_skew = top / med if med > 0 else 1.0


def _top_level(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` with no ancestor of the same layer."""
    by_id = {s.id: s for s in spans}

    def nested(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].layer == layer:
                return True
            p = by_id[p].parent
        return False

    return [s for s in spans if s.layer == layer and not nested(s)]


def _sum(stages: list[dict], key: str) -> float:
    return float(sum(st[key] for st in stages))


def layer_metrics(
    spans: list[Span],
    input_rows: int,
    input_bytes: int,
    rows_loaded: int | None,
    plan_s: float,
    plan_nodes: int,
) -> dict[str, float]:
    """Per-layer metrics of ONE traced pipeline run.

    ``<layer>.wall_s`` is the time callers waited on the layer (its
    outermost spans); ``self_s`` excludes nested spans of other layers.
    Job, stage and byte counts are those of the jobs the layer's own code
    launched. Scan bytes are attributed to ``sources`` wherever the scan
    ran, except reads inside the merge sink, which are the target read back.
    """
    own = self_times(spans)

    def wall(layer: str) -> float:
        return sum(s.duration for s in _top_level(spans, layer))

    def self_s(layer: str) -> float:
        return sum(own[s.id] for s in spans if s.layer == layer)

    def stages(*layers: str) -> list[dict]:
        return [st for s in spans if s.layer in layers for st in s.stages]

    def jobs(layer: str) -> float:
        return float(sum(s.jobs for s in spans if s.layer == layer))

    all_st = stages(*{s.layer for s in spans})
    merge_st = stages("streaming")
    scan_bytes = _sum(all_st, "input_bytes") - _sum(merge_st, "input_bytes")
    scan_rows = _sum(all_st, "input_rows") - _sum(merge_st, "input_rows")
    op_st, fn_st, ld_st = stages("operators"), stages("functions"), stages("loaders")
    longest = max(spans, key=lambda s: max((st["run_ms"] for st in s.stages), default=-1))

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    return {
        "pipeline.compile_s": sum(own[s.id] for s in spans if s.name == "compile"),
        "pipeline.plan_s": plan_s,
        "pipeline.plan_nodes": float(plan_nodes),
        "pipeline.self_s": self_s("pipeline"),
        "exprs.render_s": wall("exprs"),
        "sources.wall_s": wall("sources"),
        "sources.jobs": jobs("sources"),
        "sources.input_bytes": scan_bytes,
        "sources.input_rows": scan_rows,
        "sources.scan_amplification": ratio(scan_bytes, input_bytes),
        "operators.wall_s": wall("operators"),
        "operators.self_s": self_s("operators"),
        "operators.jobs": jobs("operators"),
        "operators.stages": float(len(op_st)),
        "operators.executor_run_s": _sum(op_st, "run_ms") / 1e3,
        "operators.shuffle_write_bytes": _sum(op_st, "shuffle_write_bytes"),
        "operators.rows_kept_frac": ratio(rows_loaded or 0, input_rows),
        "functions.wall_s": wall("functions"),
        "functions.self_s": self_s("functions"),
        "functions.jobs": jobs("functions"),
        "functions.executor_run_s": _sum(fn_st, "run_ms") / 1e3,
        "functions.shuffle_write_bytes": _sum(fn_st, "shuffle_write_bytes"),
        "functions.spill_bytes": _sum(fn_st, "spill_bytes"),
        "loaders.wall_s": wall("loaders"),
        "loaders.self_s": self_s("loaders"),
        "loaders.jobs": jobs("loaders"),
        "loaders.stages": float(len(ld_st)),
        "loaders.tasks": _sum(ld_st, "tasks"),
        "loaders.executor_run_s": _sum(ld_st, "run_ms") / 1e3,
        "loaders.executor_cpu_s": _sum(ld_st, "cpu_ns") / 1e9,
        "loaders.shuffle_write_bytes": _sum(ld_st, "shuffle_write_bytes"),
        "loaders.shuffle_read_bytes": _sum(ld_st, "shuffle_read_bytes"),
        "loaders.spill_bytes": _sum(ld_st, "spill_bytes"),
        "loaders.output_bytes": _sum(ld_st, "output_bytes"),
        "loaders.output_rows": _sum(ld_st, "output_rows"),
        "loaders.write_amplification": ratio(_sum(ld_st, "output_bytes"), input_bytes),
        "streaming.merge_wall_s": wall("streaming"),
        "streaming.merge_jobs": jobs("streaming"),
        "streaming.merge_read_bytes": _sum(merge_st, "input_bytes"),
        "streaming.merge_rewrite_ratio": ratio(_sum(merge_st, "output_bytes"), input_bytes),
        "session.jobs": float(sum(s.jobs for s in spans)),
        "session.tasks": _sum(all_st, "tasks"),
        "session.failed_tasks": _sum(all_st, "failed_tasks"),
        "session.executor_run_s": _sum(all_st, "run_ms") / 1e3,
        "session.gc_s": _sum(all_st, "gc_ms") / 1e3,
        "session.peak_execution_memory_bytes": float(
            max((st["peak_exec_mem"] for st in all_st), default=0)
        ),
        "session.task_skew": longest.task_skew if all_st else 0.0,
    }
