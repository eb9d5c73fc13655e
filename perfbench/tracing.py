"""Spans around the package's layer calls, with Spark job attribution.

The tracer patches the public functions of each layer module (and every
alias another package module bound at import, e.g. ``plans.gold``'s
``merge_into_table``) with a wrapper that records a span: name, layer,
start, end and parent. Each span tags the Spark jobs it submits with a
job group of its own, so a job belongs to the innermost span that was
open when it ran. Spans stay in memory; ``op_metrics`` turns one op's
spans and jobs into the per-layer metrics.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "spaceparts_data_pipeline_spark"

#: layer name -> package modules whose public callables it owns
LAYER_MODULES = {
    "sources": ("sources.parquet", "sources.catalog"),
    "plans.bronze": ("plans.bronze",),
    "plans.silver": ("plans.silver",),
    "plans.gold": ("plans.gold",),
    "plans.logs": ("plans.logs",),
    "plans.corpus": ("plans.corpus",),
    "operators.merge": ("operators.merge",),
    "operators.maintenance": ("operators.maintenance",),
}
#: layers that own the rows and bytes their operator calls write
WRITER_LAYERS = ("plans.bronze", "plans.silver", "plans.gold", "plans.logs", "plans.corpus")
#: layers whose spans also report their whole duration as ``<name>.s``
WHOLE_SPAN_LAYERS = ("queries.query",)
#: per-call counts taken from a wrapped function's return value
COUNTERS = {"operators.merge.collect_touched_partitions": ("partitions_touched", len)}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    gid: str
    end: float = 0.0
    counts: dict = field(default_factory=dict)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records the spans of one op. ``jobs`` sets the current job group
    (``set_group``) and lists a group's job ids (``jobs_for_group``);
    ``prefix`` keeps this op's group ids apart from every other op's."""

    def __init__(self, jobs, prefix: str, clock=time.time):
        self.jobs = jobs
        self.prefix = prefix
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seq = 0

    # -- spans --------------------------------------------------------------
    def open(self, name: str, layer: str) -> int:
        self._seq += 1
        parent = self.stack[-1] if self.stack else None
        span = Span(name, layer, self.clock(), parent, f"{self.prefix}-{self._seq}")
        self.spans.append(span)
        self.stack.append(len(self.spans) - 1)
        self.jobs.set_group(span.gid)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx].end = self.clock()
        self.stack.pop()
        self.jobs.set_group(self.spans[self.stack[-1]].gid if self.stack else None)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        idx = self.open(name, layer)
        try:
            out = fn(*args, **kwargs)
        finally:
            self.close(idx)
        counter = COUNTERS.get(name)
        if counter is not None:
            key, count = counter
            self.spans[idx].counts[key] = count(out)
        return out

    # -- patching -----------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, layer, fn, *args, **kwargs)
        return wrapper

    def install(self) -> None:
        """Wrap every public function (and public method of a public
        class) defined in the layer modules, wherever it is bound."""
        import importlib

        originals: dict[int, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for short in mods:
                mod = importlib.import_module(f"{PACKAGE}.{short}")
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj):
                        wrapper = self._wrap(obj, f"{layer}.{attr}", layer)
                        originals[id(obj)] = wrapper
                        self._set(mod, attr, wrapper)
                    elif inspect.isclass(obj):
                        for m, f in list(vars(obj).items()):
                            if not m.startswith("_") and inspect.isfunction(f):
                                self._set(obj, m, self._wrap(f, f"{layer}.{attr}.{m}", layer))
        # aliases bound by ``from module import name`` in other modules
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PACKAGE) or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj)) if inspect.isfunction(obj) else None
                if wrapper is not None and wrapper.__wrapped__ is obj:
                    self._set(mod, attr, wrapper)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []


def _owner(spans: list[Span], idx: int, layers) -> int | None:
    while idx is not None:
        if spans[idx].layer in layers:
            return idx
        idx = spans[idx].parent
    return None


def op_metrics(spans: list[Span], job_spans: dict[int, int], job_info: dict[int, dict]) -> dict:
    """Per-layer metrics of one op.

    ``spans[0]`` is the op's root span; ``job_spans`` maps job id -> index
    of the span whose group ran it; ``job_info`` maps job id -> its
    ``start``/``end`` and summed stage metrics. A layer's ``self_s`` is
    its spans' durations minus what their child spans cover; its ``jobs``
    are the jobs whose innermost span it owns. Rows and bytes written go
    to the nearest enclosing writer layer (``WRITER_LAYERS``)."""
    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0) + v

    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    for i, s in enumerate(spans):
        if i == 0:
            continue
        kids = [(spans[k].start, spans[k].end) for k in children.get(i, [])]
        add(f"{s.layer}.self_s", (s.end - s.start) - union_length(kids))
        add(f"{s.layer}.calls", 1)
        if s.layer in WHOLE_SPAN_LAYERS:
            add(f"{s.name}.s", s.end - s.start)
        for key, v in s.counts.items():
            add(f"{s.layer}.{key}", v)
    root = spans[0]
    top = [(spans[k].start, spans[k].end) for k in children.get(0, [])]
    out["unattributed_s"] = (root.end - root.start) - union_length(top)
    for job, idx in job_spans.items():
        info = job_info[job]
        add(f"{spans[idx].layer}.jobs" if idx else "unattributed.jobs", 1)
        add(f"{spans[idx].layer}.own_rows_written", info["output_records"])
        add("spark.output_bytes", info["output_bytes"])
        w = _owner(spans, idx, WRITER_LAYERS)
        if w is not None:
            add(f"{spans[w].layer}.rows_written", info["output_records"])
            add(f"{spans[w].layer}.bytes_written", info["output_bytes"])
        for key in ("stages", "tasks", "executor_run_s", "input_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            add(f"spark.{key}", info[key])
    out["spark.jobs"] = len(job_spans)
    out.setdefault("spark.output_bytes", 0)
    out["spark.driver_side_s"] = (root.end - root.start) - union_length(
        [(job_info[j]["start"], job_info[j]["end"]) for j in job_spans])
    return out


class SparkJobs:
    """Job groups and job statistics of a live SparkContext, read from
    the Spark driver's status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.tracker = sc.statusTracker()

    def set_group(self, gid: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    def jobs_for_group(self, gid: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(gid))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every job event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_info(self, job_id: int) -> dict:
        store = self.jsc.statusStore()
        job = store.job(job_id)
        info = {"start": job.submissionTime().get().getTime() / 1000,
                "end": job.completionTime().get().getTime() / 1000,
                "stages": 0, "tasks": 0, "executor_run_s": 0.0, "input_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0,
                "output_records": 0, "output_bytes": 0}
        ids = job.stageIds()
        for i in range(ids.size()):
            st = store.lastStageAttempt(ids.apply(i))
            if st.status().toString() == "SKIPPED":
                continue
            info["stages"] += 1
            info["tasks"] += st.numTasks()
            info["executor_run_s"] += st.executorRunTime() / 1000
            info["input_bytes"] += st.inputBytes()
            info["shuffle_write_bytes"] += st.shuffleWriteBytes()
            info["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            info["output_records"] += st.outputRecords()
            info["output_bytes"] += st.outputBytes()
        return info

    def collect(self, spans: list[Span]) -> tuple[dict[int, int], dict[int, dict]]:
        self.drain()
        job_spans = {j: i for i, s in enumerate(spans) for j in self.jobs_for_group(s.gid)}
        return job_spans, {j: self.job_info(j) for j in job_spans}
