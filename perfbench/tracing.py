"""Outside-in tracing: spans around the benchmark's calls into the engine.

A span is opened by the benchmark around one call into a public function
of the engine (``REGISTRY[name].fn``, ``lakehouse.merge_table``, ...) or
around the materialization of a returned DataFrame. Nothing inside the
engine is instrumented. At each span boundary the tracer also reads:

- Spark's counters for the jobs the span started. The tracer sets a job
  group of its own before the call and afterwards reads the status store
  for the group's jobs and their stages (executor run/CPU/GC time,
  shuffle bytes, spill, input records, task counts);
- the Catalyst phase times (analysis, optimization, planning) of the
  DataFrame a ``collect`` span materialized, from
  ``df._jdf.queryExecution().tracker().phases()``.

Spans are kept in memory and written as JSON lines at the end. The job
intervals and Catalyst phases become child spans, so a layer's self time
is its span's duration minus the part of it its children cover.

``NullTracer`` has the same interface and does nothing; untraced runs use
it, so the end-to-end metrics are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

#: Stage counters summed per span, as (StageData getter, scale to the
#: reported unit).
_STAGE_COUNTERS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "input_records": ("inputRecords", 1),
}


def _epoch_s(option) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return option.get().getTime() / 1000.0 if option.isDefined() else None


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **_):
        yield {}

    def collected(self, span: dict, df, call_span: dict | None = None) -> None:
        pass


class Tracer:
    """Records spans with their Spark counters; see the module docstring."""

    enabled = True

    def __init__(self, trace_id: str):
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self.trace_id = trace_id
        self.spans: list[dict] = []

    def bind(self, spark) -> None:
        """Read counters from ``spark``'s context; called again after each
        session restart."""
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False, **attrs):
        """Span around a block. With ``jobs``, Spark jobs the block starts
        are attributed to it through a job group set here. Jobs the block
        starts on threads of their own, which set their own job group (a
        streaming query runs its batches in the group of its run id), are
        attributed when the block lists those groups in the span record's
        ``extra_groups``."""
        sid = next(self._ids)
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {
            "trace": self.trace_id,
            "id": sid,
            "parent": parent,
            "name": name,
            "layer": layer,
            **attrs,
        }
        group = f"perfbench-{self.trace_id}-{sid}"
        if jobs:
            self._sc.setJobGroup(group, f"{layer}:{name}", False)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if jobs:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                self._read_jobs(rec, [group, *rec.get("extra_groups", [])])
            self.spans.append(rec)

    def _read_jobs(self, rec: dict, groups: list[str]) -> None:
        """Sum the counters of the groups' jobs into ``rec`` and add one
        child span per job."""
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        totals = dict.fromkeys(["jobs", "stages", *_STAGE_COUNTERS], 0)
        for jid in job_ids:
            job = self._store.job(jid)
            start = _epoch_s(job.submissionTime())
            end = _epoch_s(job.completionTime())
            totals["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage = self._store.lastStageAttempt(stage_ids.apply(i))
                if str(stage.status()) == "SKIPPED":
                    continue
                totals["stages"] += 1
                for key, (getter, scale) in _STAGE_COUNTERS.items():
                    totals[key] += getattr(stage, getter)() * scale
            if start is not None and end is not None:
                self.spans.append(
                    {
                        "trace": self.trace_id,
                        "id": next(self._ids),
                        "parent": rec["id"],
                        "name": f"job-{jid}",
                        "layer": "exec",
                        "start": start,
                        "end": end,
                    }
                )
        rec["counters"] = totals

    def collected(self, span: dict, df, call_span: dict | None = None) -> None:
        """Attach the Catalyst phases of the DataFrame ``span``
        materialized as child spans: of ``call_span`` for a phase that
        ran while the DataFrame was built (analysis), else of ``span``."""
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            start = summary.startTimeMs() / 1000.0
            parent = span
            if call_span is not None and start < call_span["end"]:
                parent = call_span
            self.spans.append(
                {
                    "trace": self.trace_id,
                    "id": next(self._ids),
                    "parent": parent["id"],
                    "name": kv._1(),
                    "layer": "catalyst",
                    "start": start,
                    "end": summary.endTimeMs() / 1000.0,
                }
            )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer: each span's duration minus the union
    of its children's intervals (clipped to the span)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
        ]
        covered = union_length([(a, b) for a, b in kids if b > a])
        dur = s["end"] - s["start"]
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, dur - covered)
    return out
