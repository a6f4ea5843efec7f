"""The traced run: spans around calls into each layer, measured from
outside the program.

``Tracer.instrument()`` wraps public functions of the program's modules
(``WRAPPED``) wherever they are bound, so every call records a span
(name, layer, start, end, parent, run id). The pipeline runner reports
its components through a ``PipelineHooks`` object, the workloads add
spans around their own steps, and after the run Spark's event log and
the /proc samples are folded in. Spans stay in memory and are written
once, at exit.

A layer's self time is its spans' time minus the part covered by their
child spans. Summed over the layers inside the timed units it must
account for the timed wall time within ``RECONCILE_TOLERANCE``: what
is left is time inside a unit that no span covers.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
import uuid

import procstat

PKG = "pyspark_pipeline_framework_spark"
#: module -> (layer, public functions wrapped)
WRAPPED = {
    "session": ("session", ["build_session"]),
    "plans.hocon": ("plans", ["loads"]),
    "plans.config": ("plans", []),
    "io.readers": ("io", ["read_source", "table"]),
    "io.writers": ("io", ["write_sink"]),
    "io.compaction": ("io", ["compact_batch_store"]),
    "llm.text": ("quality", ["quality_filter"]),
    "llm.dedup": ("llm.dedup", ["exact_text_dedup", "minhash_candidate_pairs", "minhash_bands",
                                "incremental_candidate_pairs", "jaccard_verify",
                                "dedup_clusters"]),
    "llm.packing": ("llm.packing", ["split_by_hash", "pack_sequences"]),
    "llm.pq": ("llm.pq", ["ivfpq_add", "ivfpq_search"]),
}
#: modules imported before wrapping so every binding of a wrapped
#: function is found
IMPORTS = ["plans.registry", "plans.runner", "streaming.stateful"]
RECONCILE_TOLERANCE = 0.02


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []
        self.post: dict = {}    # counts taken after the timed region

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str, cpu: bool = False, **attrs) -> dict:
        stack = self._stack()
        # a span opened on another thread (a foreachBatch callback)
        # belongs to whatever the main thread is waiting in
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._ids += 1
            span = {"id": self._ids, "name": name, "layer": layer, "run_id": self.run_id,
                    "parent": parent["id"] if parent else None, "attrs": attrs,
                    "start": time.time(), "end": None}
            self.spans.append(span)
        if cpu:
            span["cpu_start"] = procstat.tree_cpu(os.getpid())
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        if "cpu_start" in span:
            c0, c1 = span.pop("cpu_start"), procstat.tree_cpu(os.getpid())
            span["cpu"] = {k: c1[k] - c0[k] for k in c1}
        stack = self._stack()
        if span in stack:
            stack.remove(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, cpu: bool = False, **attrs):
        s = self.begin(name, layer, cpu, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    # -- instrumentation -----------------------------------------------------
    def instrument(self) -> None:
        for mod in IMPORTS + list(WRAPPED):
            importlib.import_module(f"{PKG}.{mod}")
        for mod, (layer, names) in WRAPPED.items():
            m = sys.modules[f"{PKG}.{mod}"]
            for name in names:
                self._wrap_everywhere(getattr(m, name), f"{mod}.{name}", layer)

    def _wrap_everywhere(self, fn, qualname: str, layer: str) -> None:
        cpu = layer in ("llm.dedup", "llm.pq")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(qualname, layer, cpu=cpu):
                return fn(*args, **kwargs)

        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG):
                for attr, val in list(vars(m).items()):
                    if val is fn:
                        setattr(m, attr, wrapper)

    def hooks(self):
        """A ``PipelineHooks`` that turns each component into a span."""
        from pyspark_pipeline_framework_spark.observability.hooks import NoOpHooks

        tracer, open_spans = self, {}

        class _Hooks(NoOpHooks):
            def on_component_start(self, pipeline, component):
                open_spans[component] = tracer.begin(
                    f"plans.component.{component}", "plans", cpu=True, component=component)

            def on_component_end(self, pipeline, component, status, duration_s):
                tracer.end(open_spans.pop(component))

        return _Hooks()

    # -- report --------------------------------------------------------------
    def report(self, result: dict, run_dir: str) -> dict:
        """Everything the traced run measured, written once at exit."""
        windows = [(u["start"], u["end"]) for u in result.get("units", [])]
        return {
            "run_id": self.run_id,
            "spans": self.spans,
            "self_time": self_times(self.spans),
            "spark": event_log(run_dir, windows, self.spans),
            "post": self.post,
        }


def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict:
    """Per-layer self time of closed spans: each span's duration minus
    the union of its children's intervals (clipped to the span)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered = _union([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in kids.get(s["id"], ()) if c["end"] is not None
                          and c["end"] > s["start"] and c["start"] < s["end"]])
        s["self_s"] = (s["end"] - s["start"]) - covered
        out[s["layer"]] = out.get(s["layer"], 0.0) + s["self_s"]
    return out


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["end"] is not None and s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def event_log(run_dir: str, windows: list[tuple[float, float]], spans: list[dict]) -> dict:
    """Spark's own metrics for the jobs submitted inside the timed
    windows, in total and per layer of the innermost span that was open
    when each job was submitted."""
    # one file, or (rolling, Spark 4's default) a directory of
    # events_<n>_<app> parts
    files = sorted(glob.glob(os.path.join(run_dir, "eventlog", "**", "*"), recursive=True),
                   key=lambda p: [int(x) if x.isdigit() else x for x in os.path.basename(p).split("_")])
    files = [p for p in files if os.path.isfile(p) and not os.path.basename(p).startswith(
        ("appstatus", "."))]
    if not files:
        return {}
    jobs, stage_job, tasks, stages = {}, {}, [], set()
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0, "end": None}
            for sid in ev["Stage IDs"]:
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.add((info["Stage ID"], info["Stage Attempt ID"]))
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.append((ev["Stage ID"], ev["Task Info"], ev["Task Metrics"]))

    def in_window(t: float) -> bool:
        return any(s <= t <= e for s, e in windows)

    timed_jobs = {j for j, v in jobs.items() if in_window(v["submit"])}
    layer_of = {}
    for j in timed_jobs:
        s = _innermost(spans, jobs[j]["submit"])
        layer_of[j] = s["layer"] if s else "bench"
    total = _zero()
    per_layer: dict[str, dict] = {}
    for sid, info, m in tasks:
        j = stage_job.get(sid)
        if j not in timed_jobs:
            continue
        for acc in (total, per_layer.setdefault(layer_of[j], _zero())):
            _add_task(acc, info, m)
    total["stages"] = len({sid for sid, _attempt in stages if stage_job.get(sid) in timed_jobs})
    total["jobs"] = len(timed_jobs)
    for j in timed_jobs:
        per_layer.setdefault(layer_of[j], _zero())["jobs"] += 1
    busy = sum(_union([iv for j in timed_jobs
                       if (iv := (max(jobs[j]["submit"], s), min(jobs[j]["end"] or e, e)))[0] < iv[1]])
               for s, e in windows)
    total["job_busy_s"] = busy
    total["driver_only_s"] = sum(e - s for s, e in windows) - busy
    return {"total": total, "per_layer": per_layer}


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "sched_wait_s": 0.0, "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0,
            "spill_mb": 0.0, "scan_mb": 0.0, "output_mb": 0.0}


def _add_task(acc: dict, info: dict, m: dict) -> None:
    mb = 1024.0 * 1024.0
    run_ms = m.get("Executor Run Time", 0)
    acc["tasks"] += 1
    acc["run_s"] += run_ms / 1000.0
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    # Spark UI's scheduler delay: task lifetime not spent deserialising,
    # running, serialising the result or fetching it
    wall_ms = info["Finish Time"] - info["Launch Time"]
    getting = (info["Finish Time"] - info["Getting Result Time"]) if info.get("Getting Result Time") else 0
    acc["sched_wait_s"] += max(0, wall_ms - run_ms - m.get("Executor Deserialize Time", 0)
                               - m.get("Result Serialization Time", 0) - getting) / 1000.0
    acc["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb
    acc["fetch_wait_s"] += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1000.0
    acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
    acc["scan_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / mb
    acc["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / mb
