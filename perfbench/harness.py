"""The measuring loop shared by the workloads.

A workload object has ``setup()`` (everything before the process is
ready: locating inputs, loading models and one untimed, checked
warm-up of the same work, so class loading, first code generation and
the Python worker start are paid before timing starts; it returns the
warm-up's ``attempted`` and ``failed`` counts), ``unit(i)``, one timed
unit of work from input to committed result, returning at least
``attempted`` and ``failed`` counts, and optionally ``check()``, an
untimed check of state the units share. The harness runs
``--seconds // unit_seconds`` units
(at least one), a count fixed by the arguments so every commit
measures the same work, and reports per-unit medians; there is no
best-of-N.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass
from typing import Any

import procstat
import stats


@dataclass
class Context:
    inputs: str
    run_dir: str
    seconds: float
    n_cores: int
    tracer: Any = None
    spark: Any = None


def maybe_span(tracer, name: str, layer: str, cpu: bool = False, **attrs):
    """A span when tracing, else nothing."""
    return tracer.span(name, layer, cpu, **attrs) if tracer else contextlib.nullcontext()


def measure(ctx: Context, wl, warm: dict | None = None) -> dict:
    """Runs the timed units. ``warm`` holds the counts of the warm-up
    checks, which are added to the run's ``attempted`` and ``failed``."""
    pid = os.getpid()
    steal0, load0 = procstat.steal_s(), procstat.loadavg()
    units: list[dict] = []
    n_units = max(1, int(ctx.seconds // wl.unit_seconds))
    with procstat.WorkerRssSampler(pid) as sampler:
        for _ in range(n_units):
            c0, w0, t0 = procstat.tree_cpu(pid), time.time(), time.perf_counter()
            with maybe_span(ctx.tracer, f"unit[{len(units)}]", "bench"):
                out = wl.unit(len(units))
            t1 = time.perf_counter()
            c1 = procstat.tree_cpu(pid)
            out.update(
                start=w0, end=w0 + (t1 - t0), wall_s=t1 - t0,
                cpu={k: c1[k] - c0[k] for k in c1},
            )
            units.append(out)
        # a workload whose units share state checks it once, untimed
        final = wl.check() if hasattr(wl, "check") else {"attempted": 0, "failed": 0}
        peak = procstat.peak_rss_mb(pid, sampler.peak_kb)
    warm = warm or {"attempted": 0, "failed": 0}
    attempted = warm["attempted"] + final["attempted"] + sum(u["attempted"] for u in units)
    failed = warm["failed"] + final["failed"] + sum(u["failed"] for u in units)
    return {
        "n_units": len(units),
        "wall_s": stats.median([u["wall_s"] for u in units]),
        "cpu_s": stats.median([u["cpu"]["total"] for u in units]),
        "peak_rss_mb": peak["total"],
        "peak_rss_split_mb": peak,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "warm": warm,
        "check": final,
        "host": {
            "n_cores": ctx.n_cores,
            "steal_s": procstat.steal_s() - steal0,
            "loadavg_start": load0,
            "loadavg_end": procstat.loadavg(),
        },
        "workload": wl.summarize(units),
        "units": units,
    }


def workload(name: str):
    """The workload class registered under ``name``."""
    import curation
    import stream

    return {"curation_batch": curation.Curation, "stream_ingest": stream.StreamIngest}[name]
