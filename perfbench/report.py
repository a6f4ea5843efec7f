"""Human-readable report lines and the per-layer metrics of a traced run."""

from __future__ import annotations

import json

import stats
import tracing

COMPONENTS = ["load_docs", "quality", "exact", "candidates", "verified", "clusters",
              "survivors", "split", "tokens", "pack", "save_split", "save_packed"]


def _pct(name: str, unit: str, summary: dict) -> list[str]:
    out = []
    for p in ("p50", "p75"):
        if p in summary:
            out.append(f"{name}_{p}_s {summary[p]:.4f} {unit} (n={summary['n']})")
        else:
            out.append(f"{name}_{p}_s not reported: n={summary['n']} leaves fewer than "
                       f"{stats.MIN_BEYOND} samples beyond it")
    return out


def lines(workload: str, r: dict) -> list[str]:
    """Every end-to-end metric that applies to ``workload``, by name
    with its unit, one per line, prefixed with ``#``."""
    w = r["workload"]
    out = [
        f"setup_s {r['setup_s']:.4f} s",
        f"wall_s {r['wall_s']:.4f} s (median of {r['n_units']} unit(s))",
        f"cpu_s {r['cpu_s']:.4f} s",
        f"peak_rss_mb {r['peak_rss_mb']:.1f} MB "
        f"({', '.join(f'{k} {v:.1f}' for k, v in r['peak_rss_split_mb'].items() if k != 'total')})",
        f"error_rate {r['error_rate']:.4f} ({r['failed']} of {r['attempted']})",
    ]
    if "dup_recall" in w:
        out.append(f"dup_recall {w['dup_recall']:.4f}")
    if workload == "stream_ingest":
        out.append(f"ann_recall {w['ann_recall']:.4f} (floor {w['ann_recall_floor']})")
        if w["first_batch_s"] is not None:
            out.append(f"first_batch_s {w['first_batch_s']:.4f} s")
        out.append(f"batch_mean_s {stats.fmt_mean(w['batch_s'])} s (n={len(w['batch_s'])} warm)")
        out += _pct("batch", "s", w["batch"])
        if w["first_search_s"] is not None:
            out.append(f"first_search_s {w['first_search_s']:.4f} s")
        out.append(f"search_mean_s {stats.fmt_mean(w['search_s'])} s (n={len(w['search_s'])} warm)")
        out += _pct("search", "s", w["search"])
    for u in [r["warm"], r["check"]] + r["units"]:
        if u.get("failed_components"):
            out.append(f"failed_components {json.dumps(u['failed_components'])}")
    return ["# " + line for line in out]


def layers(plain: dict, traced: dict) -> dict:
    """Per-layer metrics of the traced run, its overhead and the
    reconciliation of layer self times with wall time."""
    t = traced["trace"]
    closed = [s for s in t["spans"] if s["end"] is not None]
    units = [s for s in closed if s["name"].startswith("unit[")]
    # layer metrics count only the timed region, not set-up's warm-up
    spans = _within(closed, units)
    spark = t["spark"].get("total", {})

    def dur(pred) -> float:
        return sum(s["end"] - s["start"] for s in spans if pred(s))

    def named(name: str) -> float:
        return dur(lambda s: s["name"] == name)

    def cpu(pred, role: str = "python") -> float:
        return sum(s.get("cpu", {}).get(role, 0.0) for s in spans if pred(s))

    wall = sum(u["wall_s"] for u in traced["units"])
    cpu_total = sum(u["cpu"]["total"] for u in traced["units"])
    post = t["post"]
    # batch 0 is the stream's cold batch, run in set-up
    progress = [p for p in traced["check"].get("progress", ()) if p["batchId"] > 0]
    dedup_components = {"plans.component.exact", "plans.component.candidates",
                        "plans.component.verified", "plans.component.clusters"}
    cand, ver = post.get("llm.dedup.candidate_pairs", 0), post.get("llm.dedup.verified_pairs", 0)
    m = {
        "session.start_s": sum(s["end"] - s["start"] for s in closed
                               if s["name"] == "session.start"),
        "plans.parse_s": named("plans.parse"),
        "plans.driver_s": spark.get("driver_only_s", 0.0),
        "plans.jobs": spark.get("jobs", 0),
        **{f"plans.component_s.{c}": named(f"plans.component.{c}") for c in COMPONENTS},
        "io.write_s": named("io.writers.write_sink"),
        "io.files_written": post.get("io.files_written", 0),
        "io.bytes_written_mb": post.get("io.bytes_written_mb", 0.0),
        "io.compact_s": named("io.compact"),
        "io.store_files": post.get("io.store_files", 0),
        "io.scan_mb": spark.get("scan_mb", 0.0),
        "quality.filter_s": named("llm.text.quality_filter"),
        "quality.rows_dropped": post.get("quality.rows_dropped", 0),
        "llm.dedup.candidate_pairs": cand,
        "llm.dedup.verified_pairs": ver,
        "llm.dedup.pair_yield": ver / cand if cand else 0.0,
        "llm.dedup.python_cpu_s": cpu(lambda s: s["name"] in dedup_components),
        "llm.packing.pack_s": named("llm.packing.pack_sequences"),
        "llm.pq.add_s": named("llm.pq.add"),
        "llm.pq.search_s": named("llm.pq.search"),
        "llm.pq.python_cpu_s": cpu(lambda s: s["name"] in ("llm.pq.add", "llm.pq.search")),
        "streaming.trigger_s": sum(p["durationMs"]["triggerExecution"] for p in progress) / 1e3,
        "streaming.plan_s": sum(p["durationMs"].get("queryPlanning", 0) for p in progress) / 1e3,
        "streaming.commit_s": sum(p["durationMs"].get("walCommit", 0)
                                  + p["durationMs"].get("commitOffsets", 0) for p in progress) / 1e3,
        "streaming.neardup_s": named("streaming.neardup"),
        "streaming.history_rows": post.get("streaming.history_rows", 0),
        "spark.stages": spark.get("stages", 0),
        "spark.tasks": spark.get("tasks", 0),
        "spark.sched_wait_s": spark.get("sched_wait_s", 0.0),
        "spark.executor_cpu_s": spark.get("executor_cpu_s", 0.0),
        "spark.gc_s": spark.get("gc_s", 0.0),
        "spark.shuffle_write_mb": spark.get("shuffle_write_mb", 0.0),
        "spark.fetch_wait_s": spark.get("fetch_wait_s", 0.0),
        "spark.spill_mb": spark.get("spill_mb", 0.0),
        "spark.python_cpu_s": sum(u["cpu"]["python"] for u in traced["units"]),
        "spark.jvm_cpu_s": sum(u["cpu"]["jvm"] for u in traced["units"]),
        "spark.core_util": cpu_total / (wall * traced["host"]["n_cores"]),
        "host.steal_s": traced["host"]["steal_s"],
        "trace.overhead_s": traced["wall_s"] - plain["wall_s"],
    }
    rec = reconcile(spans, units, wall)
    m["trace.reconcile_error"] = rec["error"]
    return {
        "metrics": m,
        "self_time_s": rec["self_time_s"],
        "wall_s": wall,
        "untraced_wall_s": plain["wall_s"],
        "reconcile": rec,
        "spark_per_layer": t["spark"].get("per_layer", {}),
    }


def _within(spans: list[dict], roots: list[dict]) -> list[dict]:
    """The spans under ``roots`` (roots included)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def reconcile(spans: list[dict], units: list[dict], wall_s: float) -> dict:
    """Layer self times of the timed spans against ``wall_s``, the
    harness's own clock. The unit spans are left out: their self time
    is time no layer accounts for, so a step the trace misses shows as
    a gap larger than the tolerance."""
    roots = {s["id"] for s in units}
    self_time: dict[str, float] = {}
    for s in spans:
        if s["id"] not in roots:
            self_time[s["layer"]] = self_time.get(s["layer"], 0.0) + s["self_s"]
    error = abs(wall_s - sum(self_time.values())) / wall_s
    return {"self_time_s": self_time, "error": error,
            "tolerance": tracing.RECONCILE_TOLERANCE,
            "ok": error <= tracing.RECONCILE_TOLERANCE}
