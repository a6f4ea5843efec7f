"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. It writes the
seeded inputs once per seed under ``.perfbench/inputs/``, runs the
workload in a fresh worker process (``worker.py``) with its own scratch
directory under ``.perfbench/runs/`` (deleted afterwards) and prints a
report followed, as the last line, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``. With ``--trace 1`` it runs the workload twice, once
untraced and once traced, prints the per-layer metrics and writes the
full trace to ``.perfbench/traces/<workload>-seed<N>.json``.

The amount of work follows from ``--seconds`` alone, never from elapsed
time, so two commits measure identical work.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
#: every worker of one invocation must end within this many seconds
#: of its start
DEADLINE_S = 170
WORKLOADS = ("curation_batch", "stream_ingest")

sys.path[:0] = [HERE]
import procstat  # noqa: E402


def bench_version() -> str:
    """Hash of the benchmark's own files, so runs of different harness
    versions are never compared by accident."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(HERE):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith((".py", ".conf")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, HERE).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def spec_metrics(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def run_worker(workload: str, inputs: str, seconds: float, trace: bool, deadline: float) -> dict:
    run_dir = os.path.join(STATE, "runs", f"{workload}-{uuid.uuid4().hex[:12]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
    )
    out = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", inputs, "--run-dir", run_dir, "--out", out,
           "--seconds", str(seconds), "--trace", str(int(trace))]
    try:
        with open(os.path.join(run_dir, "worker.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                code = None
            # the JVM and the Python workers it forked share the
            # worker's session; none may outlive the run
            procstat.end_session(proc.pid)
            proc.wait()
            if code is None:
                raise RuntimeError(f"{workload} worker did not end within {DEADLINE_S}s")
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "worker.log")) as f:
                tail = f.read()[-4000:]
            raise RuntimeError(f"{workload} worker exited with {code}:\n{tail}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pyspark_pipeline_framework_spark")):
        print("perfbench: the program (pyspark_pipeline_framework_spark/) is not in "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import inputs
    import report

    started = time.time()
    version = bench_version()
    inp = inputs.prepare(a.workload, a.seed, os.path.join(STATE, "inputs"), a.seconds)
    deadline = started + DEADLINE_S
    plain = run_worker(a.workload, inp, a.seconds, False, deadline)
    traced = run_worker(a.workload, inp, a.seconds, True, deadline) if a.trace else None
    host = dict(plain["host"], started=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
                bench_version=version, seed=a.seed, seconds=a.seconds)
    print("# host " + json.dumps(host, sort_keys=True))
    for line in report.lines(a.workload, plain):
        print(line)
    if traced:
        layers = report.layers(plain, traced)
        path = os.path.join(STATE, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "host": host, "layers": layers,
                       "proc": {"cpu_s": [u["cpu"] for u in traced["units"]],
                                "peak_rss_mb": traced["peak_rss_split_mb"]},
                       "trace": traced["trace"]}, f, indent=1, sort_keys=True)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
        metrics = {m["name"]: {"value": layers["metrics"][m["name"]], "unit": m["unit"]}
                   for m in spec_metrics(True)}
    else:
        metrics = {m["name"]: {"value": plain[m["name"]], "unit": m["unit"]}
                   for m in spec_metrics(False)}
    runs = [plain] + ([traced] if traced else [])
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    if traced:
        # the layers' self times must account for the timed wall time
        attempted += 1
        failed += not layers["reconcile"]["ok"]
    with open(os.path.join(STATE, "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "host": host, "trace": a.trace,
                            "failed": failed, "metrics": metrics}) + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
