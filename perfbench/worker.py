"""One benchmark process: start Spark, set up one workload, measure it.

Run by ``run.py`` as a fresh process for every measurement, so JIT
state, heap and fixture memos never carry over between runs::

    python3 perfbench/worker.py --workload W --inputs DIR --run-dir DIR \
        --out FILE --seconds S --trace 0|1

Writes one JSON document to ``--out``. An untraced worker exits
without stopping Spark; ``run.py`` ends every process of its session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cores() -> int:
    """N for ``local[N]``: the CPUs this process may run on (nproc)."""
    return len(os.sched_getaffinity(0))


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    """Session settings the benchmark adds to the program's defaults:
    every file Spark writes stays in the run directory, and the driver
    heap (2 GB) and its young generation (256 MB) are fixed, so peak
    memory does not depend on the collector's adaptive sizing."""
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Xms2g -Xmn256m -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]

    import harness
    import procstat

    tracer = None
    if a.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.instrument()
    ctx = harness.Context(a.inputs, a.run_dir, a.seconds, cores(), tracer)
    wl = harness.workload(a.workload)(ctx)
    from pyspark_pipeline_framework_spark import session

    with harness.maybe_span(tracer, "session.start", "session"):
        ctx.spark = session.build_session(session.SparkConfig(
            app_name=f"perfbench-{a.workload}", master=f"local[{ctx.n_cores}]",
            shuffle_partitions=ctx.n_cores, extra_conf=spark_conf(a.run_dir, bool(a.trace)),
        ))
    warm = wl.setup()
    setup_s = procstat.seconds_since_start()
    result = harness.measure(ctx, wl, warm)
    result["setup_s"] = setup_s
    if tracer:
        tracer.post = wl.trace_counts()
        ctx.spark.stop()  # flushes the event log
        result["trace"] = tracer.report(result, a.run_dir)
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
