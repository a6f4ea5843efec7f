"""Benchmark harness — runs headline suite queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def _calibrate() -> float:
    """Single-thread CPU probe (fixed md5 chain): the host is a shared
    VM whose effective throughput varies several-fold minute to minute
    (documented 35× swings on identical numpy matmuls), so absolute
    wall-clock comparisons across bench runs are meaningless without a
    machine-speed reference. Compare suite totals as value/calib_sec."""
    import hashlib

    t0 = time.perf_counter()
    h = b"calib"
    for _ in range(400_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return None


def _sf1_section(spark, sf_dir: str, timings: dict[str, float],
                 prebuilt: str | None = None) -> dict:
    """Wrapper owning the ×10 dataset's temp dir: if the body raises
    after mkdtemp (build/write failure), the caller's except path sets
    sf1={'error':...} with no ``_tmp_dir`` key — without this cleanup
    the ~10×-sf parquet would leak on every failed sf1 pass (r8
    ADVICE). A prebuilt dir is never removed here (the retry pass
    owns it via the first pass's ``_tmp_dir``)."""
    import shutil
    import tempfile

    tmp = prebuilt or tempfile.mkdtemp(prefix="bench_sf1_")
    try:
        return _sf1_body(spark, sf_dir, timings, tmp, prebuilt is not None)
    except BaseException:
        if not prebuilt:
            shutil.rmtree(tmp, ignore_errors=True)
        raise


def _sf1_body(spark, sf_dir: str, timings: dict[str, float],
              tmp: str, prebuilt: bool) -> dict:
    """One order of magnitude above the bench point: replicate the sf
    star schema 10× (keys shifted per replica so join cardinalities are
    preserved; document text word-prefixed and embeddings rotated per
    replica so dedup/ANN candidate sets stay LINEAR — identical copies
    would manufacture ×R² pairs the operators rightly find), then run
    the 10 most expensive suite queries once each. Guards against
    driver-side drift the sf0.1 point can't see. Wall-capped via
    SPARK_GRAFT_SF1_BUDGET_S; skipped entirely with SPARK_GRAFT_SF1=0."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.suite import all_cases

    R = 10
    STRIDE = 10_000_000
    shift_keys = {
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "part": ["p_partkey"],
        "supplier": ["s_suppkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        # label is the dedup/centroid BLOCK key: shifting it per
        # replica keeps blocks replica-local (each replica reproduces
        # the original block structure), mirroring the disjoint-shingle
        # document salting. Unshifted, blocks grow R× and the
        # label-blocked self-join in q_dedup_embedding does R² pair
        # work — a replication artifact, not an operator property (it
        # tripped the superlinear gate on a noisy host, r6).
        "embeddings": ["vec_id", "label"],
        "nation": [],
        "region": [],
    }
    t0 = time.perf_counter()
    for tbl, keys in ({} if prebuilt else shift_keys).items():
        src = f"{sf_dir}/{tbl}.parquet"
        if not os.path.exists(src):
            continue
        base = spark.read.parquet(src)
        if not keys:
            df = base
        else:
            parts = []
            for i in range(R):
                rep = base.select(*[
                    (F.col(c) + F.lit(i * STRIDE)).alias(c) if c in keys else F.col(c)
                    for c in base.columns
                ])
                if tbl == "documents" and i > 0:
                    rep = rep.withColumn(
                        "text", F.regexp_replace("text", r"(\S+)", f"r{i}_$1")
                    )
                if tbl == "embeddings" and i > 0:
                    e, n = F.col("embedding"), F.size("embedding")
                    rep = rep.withColumn(
                        "embedding",
                        F.concat(F.slice(e, i + 1, n - i), F.slice(e, 1, i)),
                    )
                parts.append(rep)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{tmp}/{tbl}.parquet")
    build_s = time.perf_counter() - t0

    meter = None
    try:
        sys.path.insert(0, os.path.join(REPO, "tools"))
        from scalecheck import StageMeter

        meter = StageMeter(spark)
    except Exception:
        pass

    cases = all_cases()
    # r6: the FULL suite runs at x10, not just the top-10 (VERDICT r5
    # item 6) — expensive-first so a budget cap still covers the
    # queries where superlinearity would hide
    top = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])
           if n in cases]
    out: dict = {"replication": R, "build_sec": round(build_s, 1),
                 "queries": {}, "peak_shuffle_write": {}}
    budget_s = float(os.environ.get("SPARK_GRAFT_SF1_BUDGET_S", "900"))
    # per-query regression budgets (VERDICT r7 item 2): alpha pinned
    # from a verified-clean run, so a noisy host can't mask — or
    # fabricate — a per-query superlinear regression. The alphas are
    # sf1/sf0.1 RATIOS measured at a specific core count; at a different
    # core count the ratio legitimately shifts (sub-second sf0.1 points
    # are scheduling-bound, the ×10 points are not), so the alpha gate
    # is skipped off-reference instead of reporting fabricated
    # violations (r12 VERDICT item 2: the driver's 8-core scaling run
    # flagged q_dedup_minhash_md5 against a 32-core budget).
    alphas: dict = {}
    try:
        with open(os.path.join(REPO, "tools", "sf1_budgets.json")) as f:
            _b = json.load(f)
        alphas = _b["alpha"]
        pinned_cpus = int(_b.get("source", {}).get("pinned_cpus", 32))
        run_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        if run_cpus != pinned_cpus:
            out["alpha_gate"] = (f"skipped: cpus={run_cpus} != "
                                 f"pinned {pinned_cpus}")
            alphas = {}
    except Exception:
        pass
    steal0 = _steal_jiffies()
    spent = 0.0
    for name in top:
        if spent > budget_s:
            out["queries"][name] = None  # budget-capped, not run
            continue
        if meter is not None:
            meter.mark()
        # min-of-2 (VERDICT r7 item 1): the sf0.1 pass always had a
        # best-of-2 policy; a single-run sf1 number conflates host
        # stalls with plans and overstated r7's final snapshot 2-4×
        samples: list = []
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                cases[name].spark_fn(spark, tmp).count()
            except Exception as ex:  # record, don't kill the bench line
                if not samples:
                    out["queries"][name] = f"error: {ex}"[:120]
                break
            samples.append(time.perf_counter() - t0)
            spent += samples[-1]
            if spent > budget_s:
                break  # min-of-1 beats not-run when the budget is gone
        if not samples:
            continue
        w = min(samples)
        out["queries"][name] = round(w, 3)
        if meter is not None:
            m = meter.read()
            if m:
                out["peak_shuffle_write"][name] = m["peak_shuffle_write"]
        print(f"# sf1 {name}: {w:.3f}s (x{R} of sf0.1 {timings[name]:.3f}s)",
              file=sys.stderr)
    # superlinear guard: a clean operator at ×10 data on fixed cores
    # should stay within R · 2 · wall(sf0.1) + 3s (same envelope as
    # tools/scalecheck.py); per-query alpha budgets are tighter where
    # a clean run pinned them (sf1 <= alpha · R · sf0.1 + 1s grace)
    bound = lambda n: R * 2 * timings[n] + 3  # noqa: E731
    abound = lambda n: alphas[n] * R * timings[n] + 1.0  # noqa: E731

    def _over(q: dict) -> list:
        sup = [n for n, w in q.items() if isinstance(w, float) and w > bound(n)]
        bud = [n for n, w in q.items()
               if isinstance(w, float) and n in alphas and w > abound(n)]
        return sorted(set(sup) | set(bud))

    # a min-of-2 can still lose both samples to a long stall — re-run
    # just the flagged queries once more and keep the min, so the
    # gates report plan problems, not scheduler noise
    for name in _over(out["queries"]):
        t0 = time.perf_counter()
        try:
            cases[name].spark_fn(spark, tmp).count()
            w2 = time.perf_counter() - t0
        except Exception:
            continue
        if w2 < out["queries"][name]:
            out["queries"][name] = round(w2, 3)
            print(f"# sf1 retry {name}: {w2:.3f}s (was flagged)", file=sys.stderr)
    out["_tmp_dir"] = tmp  # caller owns cleanup (retry pass reuses the data)
    out["superlinear"] = sorted(
        n for n, w in out["queries"].items()
        if isinstance(w, float) and w > bound(n)
    )
    out["budget_violations"] = sorted(
        n for n, w in out["queries"].items()
        if isinstance(w, float) and n in alphas and w > abound(n)
    )
    steal1 = _steal_jiffies()
    if steal0 is not None and steal1 is not None:
        out["steal_sec"] = round((steal1 - steal0) / 100.0, 1)
    out["measured_sec"] = round(
        sum(w for w in out["queries"].values() if isinstance(w, float)), 2
    )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    _t0_wall = time.perf_counter()
    steal0 = _steal_jiffies()
    calib = min(_calibrate(), _calibrate())

    from pyspark_pipeline_framework_spark.session import SparkConfig, build_session
    from pyspark_pipeline_framework_spark.suite import all_cases

    spark = build_session(
        SparkConfig(
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus),
            app_name="ppfs-bench",
            ui=True,  # REST stage metrics for the sf1 shuffle numbers
            extra_conf={
                # the 1g local default OOMs the ×10 (sf1) section's
                # hash aggregates; same knob/default as tools/scalecheck
                "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    )

    # warm the JVM + parquet footers once so the numbers measure the queries
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def run_suite() -> tuple[dict[str, float], float]:
        """One full timing pass; returns (timings, steal_sec of the pass).

        best-of-2 per query: the first run pays one-time JIT/codegen
        compilation that a long-lived cluster job would amortize away."""
        s0 = _steal_jiffies()
        t: dict[str, float] = {}
        for name, case in sorted(all_cases().items()):
            # label every job with its query name (guide §1.3) so UI /
            # event-log stages are attributable when profiling a pass
            try:
                spark.sparkContext.setJobDescription(f"bench:{name}")
            except Exception:
                pass  # Connect has no sparkContext; labeling is best-effort
            samples, n = [], 0
            for _ in range(2):
                t0 = time.perf_counter()
                df = case.spark_fn(spark, sf_dir)
                n = df.count()  # full execution, no driver materialization
                samples.append(time.perf_counter() - t0)
            # host-noise guard: when the two samples disagree badly, a
            # steal burst hit one of them — take a third, keep the min
            if max(samples) > 1.6 * min(samples) + 0.05:
                t0 = time.perf_counter()
                case.spark_fn(spark, sf_dir).count()
                samples.append(time.perf_counter() - t0)
            t[name] = round(min(samples), 4)
            print(f"# {name}: {t[name]:.3f}s ({n} rows)", file=sys.stderr)
        s1 = _steal_jiffies()
        steal = (s1 - s0) / 100.0 if s0 is not None and s1 is not None else 0.0
        return t, steal

    timings, pass_steal = run_suite()
    # steal-contamination policy (VERDICT r5 item 8): when the host
    # stole more CPU-seconds than half the measured wall, the numbers
    # are noise-dominated (r5's driver artifact: 468s steal on a 78s
    # total). Attempt ONE rerun; publish the better pass, RECORD both
    # attempts (r9 VERDICT item 6 — the artifact must show the retry
    # happened and what each pass saw), and self-flag the JSON line if
    # even the better one is contaminated.
    attempts = [{"total_sec": round(sum(timings.values()), 4),
                 "steal_sec": round(pass_steal, 1)}]
    steal_contaminated = False
    if pass_steal > 0.5 * sum(timings.values()):
        print(f"# steal-contaminated pass ({pass_steal:.0f}s stolen vs "
              f"{sum(timings.values()):.0f}s measured) — one rerun",
              file=sys.stderr)
        timings2, pass_steal2 = run_suite()
        attempts.append({"total_sec": round(sum(timings2.values()), 4),
                         "steal_sec": round(pass_steal2, 1)})
        if sum(timings2.values()) < sum(timings.values()):
            timings, pass_steal = timings2, pass_steal2
        steal_contaminated = pass_steal > 0.5 * sum(timings.values())

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-query detail goes to a repo file (committed per round, so
    # rounds can be diffed query-by-query); the stdout line must stay
    # under the driver's 2000-byte tail buffer or it records parsed=null,
    # so it carries only the slowest queries.
    # ×10 scale point (sf1 when benching sf0.1) — top-10 queries only.
    # Never let it cost the primary metric: any failure (disk, OOM)
    # degrades to an error note in the JSON, not a lost bench line.
    sf1 = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and sf_val == 0.1:
        try:
            # release the sf0.1 fixture memos (pinned localCheckpoint
            # blocks) before running at 10× the data — storage memory
            # held by the previous section otherwise competes with the
            # ×10 section's shuffles/aggregates
            from pyspark_pipeline_framework_spark.suite._util import clear_shared

            clear_shared()
            sf1 = _sf1_section(spark, sf_dir, timings)
        except Exception as ex:
            sf1 = {"error": f"{ex}"[:200]}
            print(f"# sf1 section failed: {ex}", file=sys.stderr)

    # contamination verdict from WHICHEVER pass is worst (VERDICT r7
    # item 1): the r7 final artifact had a clean sf0.1 pass but a
    # steal-swamped sf1 pass and still published unflagged sf1 numbers.
    # Same retry policy as the sf0.1 pass: one rerun, keep the better.
    def _sf1_contaminated(s):
        st, ms = s.get("steal_sec"), s.get("measured_sec") or 0.0
        return st is not None and ms > 0 and st > 0.5 * ms

    if isinstance(sf1, dict) and _sf1_contaminated(sf1):
        print(f"# sf1 pass steal-contaminated ({sf1['steal_sec']:.0f}s stolen "
              f"vs {sf1['measured_sec']:.0f}s measured) — one rerun",
              file=sys.stderr)
        try:
            # reuse the already-built ×10 dataset: the retry should
            # re-MEASURE, not re-pay the ~1 min build (less wall =
            # less steal exposure)
            sf1_retry = _sf1_section(spark, sf_dir, timings,
                                     prebuilt=sf1.get("_tmp_dir"))
        except Exception as ex:
            sf1_retry = {"error": f"{ex}"[:200]}
        if (isinstance(sf1_retry, dict) and sf1_retry.get("queries")
                and (not _sf1_contaminated(sf1_retry)
                     or sf1_retry.get("steal_sec", 1e9) < sf1.get("steal_sec", 1e9))):
            sf1_retry.setdefault("_tmp_dir", sf1.get("_tmp_dir"))
            sf1_retry["build_sec"] = sf1.get("build_sec", sf1_retry.get("build_sec"))
            sf1 = sf1_retry
    if isinstance(sf1, dict) and _sf1_contaminated(sf1):
        steal_contaminated = True
        print(f"# sf1 pass steal-contaminated after retry "
              f"({sf1['steal_sec']:.0f}s stolen vs "
              f"{sf1['measured_sec']:.0f}s measured)", file=sys.stderr)
    if isinstance(sf1, dict) and sf1.get("_tmp_dir"):
        import shutil

        shutil.rmtree(sf1.pop("_tmp_dir"), ignore_errors=True)

    steal1 = _steal_jiffies()
    steal_s = round((steal1 - steal0) / 100.0, 1) if steal0 is not None else None
    # context for readers: stolen CORE-seconds as a fraction of total
    # CPU capacity over the whole invocation — the wall-relative
    # contamination gates above are deliberately far stricter (on a
    # 32-core host 0.5x measured wall is ~1.6% of capacity)
    wall_total = time.perf_counter() - _t0_wall
    ncpu = os.cpu_count() or 1
    steal_cap = (round(100.0 * steal_s / (ncpu * wall_total), 2)
                 if steal_s is not None and wall_total > 0 else None)
    full = {
        "metric": "suite_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf_val,
        "cpus": int(cpus),
        "calib_sec": round(calib, 4),
        "steal_sec": steal_s,
        "steal_capacity_pct": steal_cap,
        "steal_contaminated": steal_contaminated,
        "attempts": attempts,
        "sf1": sf1,
        "queries": timings,
    }
    try:
        with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # read-only checkout: the stdout line still lands
        print(f"# BENCH_FULL.json not written: {e}", file=sys.stderr)

    line_obj = {
        "metric": "suite_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf_val,
        "calib_sec": round(calib, 4),
        "steal_sec": steal_s,
        "steal_capacity_pct": steal_cap,
        "queries_full": "BENCH_FULL.json",
        "queries": {},
    }
    if steal_contaminated:  # self-flag: this total is noise-dominated
        line_obj["steal_contaminated"] = True
    if sf1 and "queries" in sf1:
        ran = [w for w in sf1["queries"].values() if isinstance(w, float)]
        line_obj["sf1"] = {
            "n": len(ran),
            "total_sec": round(sum(ran), 2),
            "superlinear": sf1["superlinear"],
            "budget_violations": sf1.get("budget_violations", []),
        }
    elif sf1:
        line_obj["sf1"] = sf1  # error note
    pinned: list[str] = []
    try:
        with open(os.path.join(REPO, "tools", "bench_line_names.json")) as f:
            pinned = json.load(f)["names"]
    except Exception:
        pass
    _fill_line_queries(line_obj, timings, pinned)
    print(json.dumps(line_obj, separators=(",", ":")))


def _fill_line_queries(line_obj: dict, timings: dict, pinned: list,
                       budget: int = 1950) -> None:
    """Populate line_obj["queries"] and line_obj["omitted"] in place.

    Which queries appear on the line is PINNED (tools/bench_line_names.json),
    not chosen by this run's timings: the old slowest-first fill made two
    driver runs emit different sets whenever relative timings jittered, and
    the driver's cross-round differ read the difference as dropped/new
    queries (r12 VERDICT item 2: six false dropped_from_bench). All 164
    names cannot fit — the driver keeps only the last 2000 bytes of output —
    so the line carries the pinned profile-relevant set at 2-decimal
    precision plus an explicit "omitted" count; every query's timing is in
    BENCH_FULL.json and n_queries/value always cover the whole suite."""
    if pinned:
        order = [n for n in pinned if n in timings]
    else:  # no pin file: legacy slowest-first fill
        order = [n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])]
    line_obj["omitted"] = 0  # placeholder so sizing accounts for the key
    for name in order:
        line_obj["queries"][name] = round(timings[name], 2)
    # overflow: drop fastest entries until the line fits (each drop is
    # counted — truncation stays explicit, never mistakable for a drop)
    while (len(json.dumps(line_obj, separators=(",", ":"))) > budget
           and line_obj["queries"]):
        fastest = min(line_obj["queries"], key=line_obj["queries"].get)
        del line_obj["queries"][fastest]
    line_obj["omitted"] = len(timings) - len(line_obj["queries"])


if __name__ == "__main__":
    main()
