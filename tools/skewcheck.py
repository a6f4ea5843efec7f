"""Planted-skew stress for the LLM family (r10 VERDICT item 4).

scalecheck.py proves flat-to-linear walls under UNIFORM growth; this
tool plants the two classic zipfian hot keys a real 100 TB corpus
develops and asserts the engine survives them:

- **one hot LSH band**: zipf-tiered duplicate texts (default tiers
  1500/500/150 copies of three distinct texts) — every copy shares all
  16 band hashes, so the band self-join sees buckets of those sizes
  and must produce the (legitimate, quadratic-in-bucket) duplicate
  pairs without a quadratic WALL blow-up elsewhere.
- **one hot IVF cell**: a planted tight cluster (default 5000 vectors
  around one base embedding) — cell assignment is degenerate for the
  cluster, so the search's cell equi-join sees one oversized cell.

Each skewed op is budgeted against its UNIFORM twin on the same row
count, input-relatively:

    wall_skew   <= WALL_SLACK * wall_uniform + PAIR_NS * n_output + CONST_S
    shuffle     <= SHUF_SLACK * input_bytes + PAIR_B * n_output + SHUF_CONST

(the output term matters: a hot band's quadratic PAIR OUTPUT is the
answer, not overhead — the budget charges for rows produced, never for
rows² scanned). The report also documents whether AQE's skew-join
splitting engaged (executed-plan 'skew=true' / 'AQEShuffleRead skewed'
markers) — informational in the stress, because at these bucket sizes
Spark may legitimately decide splitting is unnecessary.

--aqe (r12, VERDICT r11 item 8) PROVES the mitigation path fires: the
band self-join over a planted hot tier, run under engagement
thresholds scaled to test-size compressed partitions, must carry skew
markers in its EXECUTED plan, return the identical pair set, and stay
within the stress wall budget (see AQE_ENGAGE_CONFS for the three
findings that explain why defaults never engage at test scale).

--fuzz N adds the randomized layout-invariance kind: N random
tier/cluster plants at the small SF, each pipeline executed under
shuffle.partitions=1/AQE-off AND =32/AQE-on — the two layouts must
return IDENTICAL pairs/neighbors (skew handling must never change
results, only plans).

Usage:
    python tools/skewcheck.py [--base /root/testdata/sf0.1] [--rep 10]
        [--report SCALECHECK.md] [--aqe] [--fuzz 0]
        [--sf-fuzz /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from scalecheck import (  # noqa: E402
    ID_STRIDE,
    StageMeter,
    _dir_bytes,
    _make_timed,
    build_spark,
    synth_documents,
    synth_embeddings,
)

# ---------------------------------------------------------------- budgets
# calibrated on the reference host (local[32], sf0.1 base, rep=10) —
# generous multiples of observed values so host noise never trips them,
# but a quadratic WALL regression (>= 10x) always does
WALL_SLACK = 4.0        # x uniform-twin wall
PAIR_NS = 4e-5          # seconds charged per output row (40 us)
CONST_S = 10.0
SHUF_SLACK = 2.0        # x input bytes
PAIR_B = 400            # shuffle bytes charged per output row
SHUF_CONST = 256 << 20

HOT_DOC_TIERS = (1500, 500, 150)
HOT_VECS = 5000


# --------------------------------------------------------------- planting

def plant_hot_docs(spark: SparkSession, docs_path: str, out: str,
                   tiers=HOT_DOC_TIERS) -> str:
    """Append zipf-tiered duplicate documents: tier t is tiers[t] exact
    copies of one (distinct per tier) base text. Copies share every
    shingle, hence every minhash band — the planted hot band buckets."""
    base = spark.read.parquet(docs_path)
    seeds = base.orderBy("doc_id").limit(len(tiers)).collect()
    parts = [base]
    next_id = 100 * ID_STRIDE
    for t, n in enumerate(tiers):
        text = seeds[t]["text"]
        copies = spark.range(next_id, next_id + n).select(
            F.col("id").alias("doc_id"),
            F.lit(text).alias("text"),
            F.lit(seeds[t]["lang"]).alias("lang"),
            F.lit("planted_skew").alias("source"),
            F.lit(len(text)).cast(dict(base.dtypes)["n_chars"]).alias("n_chars"),
        )
        parts.append(copies.select(*base.columns))
        next_id += n
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    path = os.path.join(out, "documents_skew.parquet")
    df.write.mode("overwrite").parquet(path)
    return path


def plant_hot_vectors(spark: SparkSession, emb_path: str, out: str,
                      n_hot: int = HOT_VECS) -> str:
    """Append a tight planted cluster: n_hot copies of one base
    embedding, each nudged by a deterministic epsilon too small to
    change its cell assignment — the planted hot IVF cell."""
    base = spark.read.parquet(emb_path)
    seed_vec = base.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    dim = len(seed_vec)
    arr = F.array(*[F.lit(float(x)) for x in seed_vec])
    hot = spark.range(200 * ID_STRIDE, 200 * ID_STRIDE + n_hot).select(
        F.col("id").alias("vec_id"),
        F.transform(
            arr,
            lambda v, i: v + (F.col("id") % 97).cast("double") * 1e-7
            * F.when(i == (F.col("id") % dim).cast("int"), 1.0).otherwise(0.0),
        ).alias("embedding"),
        F.lit(-1).cast(dict(base.dtypes)["label"]).alias("label"),
    )
    df = base.unionByName(hot.select(*base.columns))
    path = os.path.join(out, "embeddings_skew.parquet")
    df.write.mode("overwrite").parquet(path)
    return path


# ----------------------------------------------------------------- checks

def _skew_markers(df: DataFrame, execute: bool = False) -> bool:
    """True when AQE's skew handling left a visible mark in the
    executed plan (string probe on the FINAL adaptive plan).

    r12 fix: a DataFrame's own queryExecution is NOT executed by
    ``df.count()`` — count builds a separate aggregate query, so the
    probed plan stayed ``isFinalPlan=false`` with no AQE reads at all
    (the r11 stress recorded 'none' partly for this reason). Pass
    ``execute=True`` to run this exact plan first (``foreachPartition``
    no-op: executes every stage, ships nothing to the driver)."""
    try:
        if execute:
            df.foreachPartition(lambda it: None)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    except Exception:
        return False
    return ("skew=true" in plan) or ("AQEShuffleRead skewed" in plan) or (
        "skewed=true" in plan
    )


def run_stress(spark: SparkSession, base_dir: str, rep: int, tmp: str) -> dict:
    from pyspark_pipeline_framework_spark.llm.dedup import minhash_candidate_pairs
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index, ivf_search

    meter = StageMeter(spark)
    out: dict[str, dict] = {}
    timed = _make_timed(out, meter)

    # --- corpora: uniform twin and planted-skew, same base replication
    docs_u = synth_documents(spark, base_dir, rep, tmp)
    docs_s = plant_hot_docs(spark, docs_u, tmp)
    emb_u = synth_embeddings(spark, base_dir, rep, tmp)
    emb_s = plant_hot_vectors(spark, emb_u, tmp)
    out["_inputs"] = {
        "docs_bytes": _dir_bytes(docs_s),
        "emb_bytes": _dir_bytes(emb_s),
        "rep": rep,
        "tiers": list(HOT_DOC_TIERS),
        "hot_vecs": HOT_VECS,
    }

    # --- hot LSH band: uniform twin then planted
    du, ds = spark.read.parquet(docs_u), spark.read.parquet(docs_s)
    timed("minhash_pairs_uniform", lambda: minhash_candidate_pairs(du).count())
    skew_pairs_df = minhash_candidate_pairs(ds)
    timed("minhash_pairs_skew", lambda: skew_pairs_df.count())
    out["minhash_pairs_skew"]["aqe_skew_engaged"] = _skew_markers(
        skew_pairs_df, execute=True)

    # --- hot IVF cell: uniform twin then planted (same frozen nlist)
    eu, es = spark.read.parquet(emb_u), spark.read.parquet(emb_s)
    dim = 64
    cdf_u, store_u = ivf_index(eu, dim=dim, nlist=64,
                               train_sample=512)
    cdf_s, store_s = ivf_index(es, dim=dim, nlist=64,
                               train_sample=512)
    # queries: 5 base vectors + 3 from inside the planted cluster, so
    # the hot cell is actually probed
    q_ids = [0, 1, 2, 3, 4,
             200 * ID_STRIDE, 200 * ID_STRIDE + 1, 200 * ID_STRIDE + 2]
    qs = es.where(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qu = eu.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=dim, k=5, nprobe=4)
    timed("ivf_search_uniform", lambda: ivf_search(store_u, cdf_u, qu, **kw).count())
    search_s = ivf_search(store_s, cdf_s, qs, **kw)
    timed("ivf_search_skew", lambda: search_s.count())
    out["ivf_search_skew"]["aqe_skew_engaged"] = _skew_markers(
        search_s, execute=True)
    # the planted cell must really be hot, or this test stresses
    # nothing. The quantizer trains ON the skewed corpus, so it may
    # split the planted cluster across a couple of cells — require the
    # dominant cell to hold most of the plant (and hence dwarf the
    # uniform expectation of n/nlist)
    cells = store_s.groupBy("cell").count()
    hot_n = cells.agg(F.max("count")).collect()[0][0]
    out["_hot_cell_rows"] = int(hot_n)
    assert hot_n >= HOT_VECS // 2, f"planted cell not hot: {hot_n} rows"

    # pair counts for the output-relative budget terms (already
    # materialized by the timed runs)
    out["_n_pairs_skew"] = out["minhash_pairs_skew"]["rows"]
    out["_n_pairs_uniform"] = out["minhash_pairs_uniform"]["rows"]
    return out


def check(out: dict) -> list[str]:
    problems = []
    inputs = out["_inputs"]
    for op, twin, ibytes, nout in (
        ("minhash_pairs_skew", "minhash_pairs_uniform",
         inputs["docs_bytes"], out["_n_pairs_skew"]),
        ("ivf_search_skew", "ivf_search_uniform", inputs["emb_bytes"], 0),
    ):
        rec, base = out[op], out[twin]
        wall_budget = WALL_SLACK * base["wall_s"] + PAIR_NS * nout + CONST_S
        if rec["wall_s"] > wall_budget:
            problems.append(
                f"{op}: wall {rec['wall_s']:.1f}s > budget {wall_budget:.1f}s "
                f"(uniform twin {base['wall_s']:.1f}s, {nout} output rows)"
            )
        pk = rec.get("peak_shuffle_write")
        if pk is not None:
            shuf_budget = SHUF_SLACK * ibytes + PAIR_B * nout + SHUF_CONST
            if pk > shuf_budget:
                problems.append(
                    f"{op}: peak shuffle-write {pk} > budget {shuf_budget:.0f}"
                )
    return problems


# ------------------------------------------------- AQE skew-split engagement

#: thresholds that make OptimizeSkewedJoin fire at test scale. Three
#: findings from the r12 engagement hunt, all load-bearing:
#: 1. detection sizes are COMPRESSED map-output bytes — 2000 planted
#:    identical band rows (~56 KiB raw) measure ~27 KiB, so thresholds
#:    must be set against compressed sizes;
#: 2. `coalescePartitions.minPartitionSize` (default 1m) clamps the
#:    split target — a hot partition below it yields ONE chunk and is
#:    silently dropped from the skew count even when it exceeds
#:    threshold and factor x median; at production sizes (hot keys >>
#:    1m) the defaults engage without any of this tuning;
#: 3. only SMJ(Sort(shuffle), Sort(shuffle)) joins are eligible — a
#:    join whose build side is an aggregate output (e.g. the
#:    duplicated_spans dup-hash join) can never split, which is why the
#:    band self-join is the demonstration vehicle.
AQE_ENGAGE_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
}
AQE_ENGAGE_TIER = 2000          # one hot tier: C(2000,2) ≈ 2.0 M pairs
AQE_ENGAGE_PARTITIONS = "64"    # small median, hot keys still 1-per-partition


def run_aqe_engage(spark: SparkSession, base_dir: str, tmp: str) -> int:
    """r11 VERDICT item 8: prove AQE's OptimizeSkewedJoin actually
    FIRES on the planted hot band — the r11 stress recorded 'no skew
    markers' and the mitigation path had never been observed engaging.

    One hot tier of AQE_ENGAGE_TIER identical docs over the base
    corpus; the band self-join runs twice on the same input: once
    under the session defaults (baseline) and once under
    AQE_ENGAGE_CONFS (engagement thresholds scaled to test-size
    compressed partitions). Asserts:
      * the engaged run's executed plan carries skew markers
        (SortMergeJoin(skew=true) / AQEShuffleRead skewed);
      * both runs return the identical pair set (count + order-
        insensitive xxhash64 checksum) — skew splitting may only ever
        change the PLAN;
      * the engaged wall stays within the stress budget
        (WALL_SLACK x baseline + PAIR_NS x pairs + CONST_S).
    Returns the failure count (0 = engaged, equal, within budget)."""
    from pyspark_pipeline_framework_spark.llm.dedup import minhash_candidate_pairs

    saved = {k: spark.conf.get(k, None) for k in AQE_ENGAGE_CONFS}
    saved["spark.sql.shuffle.partitions"] = spark.conf.get(
        "spark.sql.shuffle.partitions")
    docs_path = plant_hot_docs(
        spark, os.path.join(base_dir, "documents.parquet"), tmp,
        tiers=(AQE_ENGAGE_TIER,),
    )
    docs = spark.read.parquet(docs_path)

    def run_once(label: str) -> tuple[int, int, float, bool]:
        # ONE execution serves result and plan probe: the checksum
        # aggregate's executed plan contains the band join subtree, so
        # markers are read from the plan that actually ran
        pairs = minhash_candidate_pairs(docs)
        agg = pairs.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) state: exact + order-insensitive, and the
            # 2M-row sum of int64 hashes cannot overflow under ANSI
            F.sum(F.xxhash64("id_a", "id_b").cast("decimal(38,0)")).alias("chk"),
        )
        t0 = time.time()
        row = agg.collect()[0]
        wall = time.time() - t0
        plan = agg._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        engaged = ("skew=true" in plan) or ("AQEShuffleRead skewed" in plan)
        print(f"  {label}: {row['n']} pairs, {wall:.1f}s, "
              f"skew_markers={engaged}")
        return row["n"], row["chk"], wall, engaged

    failures = 0
    try:
        spark.conf.set("spark.sql.shuffle.partitions", AQE_ENGAGE_PARTITIONS)
        n_base, chk_base, wall_base, eng_base = run_once("baseline-confs")
        for k, v in AQE_ENGAGE_CONFS.items():
            spark.conf.set(k, v)
        n_eng, chk_eng, wall_eng, eng_eng = run_once("engage-confs")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    if not eng_eng:
        failures += 1
        print("FAIL aqe-engage: no skew markers in the engaged run's "
              "executed plan")
    if (n_base, chk_base) != (n_eng, chk_eng):
        failures += 1
        print(f"FAIL aqe-engage: results differ under skew split "
              f"(n {n_base} vs {n_eng}, chk {chk_base} vs {chk_eng})")
    budget = WALL_SLACK * wall_base + PAIR_NS * n_base + CONST_S
    if wall_eng > budget:
        failures += 1
        print(f"FAIL aqe-engage: engaged wall {wall_eng:.1f}s exceeds "
              f"budget {budget:.1f}s")
    if not failures:
        print(f"aqe-engage PASS: skew split fired ({AQE_ENGAGE_TIER}-copy "
              f"hot tier), identical {n_base} pairs, wall "
              f"{wall_eng:.1f}s <= budget {budget:.1f}s "
              f"(baseline {wall_base:.1f}s, baseline_markers={eng_base})")
    return failures


# ------------------------------------------------------------- fuzz kind

def run_fuzz(spark: SparkSession, sf_dir: str, n: int, seed: int, tmp: str) -> int:
    """Layout-invariance under planted skew: random tier/cluster plants,
    each pipeline run under (shuffle.partitions=1, AQE off) and
    (=32, AQE on) — identical results required. Skew handling must
    only ever change the PLAN."""
    from pyspark_pipeline_framework_spark.llm.dedup import minhash_candidate_pairs
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index, ivf_search

    rng = random.Random(seed)
    failures = 0
    for i in range(n):
        tiers = tuple(sorted((rng.randint(50, 400) for _ in range(rng.randint(1, 3))),
                             reverse=True))
        n_hot = rng.randint(200, 1500)
        case_tmp = os.path.join(tmp, f"fuzz{i}")
        docs_p = plant_hot_docs(
            spark, os.path.join(sf_dir, "documents.parquet"), case_tmp, tiers
        )
        emb_p = plant_hot_vectors(
            spark, os.path.join(sf_dir, "embeddings.parquet"), case_tmp, n_hot
        )
        t0 = time.time()

        def run_layout(parts: str, aqe: str):
            saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
            saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            try:
                docs = spark.read.parquet(docs_p)
                pairs = sorted(
                    map(tuple, minhash_candidate_pairs(docs).collect())
                )
                emb = spark.read.parquet(emb_p)
                cdf, store = ivf_index(emb, dim=64, nlist=8,
                                       train_sample=256)
                qs = emb.where(
                    F.col("vec_id").isin([0, 1, 200 * ID_STRIDE])
                ).select(F.col("vec_id").alias("query_id"), "embedding")
                knn = sorted(map(tuple, ivf_search(
                    store, cdf, qs, dim=64, k=5, nprobe=2
                ).collect()))
                return pairs, knn
            finally:
                # restore whatever the session had BEFORE the layout
                # override — not hardcoded defaults (a session built
                # with different knobs must leave with them intact)
                spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
                spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)

        a = run_layout("1", "false")
        b = run_layout("32", "true")
        label = f"skewfuzz #{i} tiers={tiers} hot={n_hot}"
        if a != b:
            failures += 1
            print(f"FAIL  {label}: layouts disagree "
                  f"(pairs {len(a[0])} vs {len(b[0])}, knn {len(a[1])} vs {len(b[1])})")
        else:
            print(f"OK    {label} ({len(a[0])} pairs, {len(a[1])} knn, "
                  f"{time.time() - t0:.1f}s)")
        shutil.rmtree(case_tmp, ignore_errors=True)
    return failures


# ------------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--rep", type=int, default=10)
    ap.add_argument("--report", default=None,
                    help="append the results section to this markdown file")
    ap.add_argument("--fuzz", type=int, default=0)
    ap.add_argument("--sf-fuzz", default="/root/testdata/sf0.01")
    ap.add_argument("--seed", type=int, default=2026)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--skip-stress", action="store_true")
    ap.add_argument("--aqe", action="store_true",
                    help="prove AQE's skew-split fires on the planted hot "
                         "band (engagement thresholds), with answer "
                         "invariance + wall budget")
    ap.add_argument("--aqe-base", default="/root/testdata/sf0.001",
                    help="base corpus for --aqe (small base keeps the "
                         "median partition tiny so the hot key dominates)")
    a = ap.parse_args()

    spark = build_spark(a.cpus)
    tmp = tempfile.mkdtemp(prefix="skewcheck_")
    failures = 0
    try:
        if not a.skip_stress:
            out = run_stress(spark, a.base, a.rep, tmp)
            problems = check(out)
            for op in ("minhash_pairs_uniform", "minhash_pairs_skew",
                       "ivf_search_uniform", "ivf_search_skew"):
                r = out[op]
                print(f"{op}: wall {r['wall_s']}s shuffle "
                      f"{r.get('peak_shuffle_write')} rows {r.get('rows')} "
                      f"aqe_skew={r.get('aqe_skew_engaged', '-')}")
            print(f"pairs: skew {out['_n_pairs_skew']} vs uniform "
                  f"{out['_n_pairs_uniform']}; hot cell {out['_hot_cell_rows']} rows")
            for p in problems:
                print(f"BUDGET-FAIL {p}")
            failures += len(problems)
            if a.report:
                _append_report(a.report, a, out, problems)
        if a.aqe:
            failures += run_aqe_engage(spark, a.aqe_base, tmp)
        if a.fuzz:
            failures += run_fuzz(spark, a.sf_fuzz, a.fuzz, a.seed, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"\nskewcheck: {'PASS' if not failures else f'{failures} FAILURES'}")
    return 1 if failures else 0


def _append_report(path: str, a, out: dict, problems: list[str]) -> None:
    inputs = out["_inputs"]
    lines = [
        "",
        "## Planted-skew stress (r11, tools/skewcheck.py)",
        "",
        f"Base `{a.base}` ×{a.rep} + planted zipf duplicate tiers "
        f"{inputs['tiers']} (hot LSH bands) and a {inputs['hot_vecs']}-vector "
        f"cluster (hot IVF cell, measured {out['_hot_cell_rows']} rows). "
        "Budgets are input- and OUTPUT-relative: "
        f"wall ≤ {WALL_SLACK}×uniform-twin + {PAIR_NS*1e6:.0f} µs/output-row "
        f"+ {CONST_S:.0f} s; peak stage shuffle-write ≤ {SHUF_SLACK}×input "
        f"+ {PAIR_B} B/output-row + {SHUF_CONST >> 20} MiB.",
        "",
        "| op | wall (s) | peak shuffle-write | rows | AQE skew markers |",
        "|---|---|---|---|---|",
    ]
    for op in ("minhash_pairs_uniform", "minhash_pairs_skew",
               "ivf_search_uniform", "ivf_search_skew"):
        r = out[op]
        lines.append(
            f"| {op} | {r['wall_s']} | {r.get('peak_shuffle_write')} | "
            f"{r.get('rows')} | {r.get('aqe_skew_engaged', '—')} |"
        )
    lines += [
        "",
        f"Skew pair output {out['_n_pairs_skew']} vs uniform "
        f"{out['_n_pairs_uniform']} — quadratic-in-bucket OUTPUT is the "
        "correct answer for planted duplicates; the gate proves the WALL "
        "and shuffle stay output-proportional (no rows² scan).",
        f"Result: {'ALL WITHIN BUDGET' if not problems else 'VIOLATIONS: ' + '; '.join(problems)}",
        "",
    ]
    with open(path, "a") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    raise SystemExit(main())
