"""Empirical scale-stress of the dedup/ANN family (VERDICT r3 item #1).

The 100 TB design claims (shuffle-bounded candidate generation, O(log² n)
connected-components rounds, bounded driver fetches) are argued from plan
shape elsewhere; this tool PROVES the scaling behavior empirically on
synthetic multiples of the sf0.1 testdata:

- **Synthesis** (no new testdata): the ``documents`` / ``embeddings``
  tables are unioned R times with a salted id remap
  (``id + replica * 10_000_000``). Document text is word-prefixed per
  replica (``r{i}_word``) so cross-replica shingle sets are DISJOINT —
  each replica reproduces the original near-dup structure without
  manufacturing R² cross-replica candidate pairs; corpus-wide work must
  therefore scale ~linearly in R if the operators are scale-safe.
  Embeddings keep their vectors (bucket/cell populations grow R×,
  query count stays fixed — the production shape).

- **Battery** per scale R ∈ {1, 3, 10}: exact dedup, SimHash, MinHash-LSH
  candidates, exact-Jaccard verify, star-contraction connected
  components (round count asserted), brute-force / LSH / IVF ANN.

- **Assertions** (failures collected, reported, exit 1):
  1. wall(R) ≤ R · SLACK · wall(1) + CONST  — no super-linear blowup;
  2. per-stage peak shuffle-write(R) ≤ R · SLACK · peak(1) + 64 MiB
     (via the Spark UI REST API when the session has a UI); ops in
     ``OP_SHUFFLE_INPUT_RELATIVE`` whose plan legitimately transitions
     from broadcast to shuffle join at scale get the alternative bound
     peak(R) ≤ 1.0 · on-disk input bytes + 64 MiB;
  3. star-CC rounds ≤ ceil(log2(nodes)) + 3 at every scale (the
     measured Kiveris bound incl. the fixpoint-confirmation round);
  4. candidate-pair counts grow ≤ R · 1.5 + 10 (banding stays bounded);
  5. driver JVM used-heap (post-GC) grows < 2 GiB from first to last
     scale — no driver-side accumulation with data size.

Writes a markdown report (default ``SCALECHECK.md``) and prints one JSON
summary line. Usage::

    python tools/scalecheck.py [--base /root/testdata/sf0.1]
        [--scales 1,3,10] [--out SCALECHECK.md] [--skip-report]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

ID_STRIDE = 10_000_000
TIME_SLACK = 2.0          # per-unit-scale wall-time multiplier allowance
TIME_CONST_S = 3.0        # fixed overhead allowance (job setup, steal)
# per-op tighter bounds where the design claims better than the generic
# envelope: decontaminate is a single scan + one (id, counts) shuffle
# against a FIXED broadcast side, so it must track ~1.3R, not 2R+3
OP_TIME_SLACK = {"decontaminate": 1.3}
OP_TIME_CONST_S = {"decontaminate": 1.0}
SHUFFLE_SLACK = 2.0
SHUFFLE_CONST = 64 << 20  # 64 MiB
# A fact-fact join's physical plan legitimately TRANSITIONS at scale:
# below spark.sql.autoBroadcastJoinThreshold AQE broadcasts the smaller
# fact (peak shuffle ~ final-agg bytes); above it the correct 100 TB
# plan is a shuffle join whose peak shuffle is linear in INPUT bytes.
# No envelope anchored on the broadcast-regime peak covers that step
# function (caught live by the first x100 run: 348 B at x1 -> 293 MB at
# x100), so these ops get an input-relative alternative bound:
# peak <= 1.0 x on-disk input bytes + 64 MiB. Staying under the raw
# compressed input proves column pruning survives through the shuffle.
OP_SHUFFLE_INPUT_RELATIVE = {
    "rel_join_fact",
    # TPC-H shapes whose ×1 plans broadcast a side that the star
    # replication GROWS with scale (customer/part/supplier replicate
    # alongside the facts; q21's semi/anti chain self-joins lineitem):
    # at ×30-100 AQE correctly transitions broadcast→shuffle, so the
    # peak-vs-×1 ratio bound is meaningless — bound by input bytes
    "tpch_q8",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
}
PAIR_SLACK = 1.5
HEAP_GROWTH_LIMIT = 2 << 30  # 2 GiB


def _dir_bytes(path: str) -> int:
    """Total on-disk bytes of a parquet directory (or single file)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def build_spark(cpus: int) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scalecheck")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 16)))
        .config("spark.ui.enabled", "true")          # REST stage metrics
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .getOrCreate()
    )


# --------------------------------------------------------------- synthesis

def synth_documents(spark: SparkSession, base_dir: str, r: int, out: str) -> str:
    """R salted replicas of documents; replica i>0 word-prefixes the text
    so its shingles are disjoint from every other replica's."""
    base = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    parts = []
    for i in range(r):
        rep = base.select(
            (F.col("doc_id") + F.lit(i * ID_STRIDE)).alias("doc_id"),
            (
                F.col("text") if i == 0
                else F.regexp_replace("text", r"(\S+)", f"r{i}_$1")
            ).alias("text"),
            "lang", "source", "n_chars",
        )
        parts.append(rep)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    path = os.path.join(out, f"documents_x{r}.parquet")
    df.write.mode("overwrite").parquet(path)
    return path


def synth_embeddings(spark: SparkSession, base_dir: str, r: int, out: str) -> str:
    base = spark.read.parquet(os.path.join(base_dir, "embeddings.parquet"))
    parts = [
        base.select(
            (F.col("vec_id") + F.lit(i * ID_STRIDE)).alias("vec_id"),
            "embedding", "label",
        )
        for i in range(r)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    path = os.path.join(out, f"embeddings_x{r}.parquet")
    df.write.mode("overwrite").parquet(path)
    return path


STAR_SHIFT_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    # nation/region are shared dims: copied once, never replicated
    "nation": [],
    "region": [],
}


def synth_star(spark: SparkSession, base_dir: str, r: int, out: str) -> str:
    """Full star schema replicated R× with CONSISTENT key shifts (the
    same scheme bench.py's sf1 section uses): each replica reproduces
    the original join structure (lineitem→orders→customer,
    lineitem→part/supplier), nation/region stay shared, so every
    TPC-H shape keeps its per-replica cardinalities and total work
    scales linearly in R if the plans are scale-safe."""
    star_dir = os.path.join(out, f"star_x{r}")
    for tbl, keys in STAR_SHIFT_KEYS.items():
        base = spark.read.parquet(os.path.join(base_dir, f"{tbl}.parquet"))
        if not keys or r == 1:
            df = base
        else:
            parts = [
                base.select(*[
                    (F.col(c) + F.lit(i * ID_STRIDE)).alias(c) if c in keys else F.col(c)
                    for c in base.columns
                ])
                for i in range(r)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        df.write.mode("overwrite").parquet(os.path.join(star_dir, f"{tbl}.parquet"))
    return star_dir


def synth_fact(spark: SparkSession, base_dir: str, tbl: str, key: str, r: int, out: str) -> str:
    """R replicas of a fact table with the join key remapped per
    replica — order keys stay consistent between lineitem and orders."""
    base = spark.read.parquet(os.path.join(base_dir, f"{tbl}.parquet"))
    parts = [
        base.withColumn(key, F.col(key) + F.lit(i * ID_STRIDE)) for i in range(r)
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    path = os.path.join(out, f"{tbl}_x{r}.parquet")
    df.write.mode("overwrite").parquet(path)
    return path


# ----------------------------------------------------------- stage metrics

class StageMeter:
    """Peak per-stage shuffle-write bytes between mark() and read(),
    via the Spark UI REST API (None when the session has no UI)."""

    def __init__(self, spark: SparkSession):
        self.api = None
        ui = spark.sparkContext.uiWebUrl
        if ui:
            self.api = f"{ui}/api/v1/applications/{spark.sparkContext.applicationId}/stages"
        self.last_stage = -1

    def _stages(self):
        if not self.api:
            return []
        try:
            with urllib.request.urlopen(self.api + "?status=complete", timeout=10) as f:
                return json.load(f)
        except Exception:
            return []

    def mark(self) -> None:
        stages = self._stages()
        self.last_stage = max((s["stageId"] for s in stages), default=-1)

    def read(self) -> dict | None:
        stages = [s for s in self._stages() if s["stageId"] > self.last_stage]
        if not self.api:
            return None
        return {
            "n_stages": len(stages),
            "peak_shuffle_write": max((s.get("shuffleWriteBytes", 0) for s in stages), default=0),
            "sum_shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        }


def jvm_used_heap(spark: SparkSession) -> int:
    rt = spark._jvm.java.lang.Runtime.getRuntime()  # type: ignore[attr-defined]
    rt.gc()
    time.sleep(0.3)
    return int(rt.totalMemory() - rt.freeMemory())


def _steal_jiffies() -> int | None:
    """Host CPU-steal counter (same source as bench.py): jiffies stolen
    from this VM since boot, or None where /proc/stat is unavailable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return None


def _make_timed(out: dict, meter: "StageMeter"):
    """Measure an op's wall time; ops slower than 1.5s are re-measured
    once and the MINIMUM is recorded (`wall_cold_s` keeps the first
    run). The host shows multi-second CPU-steal bands; the harness
    grades scaling SHAPE, so one transient stall must not fail a
    linearity bound. Stage shuffle metrics come from the first run.

    r10: steal is METERED per measurement window (bench.py's policy):
    when the minimum-so-far window still lost > max(0.5s, 20% of wall)
    to steal, the op is re-measured up to two more times and the
    cleanest (lowest-steal, then lowest-wall) run is recorded, with
    `steal_s` kept in the record — a steal burst shows up in the
    artifact instead of masquerading as a scaling regression."""

    def one_run(fn):
        s0 = _steal_jiffies()
        t0 = time.monotonic()
        val = fn()
        wall = time.monotonic() - t0
        s1 = _steal_jiffies()
        steal = (s1 - s0) / 100.0 if s0 is not None and s1 is not None else 0.0
        return val, wall, steal

    def timed(name: str, fn):
        meter.mark()
        val, wall, steal = one_run(fn)
        rec = {"wall_s": round(wall, 3), "rows": val if isinstance(val, int) else None}
        stage = meter.read()
        if stage:
            rec.update(stage)
        best_wall, best_steal = wall, steal
        if wall > 1.5:
            _, rerun, steal2 = one_run(fn)
            rec["wall_cold_s"] = rec["wall_s"]
            if rerun < best_wall:
                best_wall, best_steal = rerun, steal2
        retries = 0
        while best_steal > max(0.5, 0.2 * best_wall) and retries < 2:
            retries += 1
            _, rerun, steal2 = one_run(fn)
            if (steal2, rerun) < (best_steal, best_wall):
                best_wall, best_steal = rerun, steal2
        rec["wall_s"] = round(best_wall, 3)
        rec["steal_s"] = round(best_steal, 2)
        if retries:
            rec["steal_retries"] = retries
        out[name] = rec
        return val

    return timed


# ----------------------------------------------------------------- battery

def run_battery(spark: SparkSession, docs_path: str, emb_path: str, meter: StageMeter) -> dict:
    from pyspark_pipeline_framework_spark.llm.dedup import (
        _star_components,
        decontaminate,
        exact_text_dedup,
        jaccard_verify,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
        passage_dedup,
        simhash,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
        embedding_dedup_pairs,
    )

    docs = spark.read.parquet(docs_path)
    emb = spark.read.parquet(emb_path)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    out: dict[str, dict] = {}
    timed = _make_timed(out, meter)

    timed("exact_dedup", lambda: exact_text_dedup(docs).count())
    timed("simhash", lambda: simhash(docs).count())
    timed(
        "ngram_jaccard",
        lambda: ngram_jaccard_pairs(docs, threshold=0.8, max_doc_freq=50).count(),
    )
    timed("passage_dedup", lambda: passage_dedup(docs).count())
    # r11: exact-substring span dedup — gram explode + hash count +
    # join-back + per-doc islands window, all keyed, must stay linear
    from pyspark_pipeline_framework_spark.llm.dedup import duplicated_spans

    timed("duplicated_spans", lambda: duplicated_spans(docs, min_tokens=8).count())
    # fixed eval set (base replica only) — broadcast side must not grow
    eval_docs = docs.filter(F.col("doc_id") < ID_STRIDE).limit(50)
    timed("decontaminate", lambda: decontaminate(docs, eval_docs).count())
    # bloom variant: the broadcast side is capped at m_bits positions
    # regardless of eval size — same fixed eval here, so wall must
    # track the exact op's (train-scan dominated)
    from pyspark_pipeline_framework_spark.llm.dedup import bloom_decontaminate

    timed(
        "bloom_decontaminate",
        lambda: bloom_decontaminate(docs, eval_docs, m_bits=1 << 16).count(),
    )
    # BM25: fixed query set, corpus grows — postings scan + bounded
    # score shuffle must stay linear
    from pyspark_pipeline_framework_spark.llm.retrieval import bm25_topk

    q3 = spark.createDataFrame(
        [(0, "hash join"), (1, "vector scan filter"), (2, "slow batch merge")],
        "query_id long, query string",
    )
    timed("bm25_topk", lambda: bm25_topk(docs, q3, top_k=10).count())
    # semantic dedup: nlist GROWS with the corpus (the documented scale
    # knob — constant expected cell size keeps within-cell pair work
    # linear in R); the train sample must grow with nlist too
    # (>= nlist rows seed the centroids), which keeps the driver-side
    # Lloyd linear in R as well — both growths are part of the
    # operator's scaling contract, not overhead to pin. The sizing
    # count runs OUTSIDE the timed closure so the measurement is the
    # operator alone.
    from pyspark_pipeline_framework_spark.llm.similarity import semantic_dedup_pairs

    sd_nlist = 64 * max(1, emb.count() // 5000)
    timed(
        "semantic_dedup",
        lambda: semantic_dedup_pairs(
            emb, dim=64, threshold=0.5, nlist=sd_nlist,
            train_sample=max(256, 4 * sd_nlist),
        ).count(),
    )

    cand = minhash_candidate_pairs(docs).localCheckpoint(eager=False)
    n_pairs = timed("minhash_lsh_candidates", cand.count)
    # incremental path: a FIXED-SIZE daily batch (base replica's first
    # 200 docs) against the full corpus band store. The store grows R×
    # but the new side is constant, so the candidate join must stay
    # ~linear in R (the store-side band/hash shuffle); this is the
    # shape a production run has every day.
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )

    new_batch = docs.filter(F.col("doc_id") < ID_STRIDE).limit(200)
    timed(
        "minhash_incremental",
        lambda: incremental_candidate_pairs(
            minhash_bands(new_batch), minhash_bands(docs)
        ).count(),
    )
    timed(
        "minhash_verify",
        lambda: jaccard_verify(docs, cand, threshold=0.5).count(),
    )

    # star-contraction CC with the round count surfaced
    oriented = (
        cand.select(
            F.greatest(F.col("id_a").cast("long"), F.col("id_b").cast("long")).alias("u"),
            F.least(F.col("id_a").cast("long"), F.col("id_b").cast("long")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    n_nodes = (
        oriented.select(F.col("u").alias("id"))
        .union(oriented.select(F.col("v").alias("id")))
        .distinct()
        .count()
    )
    meter.mark()
    t0 = time.monotonic()
    stars, rounds = _star_components(oriented, max_iters=25)
    n_star_edges = stars.count()
    rec = {
        "wall_s": round(time.monotonic() - t0, 3),
        "rows": n_star_edges,
        "rounds": rounds,
        "n_nodes": n_nodes,
    }
    stage = meter.read()
    if stage:
        rec.update(stage)
    out["cluster_star"] = rec

    # blocked exact near-dup verify: block = (label, replica) so block
    # sizes stay constant as the corpus replicates — the production
    # shape (block by LSH bucket / shard key), pair work stays linear
    emb_blocked = emb.withColumn(
        "__blk", F.concat_ws("_", F.col("label"), F.floor(F.col("vec_id") / ID_STRIDE))
    )
    timed(
        "embedding_neardup",
        lambda: embedding_dedup_pairs(emb_blocked, threshold=0.95, block_col="__blk").count(),
    )
    timed("knn_brute", lambda: cosine_topk_bruteforce(emb, queries, k=5).count())
    timed(
        "knn_lsh",
        lambda: cosine_topk_lsh(emb, queries, dim=64, k=5, n_planes=4, n_tables=8).count(),
    )
    timed(
        "knn_ivf",
        lambda: cosine_topk_ivf(emb, queries, dim=64, k=5, nlist=8, nprobe=3).count(),
    )
    # PQ flat ADC: fixed query set, code store grows R x -- the lookup
    # join + one aggregate must stay linear (training is a bounded
    # driver-side sample, constant in R)
    from pyspark_pipeline_framework_spark.llm.pq import (
        cosine_topk_ivfpq,
        cosine_topk_pq,
    )

    timed(
        "knn_pq",
        lambda: cosine_topk_pq(
            emb, queries, dim=64, k=5, m_sub=16, ksub=16, train_sample=256
        ).count(),
    )
    # IVFPQ: constant nlist -> probed fraction constant -> candidate
    # ADC work linear in R
    timed(
        "knn_ivfpq",
        lambda: cosine_topk_ivfpq(
            emb, queries, dim=64, k=5, nlist=8, nprobe=3,
            m_sub=16, ksub=16, train_sample=256,
        ).count(),
    )
    # r11: weighted sampling with the renormalization chain — k scalar
    # aggregates over the corpus + one map-side filter, must stay linear
    from pyspark_pipeline_framework_spark.llm.packing import weighted_sample

    docs_w = docs.withColumn(
        "__w3",
        (F.col("n_chars").cast("double") * F.col("n_chars")) * F.col("n_chars"),
    )
    timed(
        "weighted_sample_renorm",
        lambda: weighted_sample(
            docs_w, "__w3", 0.4, renormalize_iters=2
        ).count(),
    )
    # r11: tombstone compaction of a band store — one store scan + one
    # anti-join against a (growing linearly) tombstone set + rewrite;
    # wall and shuffle must track the store size
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store
    from pyspark_pipeline_framework_spark.llm.dedup import minhash_bands

    cdir = _tempfile.mkdtemp(prefix="scale_compact_")

    def _compact_once() -> int:
        store = os.path.join(cdir, "store")
        out_p = os.path.join(cdir, "out")
        _shutil.rmtree(store, ignore_errors=True)
        _shutil.rmtree(out_p, ignore_errors=True)
        minhash_bands(docs, num_hashes=32, bands=8).write.parquet(
            f"{store}/batch_id=0"
        )
        tomb = docs.where(F.col("doc_id") % 7 == 0).select(
            F.col("doc_id").alias("id")
        )
        got = compact_batch_store(
            spark, store, out_p, remove_ids=tomb, remove_id_col="id"
        ).count()
        return got

    timed("compact_tombstone", _compact_once)
    _shutil.rmtree(cdir, ignore_errors=True)
    out["_n_candidate_pairs"] = n_pairs
    return out


def run_relational_battery(
    spark: SparkSession, lineitem_path: str, orders_path: str, meter: StageMeter
) -> dict:
    """The warehouse-side scaling proof: Q1-shaped agg, fact-fact
    shuffle join, global top-k, and a per-key running window over
    R-replicated lineitem/orders (join keys remapped consistently)."""
    from pyspark.sql import Window

    l = spark.read.parquet(lineitem_path)
    o = spark.read.parquet(orders_path)
    out: dict[str, dict] = {}
    timed = _make_timed(out, meter)

    dec = lambda c: F.col(c).cast("decimal(38,6)")  # noqa: E731
    timed(
        "rel_agg_q1",
        lambda: l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).alias("sum_qty"),
            F.sum(dec("l_extendedprice")).alias("sum_price"),
            F.avg(dec("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
        .count(),
    )
    timed(
        "rel_join_fact",
        lambda: l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .count(),
    )
    timed(
        "rel_topk",
        lambda: len(
            l.groupBy("l_orderkey")
            .agg(F.sum(dec("l_extendedprice")).alias("rev"))
            .orderBy(F.col("rev").desc(), F.col("l_orderkey"))
            .limit(100)
            .collect()
        ),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    timed(
        "rel_window_running",
        lambda: l.select(
            "l_suppkey", F.sum(dec("l_quantity")).over(w).alias("running")
        ).count(),
    )
    # the scale-safe global value-range frame (r8 VERDICT item 1): must
    # scale like any keyed window, unlike the single-partition global
    # Window.orderBy().rangeBetween() it replaces
    from pyspark_pipeline_framework_spark.operators.windows import global_range_frame

    timed(
        "rel_range_frame",
        lambda: global_range_frame(
            o.select("o_orderkey", "o_totalprice"),
            order_col="o_totalprice",
            lower=-1000,
            upper=0,
            agg="count",
            key_cols=["o_orderkey"],
            result_col="n_within_1k",
        ).count(),
    )
    out["_n_candidate_pairs"] = 0  # not applicable to this family
    return out


TPCH_SHAPES = ("q_tpch_q2", "q_tpch_q8", "q_tpch_q9", "q_tpch_q18", "q_tpch_q21")


def run_tpch_battery(spark: SparkSession, star_dir: str, meter: StageMeter) -> dict:
    """The 5 most expensive TPC-H shapes in the suite (r8 VERDICT item
    5: the ×30 probe previously covered only the LLM ops), run over
    the consistently-replicated full star schema. Uses the REGISTERED
    suite case functions, so the plans measured here are exactly the
    oracle-gated ones."""
    from pyspark_pipeline_framework_spark.suite import all_cases

    cases = all_cases()
    out: dict[str, dict] = {}
    timed = _make_timed(out, meter)
    for name in TPCH_SHAPES:
        timed("tpch_" + name.split("q_tpch_")[1],
              lambda n=name: cases[n].spark_fn(spark, star_dir).count())
    out["_n_candidate_pairs"] = 0
    return out


# ------------------------------------------------------------------ checks

def check_results(results: dict[int, dict], heaps: dict[int, int]) -> list[str]:
    problems: list[str] = []
    scales = sorted(results)
    base = results[scales[0]]
    base_scale = scales[0]
    for r in scales[1:]:
        rel = r / base_scale
        for op, rec in results[r].items():
            if op.startswith("_"):
                continue
            b = base.get(op)
            if not b:
                continue
            limit = (rel * OP_TIME_SLACK.get(op, TIME_SLACK) * b["wall_s"]
                     + OP_TIME_CONST_S.get(op, TIME_CONST_S))
            if rec["wall_s"] > limit:
                problems.append(
                    f"{op}@x{r}: wall {rec['wall_s']:.2f}s > linear bound "
                    f"{limit:.2f}s (x{base_scale}: {b['wall_s']:.2f}s)"
                )
            if rec.get("peak_shuffle_write") is not None and b.get("peak_shuffle_write") is not None:
                slimit = rel * SHUFFLE_SLACK * b["peak_shuffle_write"] + SHUFFLE_CONST
                if op in OP_SHUFFLE_INPUT_RELATIVE:
                    ib = results[r].get("_rel_input_bytes", 0)
                    slimit = max(slimit, 1.0 * ib + SHUFFLE_CONST)
                if rec["peak_shuffle_write"] > slimit:
                    problems.append(
                        f"{op}@x{r}: peak stage shuffle-write "
                        f"{rec['peak_shuffle_write']} > bound {slimit:.0f}"
                    )
        # candidate growth must stay ~linear (banding bounded)
        np_r, np_b = results[r]["_n_candidate_pairs"], base["_n_candidate_pairs"]
        if np_r > rel * PAIR_SLACK * np_b + 10:
            problems.append(
                f"candidate pairs @x{r}: {np_r} vs {np_b} at x{base_scale} — super-linear"
            )
    for r in scales:
        cs = results[r].get("cluster_star")
        if cs is None:
            continue
        bound = math.ceil(math.log2(max(cs["n_nodes"], 2))) + 3
        if cs["rounds"] > bound:
            problems.append(
                f"cluster_star@x{r}: {cs['rounds']} rounds > ceil(log2({cs['n_nodes']}))+3={bound}"
            )
    if heaps:
        first, last = heaps[scales[0]], heaps[scales[-1]]
        if last - first > HEAP_GROWTH_LIMIT:
            problems.append(
                f"driver used-heap grew {(last - first) >> 20} MiB from x{scales[0]} "
                f"to x{scales[-1]} (> {HEAP_GROWTH_LIMIT >> 20} MiB)"
            )
    return problems


def write_report(path: str, base_dir: str, results: dict[int, dict],
                 heaps: dict[int, int], problems: list[str]) -> None:
    scales = sorted(results)
    ops = [k for k in results[scales[0]] if not k.startswith("_")]
    lines = [
        "# SCALECHECK — empirical scaling of the dedup/ANN family",
        "",
        f"Base data: `{base_dir}` (documents/embeddings), replicated with",
        "disjoint-shingle salting (see `tools/scalecheck.py`). Wall seconds",
        "per operator per scale; `shuf` = peak per-stage shuffle-write.",
        "",
        "| operator | " + " | ".join(f"x{r} wall / rows / shuf" for r in scales) + " |",
        "|---|" + "|".join("---" for _ in scales) + "|",
    ]
    for op in ops:
        cells = []
        for r in scales:
            rec = results[r][op]
            shuf = rec.get("peak_shuffle_write")
            shuf_s = f"{shuf / (1 << 20):.1f}M" if shuf is not None else "–"
            extra = f", {rec['rounds']} rounds" if "rounds" in rec else ""
            cells.append(f"{rec['wall_s']:.2f}s / {rec['rows']} / {shuf_s}{extra}")
        lines.append(f"| {op} | " + " | ".join(cells) + " |")
    lines += [
        "",
        "| scale | candidate pairs | driver used-heap (post-GC) |",
        "|---|---|---|",
    ]
    for r in scales:
        heap = heaps.get(r)
        lines.append(
            f"| x{r} | {results[r]['_n_candidate_pairs']} | "
            f"{heap >> 20 if heap else '–'} MiB |"
        )
    lines += ["", "## Assertions", ""]
    if problems:
        lines += [f"- **FAIL** {p}" for p in problems]
    else:
        lines += [
            f"- wall(R) ≤ R·{TIME_SLACK}·wall(1) + {TIME_CONST_S}s — all operators PASS",
            f"- peak stage shuffle-write(R) ≤ R·{SHUFFLE_SLACK}·peak(1) + 64 MiB "
            "(input-relative alternative ≤ 1.0·input bytes + 64 MiB for "
            f"{sorted(OP_SHUFFLE_INPUT_RELATIVE)}, whose plan transitions "
            "broadcast→shuffle join at scale by design) — PASS",
            "- star-CC rounds ≤ ceil(log2(nodes)) + 3 at every scale — PASS",
            f"- candidate pairs grow ≤ R·{PAIR_SLACK} — PASS",
            "- driver used-heap growth < 2 GiB across the full sweep — PASS",
        ]
    # per-scale metered steal (r10): total steal-seconds observed in
    # the recorded (post-retry) measurement windows — a contaminated
    # host shows up in the artifact, not as a phantom regression
    steal_rows = []
    for r in scales:
        tot = sum(v.get("steal_s", 0.0) for v in results[r].values()
                  if isinstance(v, dict))
        retr = sum(v.get("steal_retries", 0) for v in results[r].values()
                   if isinstance(v, dict))
        steal_rows.append(f"| x{r} | {tot:.1f}s | {retr} |")
    lines += [
        "",
        "| scale | steal in recorded windows | steal retries |",
        "|---|---|---|",
        *steal_rows,
    ]
    # preserve curated addenda (hand-written sections below the marker
    # — e.g. the TPC-H ×30/×100 runs) across automated rewrites
    marker = "<!-- curated-addenda -->"
    tail = ""
    if os.path.exists(path):
        with open(path) as f:
            prev = f.read()
        if marker in prev:
            tail = "\n" + marker + prev.split(marker, 1)[1]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--base", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALECHECK.md"))
    ap.add_argument("--skip-report", action="store_true")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument(
        "--family",
        default="all",
        choices=("all", "llm", "relational", "tpch"),
        help="which battery to run: the dedup/ANN family, the relational "
        "warehouse family (replicated lineitem/orders), the 5 most "
        "expensive TPC-H shapes (full replicated star schema), or "
        "'all' (llm + relational)",
    )
    args = ap.parse_args(argv)
    scales = sorted({int(s) for s in args.scales.split(",")})

    spark = build_spark(args.cpus)
    meter = StageMeter(spark)
    tmp = tempfile.mkdtemp(prefix="scalecheck_")
    results: dict[int, dict] = {}
    heaps: dict[int, int] = {}
    try:
        for r in scales:
            merged: dict = {"_n_candidate_pairs": 0}
            if args.family in ("all", "llm"):
                docs_path = synth_documents(spark, args.base, r, tmp)
                emb_path = synth_embeddings(spark, args.base, r, tmp)
                merged.update(run_battery(spark, docs_path, emb_path, meter))
            if args.family in ("all", "relational"):
                l_path = synth_fact(spark, args.base, "lineitem", "l_orderkey", r, tmp)
                o_path = synth_fact(spark, args.base, "orders", "o_orderkey", r, tmp)
                merged["_rel_input_bytes"] = _dir_bytes(l_path) + _dir_bytes(o_path)
                rel = run_relational_battery(spark, l_path, o_path, meter)
                rel.pop("_n_candidate_pairs")
                merged.update(rel)
            if args.family == "tpch":
                star_dir = synth_star(spark, args.base, r, tmp)
                # q21's semi/anti self-joins legitimately transition
                # broadcast→shuffle at scale (AQE) — its shuffle bound
                # is input-relative, like rel_join_fact's
                merged["_rel_input_bytes"] = _dir_bytes(star_dir)
                tq = run_tpch_battery(spark, star_dir, meter)
                tq.pop("_n_candidate_pairs")
                merged.update(tq)
            results[r] = merged
            heaps[r] = jvm_used_heap(spark)
            print(f"# scale x{r}: " + ", ".join(
                f"{op}={rec['wall_s']}s" for op, rec in results[r].items()
                if not op.startswith("_")
            ), file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    problems = check_results(results, heaps)
    if not args.skip_report:
        write_report(args.out, args.base, results, heaps, problems)
    print(json.dumps({
        "scales": scales,
        "problems": problems,
        "results": results,
        "heap_mb": {r: h >> 20 for r, h in heaps.items()},
    }, sort_keys=True))
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
