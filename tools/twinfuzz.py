"""Randomized twin-agreement fuzz for the permanent no-oracle rows
(r8 VERDICT item 3), plus the LSH-ANN recall floor and the IVF
full-probe identity.

``tests/test_no_oracle_twins.py`` gates the production (xxhash64 / HLL)
variants against their oracle-exact twins at ONE fixed hyperparameter
point each; the suite's oracles fix LSH and IVF at one point too. This tool randomizes the
hyperparameters per pipeline and asserts the decision-level agreement
every time, with bounds derived from the parameters themselves rather
than constants tuned to one configuration:

- **minhash** (family 0): random rows-per-band/bands/shingle_k/
  threshold/corpus-subset. Gates: LSH→exact-verify pairs are a SUBSET
  of the exact n-gram-Jaccard truth (verify computes exact Jaccard, so
  any extra pair is a real bug), and every truth pair whose analytic
  LSH miss probability (1-J^r)^b ≤ 1e-3 — computed from the pair's OWN
  exact Jaccard — is found.
- **simhash** (family 1): random planted verbatim duplicates + random
  hamming threshold. Identical text ⇒ identical signature ⇒ hamming 0
  under the same 16-bit-block LSH the oracle-gated suite case runs.
- **lsh-ann** (family 2): random n_planes/n_tables/k. Gates: every
  common (query, vec) hit carries the bit-identical fixed-point cosine
  the exact case publishes, and observed recall ≥ analytic expectation
  (per-neighbor hyperplane collision probability from its own angle)
  minus 3σ and a +2 absolute slack.
- **ivf** (family 3): random nlist/k/train_iters. With nprobe=nlist
  every cell is probed, so IVF must EQUAL the exact brute
  force — same (query, vec, cos_sim, rank) set, bit-for-bit. A second
  run at random nprobe<nlist gates bit-equal scores on common hits.
- **hll** (family 4): random rsd/measure column/group column. Gate:
  |estimate − exact| ≤ max(4·rsd·exact, 2) per group, same group set.

Run directly or via ``python tools/fuzzcheck.py --twins N``.
"""

from __future__ import annotations

import argparse
import math
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FAMILIES = ("minhash", "simhash", "lsh-ann", "ivf", "hll")


def _docs(spark, sf_dir, modulus, rem):
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.readers import table

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    if modulus > 1:
        d = d.where(F.col("doc_id") % modulus == rem)
    return d


def run_minhash(spark, sf_dir, rng) -> tuple[str, str | None]:
    from pyspark_pipeline_framework_spark.llm.dedup import (
        jaccard_verify,
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    r = rng.choice((2, 3, 4))
    t = rng.choice((0.7, 0.8, 0.9))
    # smallest band count giving P[miss | J == t] <= 1e-3, plus jitter:
    # the gate below uses each truth pair's OWN J, so this only shapes
    # the parameter space toward configurations with testable recall
    b_min = math.ceil(math.log(1e-3) / math.log(1 - t**r))
    b = b_min + rng.randrange(0, 9)
    k = rng.choice((2, 3, 4))
    modulus = rng.choice((1, 2, 3))
    d = _docs(spark, sf_dir, modulus, rng.randrange(modulus))
    label = f"minhash r={r} b={b} k={k} t={t} mod={modulus}"

    truth = {
        (row.id_a, row.id_b): row.jaccard
        for row in ngram_jaccard_pairs(d, shingle_k=k, threshold=t).collect()
    }
    cand = minhash_candidate_pairs(
        d, num_hashes=r * b, bands=b, shingle_k=k, hash_fn="xxhash64"
    )
    got = {
        (row.id_a, row.id_b)
        for row in jaccard_verify(d, cand, shingle_k=k, threshold=t).collect()
    }
    extra = got - set(truth)
    if extra:
        return label, f"verified pairs not in exact truth: {sorted(extra)[:5]}"
    must_find = {p for p, j in truth.items() if (1 - j**r) ** b <= 1e-3}
    missed = must_find - got
    if missed:
        return label, (
            f"missed pairs with analytic P[miss]<=1e-3: "
            f"{sorted((p, round(truth[p], 3)) for p in missed)[:5]}"
        )
    tolerated = len(set(truth) - got - missed)
    return f"{label} ({len(got)}/{len(truth)} pairs, {tolerated} low-P tolerated)", None


def run_simhash(spark, sf_dir, rng) -> tuple[str, str | None]:
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.dedup import hamming_distance, simhash

    n_dup = rng.randrange(3, 9)
    ham_t = rng.choice((0, 2, 4, 6))
    modulus = rng.choice((1, 2))
    d = _docs(spark, sf_dir, modulus, rng.randrange(modulus))
    base = d.orderBy("doc_id").limit(50).orderBy(F.rand(rng.randrange(1 << 30))).limit(n_dup)
    ids = [row.doc_id for row in base.select("doc_id").collect()]
    copies = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = d.unionByName(copies)
    label = f"simhash n_dup={n_dup} ham<={ham_t} mod={modulus}"
    want = {(i, i + 1_000_000) for i in ids}
    sigs = simhash(corpus)
    blocks = F.array(
        *[F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
          for i in range(4)]
    )
    banded = sigs.select(
        "doc_id", "simhash", F.posexplode(blocks).alias("blk_i", "blk")
    )
    a, bb = banded.alias("a"), banded.hint("merge").alias("b")
    pairs = (
        a.join(
            bb,
            (F.col("a.blk_i") == F.col("b.blk_i"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("h"),
        )
        .filter(F.col("h") <= ham_t)
        .distinct()
    )
    got = {(row.id_a, row.id_b): row.h for row in pairs.collect()}
    missing = want - set(got)
    if missing:
        return label, f"missed planted exact dups {sorted(missing)[:5]}"
    bad = [p for p in want if got[p] != 0]
    if bad:
        return label, f"nonzero hamming on exact dups {bad[:5]}"
    return label, None


def _knn_parts(spark, sf_dir, rng, k):
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.readers import table
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_bruteforce

    emb = table(spark, sf_dir, "embeddings")
    lo = rng.randrange(0, 40)
    queries = emb.filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 5)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {
        (row.query_id, row.vec_id): row.cos_sim
        for row in cosine_topk_bruteforce(emb, queries, k=k).collect()
    }
    return emb, queries, exact


def run_lsh_ann(spark, sf_dir, rng) -> tuple[str, str | None]:
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_lsh

    n_planes = rng.randrange(3, 7)
    n_tables = rng.randrange(4, 13)
    k = rng.choice((3, 5, 10))
    emb, queries, exact = _knn_parts(spark, sf_dir, rng, k)
    label = f"lsh-ann planes={n_planes} tables={n_tables} k={k}"
    approx = {
        (row.query_id, row.vec_id): row.cos_sim
        for row in cosine_topk_lsh(
            emb, queries, dim=64, k=k, n_planes=n_planes, n_tables=n_tables
        ).collect()
    }
    common = set(approx) & set(exact)
    for key in common:
        if approx[key] != exact[key]:
            return label, f"cos_sim not bit-equal at {key}: {approx[key]} vs {exact[key]}"
    # analytic recall floor: per exact neighbor, hyperplane collision
    # probability from its own angle, OR-construction across tables
    exp, var = 0.0, 0.0
    for cos in exact.values():
        theta = math.acos(max(-1.0, min(1.0, float(cos))))
        p = 1 - (1 - (1 - theta / math.pi) ** n_planes) ** n_tables
        exp += p
        var += p * (1 - p)
    floor = exp - 3 * math.sqrt(var) - 2
    if len(common) < floor:
        return label, (
            f"recall {len(common)}/{len(exact)} below analytic floor "
            f"{floor:.1f} (E={exp:.1f}, sd={math.sqrt(var):.1f})"
        )
    return f"{label} (recall {len(common)}/{len(exact)}, floor {max(floor, 0):.1f})", None


def run_ivf(spark, sf_dir, rng) -> tuple[str, str | None]:
    from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_ivf

    nlist = rng.choice((4, 8, 16))
    k = rng.choice((3, 5, 10))
    iters = rng.choice((1, 2))
    emb, queries, exact = _knn_parts(spark, sf_dir, rng, k)
    label = f"ivf nlist={nlist} k={k} iters={iters}"
    # full probe == exhaustive search: must equal brute force exactly
    full = {
        (row.query_id, row.vec_id): row.cos_sim
        for row in cosine_topk_ivf(
            emb, queries, dim=64, k=k, nlist=nlist, nprobe=nlist, train_iters=iters
        ).collect()
    }
    if full != exact:
        diff = set(full.items()) ^ set(exact.items())
        return label, f"full-probe IVF != brute force: {sorted(diff)[:4]}"
    # partial probe: common hits still bit-equal
    nprobe = rng.randrange(1, nlist)
    part = {
        (row.query_id, row.vec_id): row.cos_sim
        for row in cosine_topk_ivf(
            emb, queries, dim=64, k=k, nlist=nlist, nprobe=nprobe, train_iters=iters
        ).collect()
    }
    for key in set(part) & set(exact):
        if part[key] != exact[key]:
            return label, (
                f"nprobe={nprobe} cos_sim not bit-equal at {key}: "
                f"{part[key]} vs {exact[key]}"
            )
    return f"{label} (full-probe exact, nprobe={nprobe} common bit-equal)", None


def run_hll(spark, sf_dir, rng) -> tuple[str, str | None]:
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.readers import table

    rsd = rng.choice((0.02, 0.05, 0.1))
    col = rng.choice(("l_partkey", "l_suppkey", "l_orderkey"))
    grp = rng.choice(("l_returnflag", "l_linestatus"))
    label = f"hll rsd={rsd} col={col} by={grp}"
    li = table(spark, sf_dir, "lineitem")
    rows = (
        li.groupBy(grp)
        .agg(
            F.approx_count_distinct(col, rsd).alias("est"),
            F.countDistinct(col).alias("exact"),
        )
        .collect()
    )
    if not rows:
        return label, "no groups"
    for row in rows:
        bound = max(4 * rsd * row.exact, 2.0)
        if abs(row.est - row.exact) > bound:
            return label, (
                f"group {row[grp]!r}: |{row.est} - {row.exact}| > {bound:.1f} (4x rsd)"
            )
    return f"{label} ({len(rows)} groups within 4x rsd)", None


RUNNERS = (run_minhash, run_simhash, run_lsh_ann, run_ivf, run_hll)


def run(n: int, seed: int, sf_dir: str, only: set[int]) -> int:
    from pyspark_pipeline_framework_spark.session import SparkConfig, build_session

    spark = build_session(SparkConfig(master="local[8]", shuffle_partitions=8))
    failures: list[int] = []
    t_start = time.time()
    for i in range(n):
        if only and i not in only:
            continue
        rng = random.Random(seed * 1_000_003 + i)
        runner = RUNNERS[i % len(RUNNERS)]
        t0 = time.time()
        try:
            label, err = runner(spark, sf_dir, rng)
        except Exception as ex:
            failures.append(i)
            print(f"FAIL  #{i} {FAMILIES[i % len(FAMILIES)]}: exception {ex}")
            continue
        if err:
            failures.append(i)
            print(f"FAIL  #{i} {label}: {err}")
        else:
            print(f"OK    #{i} {label} ({time.time() - t0:.1f}s)")
    ran = len(only) if only else n
    print(f"\n{ran} twin pipelines, {len(failures)} disagreements, "
          f"{time.time() - t_start:.0f}s (seed={seed})"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.01"))
    ap.add_argument("--only", default="", help="comma-separated pipeline indices")
    a = ap.parse_args()
    only = {int(x) for x in a.only.split(",") if x.strip()}
    return run(a.n, a.seed, a.sf, only)


if __name__ == "__main__":
    raise SystemExit(main())
