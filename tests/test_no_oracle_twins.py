"""Uniform equivalence gates for the 2 permanent no-oracle suite rows
(VERDICT r7 item 4).

Two registered queries have no DuckDB twin by design (xxhash64 /
HLL-sketch internals DuckDB cannot replay). Each one here is tested
against its ORACLE-GATED companion at the DECISION level — the output
a user acts on — using the REGISTERED suite case functions themselves,
so the gate covers exactly what the driver runs rows-only:

| no-oracle row           | twin (oracle-gated)          | decision gate |
|-------------------------|------------------------------|---------------|
| q_dedup_minhash         | q_dedup_ngram_jaccard        | verified pairs == exact truth |
| q_agg_approx_distinct   | q_agg_approx_distinct_bound  | HLL within 3x rsd of exact |

COVERAGE.md names each test next to its row. ``q_dedup_simhash`` is
oracle-gated itself; its exact-duplicate decision keeps a gate here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.io.readers import table
from pyspark_pipeline_framework_spark.suite import all_cases


@pytest.fixture(scope="module")
def cases():
    return all_cases()


def _docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


def test_twin_q_dedup_minhash(spark, sf_dir, cases):
    """xxhash64 LSH candidates -> exact-Jaccard verify must equal the
    oracle-gated exact truth (q_dedup_ngram_jaccard's pair set, itself
    hash-gated vs DuckDB) — the same decision equality the md5 chain
    (q_dedup_minhash_md5 -> q_dedup_minhash_verify) is oracle-gated
    for. At 16 bands x 4 rows, P[miss | J=0.8] ~ 8e-5: equality, not
    recall, is the contract."""
    from pyspark_pipeline_framework_spark.llm.dedup import jaccard_verify

    cand = cases["q_dedup_minhash"].spark_fn(spark, sf_dir)
    verified = jaccard_verify(
        _docs(spark, sf_dir), cand, shingle_k=3, threshold=0.8
    )
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    truth = {
        (r.id_a, r.id_b)
        for r in cases["q_dedup_ngram_jaccard"].spark_fn(spark, sf_dir).collect()
    }
    assert truth, "testdata should contain planted near-dups"
    assert got == truth


def test_twin_q_dedup_simhash(spark, sf_dir, cases):
    """Exact duplicates: identical text -> identical signature -> every
    block collides -> the pair is emitted with hamming 0. The test
    corpus has no verbatim duplicates, so plant some: copy 5 documents
    under shifted ids and run the q_dedup_simhash pipeline (simhash ->
    16-bit-block LSH -> hamming<=6) over the union. The pipeline over
    the unplanted corpus is oracle-gated by q_dedup_simhash itself."""
    from pyspark_pipeline_framework_spark.llm.dedup import simhash
    from pyspark_pipeline_framework_spark.suite.llm import _simhash_block_pairs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.orderBy("doc_id").limit(5)
    copies = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    dup_pairs = {(r.doc_id, r.doc_id + 1_000_000) for r in base.collect()}
    corpus = d.unionByName(copies)
    out = _simhash_block_pairs(simhash(corpus))
    got = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    missing = dup_pairs - set(got)
    assert not missing, f"missed exact-dup pairs {missing}"
    assert all(got[p] == 0 for p in dup_pairs)


def test_twin_q_agg_approx_distinct(spark, sf_dir, cases):
    """HLL estimates vs the oracle-gated exact counts
    (q_agg_approx_distinct_bound): within 3x the default rsd (15%)
    per group, same group set."""
    est = {
        r.l_returnflag: r.approx_parts
        for r in cases["q_agg_approx_distinct"].spark_fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r.exact_parts
        for r in cases["q_agg_approx_distinct_bound"].spark_fn(spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    for g, x in exact.items():
        assert abs(est[g] - x) <= 0.15 * x, (g, est[g], x)
