"""Product quantization (llm/pq.py): geometry validation, model
determinism, map-only encode, incremental append equivalence,
degenerate inputs, recall. The suite case q_sim_knn_pq additionally
hash-gates training+encode+search against a full DuckDB SQL replay."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.llm.pq import (
    codebooks_from_df,
    codebooks_to_df,
    cosine_topk_pq,
    pq_encode,
    pq_index,
    pq_search_adc,
    pq_train_codebooks_exact,
)
from pyspark_pipeline_framework_spark.llm.similarity import cosine_topk_bruteforce

DIM, M_SUB, KSUB = 64, 16, 16


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_geometry_validation(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    with pytest.raises(ValueError, match="divisible"):
        pq_train_codebooks_exact(emb, dim=64, m_sub=7)
    with pytest.raises(ValueError, match="positive"):
        pq_train_codebooks_exact(emb, dim=64, m_sub=0)


def test_training_deterministic_and_shaped(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    B1 = pq_train_codebooks_exact(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    B2 = pq_train_codebooks_exact(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    assert B1.shape == (M_SUB, KSUB, DIM // M_SUB)
    assert np.array_equal(B1, B2)
    # unit-normalized inputs keep codewords bounded
    assert np.all(np.abs(B1) <= 1.0 + 1e-9)


def test_codebook_df_roundtrip(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    B = pq_train_codebooks_exact(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    assert np.array_equal(codebooks_from_df(codebooks_to_df(spark, B)), B)


def test_encode_codes_in_range_and_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    cdf, codes = pq_index(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    rows = codes.collect()
    assert len(rows) == emb.count()  # clean test data: nothing dropped
    for r in rows[:50]:
        assert len(r["codes"]) == M_SUB
        assert all(0 <= c < KSUB for c in r["codes"])
    again = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb, cdf, DIM).collect()
    }
    for r in rows:
        assert list(again[r["vec_id"]]) == list(r["codes"])


def test_encode_is_map_only(spark, sf_dir):
    """The incremental step must add no exchange: encoding a batch
    under a frozen codebook is scan → filter → project (Arrow UDF)."""
    emb = _emb(spark, sf_dir)
    B = pq_train_codebooks_exact(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    df = pq_encode(emb, B, DIM)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_incremental_append_equals_batch(spark, sf_dir):
    """train-once/add-forever: encoding two disjoint halves under the
    frozen codebooks and unioning the code stores must search
    identically to the one-shot pipeline."""
    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    cdf, codes_full = pq_index(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    half1 = pq_encode(emb.where(F.col("vec_id") % 2 == 0), cdf, DIM)
    half2 = pq_encode(emb.where(F.col("vec_id") % 2 == 1), cdf, DIM)
    r_incr = pq_search_adc(half1.union(half2), cdf, q, DIM, k=5)
    r_full = pq_search_adc(codes_full, cdf, q, DIM, k=5)
    a = sorted(map(tuple, r_incr.collect()))
    b = sorted(map(tuple, r_full.collect()))
    assert a == b


def test_empty_corpus_degrades_to_empty(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    empty = emb.where(F.lit(False))
    q = _queries(emb)
    out = cosine_topk_pq(empty, q, dim=DIM, k=5, m_sub=M_SUB, ksub=KSUB)
    assert out.count() == 0


def test_zero_norm_vectors_excluded(spark, sf_dir):
    """A zero vector has no direction: it must neither enter the code
    store nor act as a query (same contract as the whole cosine
    surface)."""
    emb = _emb(spark, sf_dir)
    zero = spark.createDataFrame(
        [(999_999, [0.0] * DIM)], "vec_id: bigint, embedding: array<double>"
    )
    poisoned = emb.select("vec_id", "embedding").unionByName(zero)
    cdf, codes = pq_index(poisoned, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    assert codes.where(F.col("vec_id") == 999_999).count() == 0
    qz = zero.select(F.col("vec_id").alias("query_id"), "embedding")
    assert pq_search_adc(codes, cdf, qz, DIM, k=5).count() == 0


def test_recall_vs_bruteforce(spark, sf_dir):
    """Quantization-error sanity on worst-case (uniform random) data:
    32×32 PQ must keep recall@5 ≥ 0.4 (measured 0.64-0.72 across
    sf0.001/0.01/0.1; the suite recall gate pins the same bound)."""
    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_pq(
            emb, q, dim=DIM, k=5, m_sub=32, ksub=32, train_sample=256
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.4


def test_ivfpq_incremental_append_equals_batch(spark, sf_dir):
    """IVFPQ add is map-only under the frozen model pair: two-batch
    store union must search identically to the one-shot index."""
    from pyspark_pipeline_framework_spark.llm.pq import (
        ivfpq_add,
        ivfpq_index,
        ivfpq_search,
    )

    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    cent, cb, store_full = ivfpq_index(
        emb, DIM, nlist=8, m_sub=M_SUB, ksub=KSUB, train_sample=128
    )
    store_incr = ivfpq_add(
        emb.where(F.col("vec_id") % 2 == 0), cent, cb, DIM
    ).union(ivfpq_add(emb.where(F.col("vec_id") % 2 == 1), cent, cb, DIM))
    a = sorted(map(tuple, ivfpq_search(store_incr, cent, cb, q, DIM, k=5).collect()))
    b = sorted(map(tuple, ivfpq_search(store_full, cent, cb, q, DIM, k=5).collect()))
    assert a == b


def test_ivfpq_prune_cells_matches_default(spark, sf_dir):
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_index, ivfpq_search

    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    cent, cb, store = ivfpq_index(
        emb, DIM, nlist=8, m_sub=M_SUB, ksub=KSUB, train_sample=128
    )
    a = sorted(map(tuple, ivfpq_search(store, cent, cb, q, DIM, k=5).collect()))
    b = sorted(map(tuple, ivfpq_search(
        store, cent, cb, q, DIM, k=5, prune_cells=True
    ).collect()))
    assert a == b


def test_prune_cells_empty_probe_short_circuits(spark, sf_dir):
    """prune_cells with zero surviving queries (all zero-norm, dropped
    by the corrupt-vector screen) must return an empty result with the
    normal schema — not hit the fragile isin([]) edge (r10 ADVICE) —
    for BOTH ivfpq_search and ivf_search."""
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_index, ivfpq_search
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index, ivf_search

    emb = _emb(spark, sf_dir)
    dead = spark.createDataFrame(
        [(0, [0.0] * DIM)], "query_id: bigint, embedding: array<double>"
    )
    cent, cb, store = ivfpq_index(
        emb, DIM, nlist=8, m_sub=M_SUB, ksub=KSUB, train_sample=128
    )
    out = ivfpq_search(store, cent, cb, dead, DIM, k=5, prune_cells=True)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "adc_dot", "rank"]
    cdf, assigned = ivf_index(emb, dim=DIM, nlist=8, train_sample=128)
    out2 = ivf_search(assigned, cdf, dead, dim=DIM, k=5, prune_cells=True)
    assert out2.count() == 0


def test_ivfpq_candidates_bounded_by_probe(spark, sf_dir):
    """Every returned neighbor must live in a cell the query probed —
    the pruning contract that makes the search sub-linear."""
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_index, ivfpq_search
    from pyspark_pipeline_framework_spark.llm.similarity import (
        centroids_from_df,
        ivf_cells_udf,
    )

    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    cent, cb, store = ivfpq_index(
        emb, DIM, nlist=8, m_sub=M_SUB, ksub=KSUB, train_sample=128
    )
    out = ivfpq_search(store, cent, cb, q, DIM, k=5, nprobe=2)
    C = centroids_from_df(cent)
    probe = ivf_cells_udf(C, 2)
    qcells = {
        (r["query_id"], c)
        for r in q.select("query_id", probe(F.col("embedding")).alias("cells")).collect()
        for c in r["cells"]
    }
    cells = {r["vec_id"]: r["cell"] for r in store.collect()}
    for r in out.collect():
        assert (r["query_id"], cells[r["vec_id"]]) in qcells


def test_ivfpq_store_is_map_only(spark, sf_dir):
    from pyspark_pipeline_framework_spark.llm.pq import (
        ivfpq_add,
        pq_train_codebooks_exact,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_train_centroids

    emb = _emb(spark, sf_dir)
    C = ivf_train_centroids(emb, DIM, nlist=8, train_sample=128)
    B = pq_train_codebooks_exact(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    df = ivfpq_add(emb, C, B, DIM)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_malformed_codes_are_dropped_with_ansi_on_and_off(spark, sf_dir, ansi):
    """A code row that is NULL, not exactly m_sub long, or holds an
    entry outside [0, ksub) or a NULL entry is never scored, by either
    search, and searching never raises: the result equals the search of
    the well-formed rows alone. (The posexplode/join plan scored such
    rows from the lookups it found.)"""
    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_add, ivfpq_search
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_train_centroids

    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    C = ivf_train_centroids(emb, DIM, nlist=4, train_sample=128)
    B = pq_train_codebooks_exact(emb, DIM, m_sub=M_SUB, ksub=KSUB, train_sample=128)
    good = [
        (r.vec_id, r.cell, list(r.codes))
        for r in ivfpq_add(emb.where(F.col("vec_id") < 40), C, B, DIM).collect()
    ]
    cell, codes = good[-1][1], good[-1][2]
    bad = [
        (10_001, cell, codes[:-1]),
        (10_002, cell, codes + [0]),
        (10_003, cell, [KSUB] + codes[1:]),
        (10_004, cell, codes[:-1] + [-1]),
        (10_005, cell, [None] + codes[1:]),
        (10_006, cell, None),
    ]
    schema = "vec_id bigint, cell int, codes array<int>"
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, ansi)
    try:
        store = spark.createDataFrame(good + bad, schema)
        clean = spark.createDataFrame(good, schema)
        for search in (
            lambda s: pq_search_adc(s.select("vec_id", "codes"), B, q, DIM, k=50),
            lambda s: ivfpq_search(s, C, B, q, DIM, k=50, nprobe=4),
        ):
            got = sorted(map(tuple, search(store).collect()))
            assert got == sorted(map(tuple, search(clean).collect()))
            assert len(got) > 0
    finally:
        spark.conf.set(key, old)


def test_int8_knn_recall_and_zero_exclusion(spark, sf_dir):
    """Quantized-search quality: int8 cosine ranking is near-lossless
    (measured recall@5 = 1.00 at sf0.001/0.01/0.1); zero vectors are
    excluded on both sides like the whole cosine surface."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_int8,
    )

    emb = _emb(spark, sf_dir)
    q = _queries(emb)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_int8(emb, q, k=5).collect()
    }
    assert len(exact & got) / len(exact) >= 0.8
    zero = spark.createDataFrame(
        [(999_999, [0.0] * DIM)], "vec_id: bigint, embedding: array<double>"
    )
    poisoned = emb.select("vec_id", "embedding").unionByName(zero)
    out = cosine_topk_int8(poisoned, q, k=5)
    assert out.where(F.col("vec_id") == 999_999).count() == 0
    qz = zero.select(F.col("vec_id").alias("query_id"), "embedding")
    assert cosine_topk_int8(emb, qz, k=5).count() == 0
