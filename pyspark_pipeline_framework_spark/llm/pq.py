"""Product quantization (PQ) for embedding columns — the standard
memory-compression technique for ANN at corpus scale (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", IEEE TPAMI 2011;
the FAISS ``IndexPQ`` / ADC search family).

Why this matters at 100 TB: a 64-dim float32 embedding is 256 bytes;
its PQ code under ``m_sub=8`` subspaces is 8 small ints — a 30×+
compression that lets the *searchable* representation of a petabyte
corpus fit in a fraction of the cluster's storage and, crucially,
makes the search scan bandwidth-bound on codes instead of raw vectors.
Encoding is MAP-ONLY (an Arrow-batched pandas UDF, no shuffle), so
codes append forever under a frozen codebook — the same
train-once/add-forever contract as :mod:`.similarity`'s IVF index.

Spark-first design:

- TRAINING is the same bounded-sample, driver-side exact Lloyd as
  ``ivf_train_centroids`` (sample bounded by a hyperparameter,
  never data-sized), run independently per subspace on the subvector
  slices. Every arithmetic step is fixed-point integer — a SQL engine
  replays the trained codebooks bit-for-bit (the suite oracle does).
- ENCODING is one ``pandas_udf`` over the corpus: argmin exact-integer
  L2 per subspace. No shuffle; a filter for corrupt vectors adds no
  exchange.
- ADC SEARCH scores every candidate code with ONE generated
  expression: each query's ``m_sub × ksub`` lookup table is computed
  once (an Arrow UDF over the queries, broadcast keyed by query), and
  a candidate's score is the unrolled sum ``__dt[0·ksub + codes[0]] +
  … + __dt[(m_sub-1)·ksub + codes[m_sub-1]]`` — no posexplode of the
  codes, no join per code entry, no aggregate. The only wide
  operation is the per-query top-k window.

Reference parity: the reference repo has no vector-search surface at
all (SURVEY.md §2.8 is beyond-ref); public FAISS semantics are the
behavioral model. Cosine ranking is obtained the standard way — unit
normalization before encoding, then ADC inner product ≈ cosine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from pyspark_pipeline_framework_spark.llm.similarity import (
    _DOT_SCALE,
    _MEAN_SCALE,
    _as_centroid_matrix,
    _dot14_np,
    _normalize_rows_np,
    _prune_to_probed_cells,
    centroids_to_df,
    drop_corrupt_vectors,
    ivf_cells_udf,
    ivf_train_centroids,
)
from pyspark_pipeline_framework_spark.operators.partitioning import ensure_parallelism

#: schema of a persisted PQ codebook table (one row per (subspace,
#: codeword); ``c`` is the dsub-dim codeword vector)
PQ_CODEBOOK_SCHEMA = T.StructType(
    [
        T.StructField("s", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("c", T.ArrayType(T.DoubleType()), False),
    ]
)


def _check_geometry(dim: int, m_sub: int, ksub: int) -> int:
    if m_sub <= 0 or dim <= 0 or ksub <= 0:
        raise ValueError(f"dim/m_sub/ksub must be positive, got {dim}/{m_sub}/{ksub}")
    if dim % m_sub:
        raise ValueError(
            f"dim ({dim}) must be divisible by m_sub ({m_sub}) — PQ splits "
            "the vector into equal-width subspaces"
        )
    return dim // m_sub


def _dist_int_np(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact-integer L2 surrogate used for PQ assignment, numpy twin
    of the oracle fragment ``doti(c,c) - 2·doti(x,c)`` (the ``x·x``
    term is constant per row, so the argmin is the L2 argmin). Floored
    per-product fixed point makes the value — and therefore the
    assignment, ties to the lowest codeword — identical in any
    engine."""
    P = np.floor(X[:, None, :] * C[None, :, :] * _DOT_SCALE)
    xc = P.astype("int64").sum(axis=2)                       # (n, ksub)
    cs = np.floor(C * C * _DOT_SCALE).astype("int64").sum(axis=1)  # (ksub,)
    return cs[None, :] - 2 * xc


def pq_train_codebooks_exact(
    corpus: DataFrame,
    dim: int,
    m_sub: int = 8,
    ksub: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> np.ndarray:
    """ENGINE-PORTABLE PQ training — returns codebooks of shape
    ``(m_sub, ksub, dim // m_sub)``. Same bounded-sample shape as
    ``ivf_train_centroids`` (the collect is ``train_sample``
    rows, a hyperparameter, never data-sized), then an independent
    exact-integer Lloyd per subspace:

    - sample: the ``train_sample`` rows with the smallest
      ``md5(id)`` hex (engine-agnostic order);
    - normalize: fixed-point unit norm, zero-norm guard;
    - init: the first ``ksub`` sampled subvectors per subspace;
    - assign: argmin of ``doti(c,c) - 2·doti(x,c)`` (integer L2
      surrogate), ties to the lowest codeword;
    - means: per-dim sums of ``floor(x·1e9)`` int64, one division —
      order-independent; empty codewords keep their previous vector.

    The suite oracle (`suite/llm.py` ``_pq_model_ctes``) replays every
    step in DuckDB SQL, so the trained model itself is hash-gated."""
    dsub = _check_geometry(dim, m_sub, ksub)
    n_train = train_sample or max(64 * ksub, 1024)
    rows = (
        corpus.select(
            F.col(vec_col).alias("__v"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            F.col(id_col).alias("__id"),
        )
        .orderBy("__h", "__id")
        .limit(n_train)
        .collect()
    )
    if not rows:
        # empty training corpus: deterministic unit-basis codewords —
        # degrade to a searchable-but-trivial model, never np.stack crash
        B = np.zeros((m_sub, ksub, dsub), dtype="float64")
        B[:, np.arange(ksub), np.arange(ksub) % dsub] = 1.0
        return B
    X = _normalize_rows_np(np.stack([np.asarray(r["__v"], dtype="float64") for r in rows]))
    B = np.zeros((m_sub, ksub, dsub), dtype="float64")
    for s in range(m_sub):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        k_eff = min(ksub, len(Xs))
        C = Xs[:k_eff].copy()
        if k_eff < ksub:  # tiny sample: pad deterministically
            pad = np.zeros((ksub - k_eff, dsub))
            pad[np.arange(ksub - k_eff), np.arange(ksub - k_eff) % dsub] = 1.0
            C = np.vstack([C, pad])
        Q = np.floor(Xs * _MEAN_SCALE).astype("int64")
        for _ in range(train_iters):
            assign = np.argmin(_dist_int_np(Xs, C), axis=1)  # ties -> lowest j
            M = C.copy()
            for j in range(ksub):
                members = Q[assign == j]
                if len(members):
                    M[j] = members.sum(axis=0).astype("float64") / (
                        float(len(members)) * _MEAN_SCALE
                    )
            C = M
        B[s] = C
    return B


def codebooks_to_df(spark: SparkSession, B: np.ndarray) -> DataFrame:
    """Persistable codebook table (``PQ_CODEBOOK_SCHEMA``) — the PQ
    model artifact of the train-once/encode-forever contract."""
    rows = [
        (int(s), int(j), [float(x) for x in B[s, j]])
        for s in range(B.shape[0])
        for j in range(B.shape[1])
    ]
    return spark.createDataFrame(rows, PQ_CODEBOOK_SCHEMA)


def codebooks_from_df(cdf: DataFrame) -> np.ndarray:
    """Rebuild the (m_sub, ksub, dsub) matrix from a codebook table
    (collect is m_sub·ksub rows — model-sized)."""
    rows = cdf.select("s", "j", "c").collect()
    m_sub = max(r["s"] for r in rows) + 1
    ksub = max(r["j"] for r in rows) + 1
    dsub = len(rows[0]["c"])
    B = np.zeros((m_sub, ksub, dsub), dtype="float64")
    for r in rows:
        B[r["s"], r["j"]] = np.asarray(r["c"], dtype="float64")
    return B


def _as_codebook_matrix(codebooks) -> np.ndarray:
    if isinstance(codebooks, DataFrame):
        return codebooks_from_df(codebooks)
    return np.asarray(codebooks, dtype="float64")


def pq_encode_udf(B: np.ndarray):
    """Arrow-batched PQ encoder: each vector (unit-normalized) →
    ``array<int>`` of its per-subspace nearest-codeword ids under the
    exact-integer L2 surrogate. Pure per-row function of the frozen
    codebooks — map-only, reproducible in SQL."""
    m_sub, ksub, dsub = B.shape

    @F.pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        M = _normalize_rows_np(np.stack(v.values).astype("float64"))  # (batch, dim)
        out = np.empty((len(M), m_sub), dtype="int32")
        for s in range(m_sub):
            Xs = M[:, s * dsub : (s + 1) * dsub]
            out[:, s] = np.argmin(_dist_int_np(Xs, B[s]), axis=1).astype("int32")
        return pd.Series(list(out))

    return codes


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode an embedding batch under FROZEN codebooks — the map-only
    incremental step of the PQ store (append forever, no retraining,
    no shuffle). Zero-fixed-point-norm / corrupt vectors are dropped
    at the boundary for the same reasons as the IVF store (no
    direction; engine-divergent 0/0 cosine)."""
    B = _as_codebook_matrix(codebooks)
    embeddings = drop_corrupt_vectors(embeddings, vec_col, dim, drop_zero_norm=True)
    return embeddings.select(F.col(id_col), pq_encode_udf(B)(F.col(vec_col)).alias("codes"))


def _adc_table_udf(B: np.ndarray):
    """Arrow-batched query side of ADC search: each query vector
    (unit-normalized) → its flattened ``m_sub·ksub`` lookup table,
    entry ``s·ksub + j`` holding the integer fixed-point inner product
    of query subvector ``s`` with codeword ``(s, j)`` (``_dot14_np``,
    the twin of the oracle's ``doti``). One row per query —
    ``n_query · m_sub · ksub · 8`` bytes in all, the broadcast side of
    the search."""
    m_sub, ksub, dsub = B.shape

    @F.pandas_udf("array<bigint>")
    def table(v: pd.Series) -> pd.Series:
        M = _normalize_rows_np(np.stack(v.values).astype("float64"))
        out = np.concatenate(
            [_dot14_np(M[:, s * dsub : (s + 1) * dsub], B[s]) for s in range(m_sub)],
            axis=1,
        )
        return pd.Series(list(out))

    return table


def _adc_topk(
    pairs: DataFrame, m_sub: int, ksub: int, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Scores (query, candidate) pairs that carry the query's table
    ``__dt`` and the candidate's ``codes``, then keeps the per-query
    top-k. The ADC score is one unrolled, code-generated sum of
    ``m_sub`` table lookups; a ``sequence``/``aggregate`` lambda over
    the subspaces is interpreted and measured ~2× slower. Ranking
    compares the integer sums (engine-exact).

    A malformed code row — NULL, not exactly ``m_sub`` entries, or an
    entry outside ``[0, ksub)`` — scores NULL and is dropped: the guard
    uses only functions that cannot raise (``size``, ``array_min``,
    ``array_max``), and the lookups run only in the CASE branch it
    admits, so ANSI mode on or off gives the same rows. A NULL entry
    in a well-sized array makes its lookup, and so the sum, NULL. The
    NULL filter sits after the window (NULLs rank last there), so the
    optimizer cannot push a second copy of the sum below the join."""
    lookups = " + ".join(f"__dt[{s * ksub} + codes[{s}]]" for s in range(m_sub))
    adc = (
        f"CASE WHEN size(codes) = {m_sub} AND array_min(codes) >= 0 "
        f"AND array_max(codes) < {ksub} THEN {lookups} END"
    )
    scored = pairs.select(query_id_col, id_col, F.expr(adc).alias("__adc_int"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__adc_int").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter((F.col("rank") <= k) & F.col("__adc_int").isNotNull())
        .select(
            query_id_col,
            id_col,
            (F.col("__adc_int").cast("double") / F.lit(_DOT_SCALE)).alias("adc_dot"),
            "rank",
        )
    )


def pq_search_adc(
    codes: DataFrame,
    codebooks,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ code store: each query
    scores against the codebooks once (its lookup table, broadcast),
    then every stored code is ranked by the SUM of its ``m_sub`` table
    lookups — the corpus is scanned as codes only, never as raw
    vectors.

    Plan shape: the code store broadcast-nested-loop-joins the query
    tables (every code against every query but itself), one generated
    projection sums the lookups, then the per-query top-k window — the
    only exchange. ``adc_dot`` is the rescaled approximate inner
    product (≈ cosine, both sides unit-normalized).

    Malformed codes are dropped, with ANSI mode on or off: a code row
    whose array is NULL, is not exactly ``m_sub`` long, or holds an
    entry outside ``[0, ksub)`` (or NULL) is never scored."""
    B = _as_codebook_matrix(codebooks)
    m_sub, ksub, _ = B.shape
    q = drop_corrupt_vectors(queries, vec_col, dim, drop_zero_norm=True)
    tables = q.select(
        F.col(query_id_col), _adc_table_udf(B)(F.col(vec_col)).alias("__dt")
    )
    pairs = ensure_parallelism(codes).join(
        F.broadcast(tables), F.col(query_id_col) != F.col(id_col)
    )
    return _adc_topk(pairs, m_sub, ksub, k, query_id_col, id_col)


def pq_index(
    corpus: DataFrame,
    dim: int,
    m_sub: int = 8,
    ksub: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build a persistable PQ index: ``(codebooks, codes)`` — write
    both to parquet, then encode each new batch with
    :func:`pq_encode` (map-only) and append. Search any union of code
    stores with :func:`pq_search_adc`."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim)
    B = pq_train_codebooks_exact(
        corpus, dim, m_sub=m_sub, ksub=ksub, train_iters=train_iters,
        id_col=id_col, vec_col=vec_col, train_sample=train_sample,
    )
    return (
        codebooks_to_df(corpus.sparkSession, B),
        pq_encode(corpus, B, dim, id_col=id_col, vec_col=vec_col),
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    m_sub: int = 8,
    ksub: int = 16,
    train_iters: int = 2,
    train_sample: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """One-shot PQ-ADC approximate cosine top-k (train + encode +
    search); the composable pieces are :func:`pq_index` /
    :func:`pq_encode` / :func:`pq_search_adc`."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim)
    B = pq_train_codebooks_exact(
        corpus, dim, m_sub=m_sub, ksub=ksub, train_iters=train_iters,
        id_col=id_col, vec_col=vec_col, train_sample=train_sample,
    )
    codes = pq_encode(corpus, B, dim, id_col=id_col, vec_col=vec_col)
    return pq_search_adc(
        codes, B, queries, dim, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )


# --------------------------------------------------------------------------
# IVFPQ: IVF cell pruning × PQ code compression (FAISS IndexIVFPQ)
# --------------------------------------------------------------------------


def ivfpq_add(
    embeddings: DataFrame,
    centroids,
    codebooks,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign + encode a (new) embedding batch under a FROZEN
    quantizer pair — ONE map-only pass producing the IVFPQ store row
    ``(id, cell, codes)``: the coarse cell for candidate pruning, the
    PQ code for ADC scoring. No raw vector is stored at all — the
    searchable footprint of a 100 TB float corpus is cells + codes
    (a few bytes per vector). Append forever; at scale write the
    store ``partitionBy("cell")``."""
    C = _as_centroid_matrix(centroids)
    B = _as_codebook_matrix(codebooks)
    emb = drop_corrupt_vectors(embeddings, vec_col, dim, drop_zero_norm=True)
    assign1 = ivf_cells_udf(C, 1)
    enc = pq_encode_udf(B)
    return emb.select(
        F.col(id_col),
        assign1(F.col(vec_col)).getItem(0).alias("cell"),
        enc(F.col(vec_col)).alias("codes"),
    )


def ivfpq_index(
    corpus: DataFrame,
    dim: int,
    nlist: int = 8,
    m_sub: int = 8,
    ksub: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build a persistable IVFPQ index: ``(centroids, codebooks,
    store)``. Both models train on the same bounded md5-ordered
    sample discipline (each a driver-side exact Lloyd; see
    ``ivf_train_centroids`` / :func:`pq_train_codebooks_exact`),
    then one map-only pass assigns + encodes every vector."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim)
    C = ivf_train_centroids(
        corpus, dim, nlist=nlist, train_iters=train_iters,
        id_col=id_col, vec_col=vec_col, train_sample=train_sample,
    )
    B = pq_train_codebooks_exact(
        corpus, dim, m_sub=m_sub, ksub=ksub, train_iters=train_iters,
        id_col=id_col, vec_col=vec_col, train_sample=train_sample,
    )
    store = ivfpq_add(corpus, C, B, dim, id_col=id_col, vec_col=vec_col)
    return centroids_to_df(corpus.sparkSession, C), codebooks_to_df(
        corpus.sparkSession, B
    ), store


def ivfpq_search(
    store: DataFrame,
    centroids,
    codebooks,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    prune_cells: bool = False,
) -> DataFrame:
    """ADC top-k over an IVFPQ store: queries probe their ``nprobe``
    closest cells (bounding candidates exactly like
    ``ivf_search``), then ONLY the candidates' codes are scored by
    lookup-table sums — the two FAISS levers composed, never an
    exhaustive scan and never a raw-vector read.

    Plan: broadcast (query, cell) probe pairs equi-join the store on
    ``cell`` (statically partition-pruned under ``prune_cells=True``
    on a cell-partitioned store), each candidate picks up its query's
    lookup table from a second broadcast keyed by ``query_id`` (one
    table per query, not per probed cell), one generated projection
    sums the lookups, and the per-query top-k window is the only
    exchange.

    Malformed codes are dropped, with ANSI mode on or off: a store row
    whose ``codes`` is NULL, is not exactly ``m_sub`` long, or holds an
    entry outside ``[0, ksub)`` (or NULL) is never scored."""
    C = _as_centroid_matrix(centroids)
    B = _as_codebook_matrix(codebooks)
    m_sub, ksub, _ = B.shape
    q = drop_corrupt_vectors(queries, vec_col, dim, drop_zero_norm=True)
    probe = ivf_cells_udf(C, nprobe)
    qcells = q.select(
        F.col(query_id_col), F.explode(probe(F.col(vec_col))).alias("cell")
    )
    if prune_cells:
        store = _prune_to_probed_cells(store, qcells)
    tables = q.select(
        F.col(query_id_col), _adc_table_udf(B)(F.col(vec_col)).alias("__dt")
    )
    pairs = (
        ensure_parallelism(store)
        .join(F.broadcast(qcells), "cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .join(F.broadcast(tables), query_id_col)
    )
    return _adc_topk(pairs, m_sub, ksub, k, query_id_col, id_col)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nlist: int = 8,
    nprobe: int = 3,
    m_sub: int = 8,
    ksub: int = 16,
    train_iters: int = 2,
    train_sample: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """One-shot IVFPQ approximate cosine top-k (train both models +
    assign/encode + pruned ADC search); the composable pieces are
    :func:`ivfpq_index` / :func:`ivfpq_add` / :func:`ivfpq_search`."""
    centroids, codebooks, store = ivfpq_index(
        corpus, dim, nlist=nlist, m_sub=m_sub, ksub=ksub,
        train_iters=train_iters, id_col=id_col, vec_col=vec_col,
        train_sample=train_sample,
    )
    return ivfpq_search(
        store, centroids, codebooks, queries, dim, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )
