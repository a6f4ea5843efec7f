"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set, score every corpus vector, rank-filter per query — one scan
of the corpus, zero shuffle of the corpus rows before the final top-k.

Two scale paths prune the corpus so each query only scores a candidate
subset: :func:`cosine_topk_lsh` (md5-Rademacher sign buckets, stateless)
and :func:`cosine_topk_ivf` (IVF-Flat: a trained coarse quantizer of
``nlist`` centroids; queries probe the ``nprobe`` nearest cells).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.operators.partitioning import ensure_parallelism


#: fixed-point scale for exact dot products: products are quantized to
#: 14 decimals as longs, so sums are exact integer arithmetic in any
#: order, overflow-free for |element| ≲ 3 at dim ≤ ~10k, and fast
#: (primitive long codegen — a DECIMAL fold costs ~10× more via
#: BigDecimal objects)
_DOT_SCALE = 1e14


#: the per-element fixed-point product and the integer fold of
#: ``_dot_decimal``, as SQL lambdas
_PROD_SQL = f"(x, y) -> floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * {_DOT_SCALE!r}D)"
_FOLD_SQL = "(acc, v) -> acc + v"


def _dot_sql(a: str, b: str) -> str:
    """SQL of :func:`_dot_decimal` over two array expressions."""
    prods = f"zip_with({a}, {b}, {_PROD_SQL})"
    return f"CAST(aggregate({prods}, 0L, {_FOLD_SQL}) AS DOUBLE) / {_DOT_SCALE!r}D"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _dot_decimal(a: str, b: str) -> Column:
    """Exact, order-independent dot product of two array columns
    (given by name): per-element double product (IEEE-deterministic),
    quantized via floor(p·1e14) to a long, summed as integers, rescaled
    once. A DuckDB oracle doing literally the same (FLOOR to BIGINT,
    list_sum, /1e14) matches bit-for-bit — floor is used because
    CAST(double AS BIGINT) truncates in Spark but rounds in DuckDB.
    Built as one parsed SQL string: a Column builder with Python
    lambdas costs dozens of py4j round-trips per call."""
    return F.expr(_dot_sql(_quote(a), _quote(b)))


def _norm(v: str) -> Column:
    q = _quote(v)
    return F.expr(f"sqrt({_dot_sql(q, q)})")


def cosine_similarity(a: Column, b: Column) -> Column:
    """Exact fixed-point cosine of two vector columns (decimal dot /
    norms) — bit-identical across engines, see ``_dot_decimal``."""

    def dot(x: Column, y: Column) -> Column:
        prods = F.call_function("zip_with", x, y, F.expr(_PROD_SQL))
        total = F.call_function("aggregate", prods, F.expr("0L"), F.expr(_FOLD_SQL))
        return total.cast("double") / F.expr(f"{_DOT_SCALE!r}D")

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def drop_corrupt_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    drop_zero_norm: bool = False,
) -> DataFrame:
    """Drop NULL (and, when ``dim`` is known, wrong-dimension) embedding
    rows at the operator boundary. Corrupt vectors are a fact of large
    corpora — failed encoders, schema drift — and a SINGLE one crashes
    every Arrow-batched numpy stage (``np.stack`` / matmul shape
    mismatch aborts the whole job; r6 degenerate tests). They carry no
    usable geometry, so dropping is the only sane semantic.

    ``drop_zero_norm=True`` additionally drops vectors whose
    FIXED-POINT norm is 0 (every ``|element| < 1e-7``): they have no
    direction at the engine's resolution, and their 0/0 cosine is
    engine-divergent by IEEE/SQL design — Spark's double 0/0 is NULL
    (sorts last in a DESC rank, silently occupying top-k slots) while
    DuckDB's is NaN (compares greater than every real score). Every
    cosine-ranking operator in this module enables it, and every SQL
    oracle carries the matching ``doti(v,v) > 0`` predicate (r8,
    uniform completion of the r7 ADVICE semantic-dedup finding). It
    also drops vectors that cannot be scored exactly: a NaN or
    infinite element, or a fixed-point squared norm that does not fit
    in a long (it would raise ``ARITHMETIC_OVERFLOW`` under ANSI, or
    wrap without it). The norm that screens them is NULL for such a
    vector and raises on none, so the filter does not depend on the
    order in which its conjuncts are evaluated."""
    cond = F.col(vec_col).isNotNull()
    if dim is not None:
        cond = cond & (F.size(vec_col) == dim)
    if drop_zero_norm:
        # a product at or past 2^63 (NaN and inf included: neither
        # compares below it) and a partial sum past Long.MAX both
        # turn the fold NULL
        p = f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {_DOT_SCALE!r}D"
        fits = f"CASE WHEN {p} < {2.0**63!r}D THEN floor({p}) END"
        norm = f"aggregate({_quote(vec_col)}, 0L, (acc, x) -> try_add(acc, {fits}))"
        cond = cond & (F.expr(norm) > 0)
    return df.filter(cond)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is broadcast (bounded side); the corpus is scanned once
    with map-side scoring, then a single shuffle for the per-query
    rank-filter. Excludes self-matches when ids collide. NULL vectors
    are dropped (plus wrong-dimension rows when ``dim`` is given; even
    without it, a mismatched-length JVM dot yields NULL cos_sim, which
    sorts after every real score — corrupt rows cannot crash the scan
    or displace real neighbors). Zero-fixed-point-norm vectors are
    excluded on both sides (see :func:`drop_corrupt_vectors` — their
    NULL cosine would otherwise occupy trailing rank slots, and the
    SQL-oracle twin would rank their NaN FIRST)."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim, drop_zero_norm=True)
    queries = drop_corrupt_vectors(queries, vec_col, dim, drop_zero_norm=True)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(vec_col).alias("__qn"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col).alias("__cvec"), _norm(vec_col).alias("__cn")
    )
    scored = c.join(F.broadcast(q), F.col(query_id_col) != F.col(id_col)).select(
        query_id_col,
        id_col,
        (
            _dot_decimal("__qvec", "__cvec") / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def embedding_dedup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    cosine ≥ ``threshold``.

    ``block_col`` bounds the join (pairs are only formed within a
    block — a cluster id, LSH bucket, or shard key); without it this is
    a full self-join and only safe on small corpora. The 100 TB recipe:
    ``lsh_bucket`` as the block column, then this as the exact verify
    stage — same candidate/verify split as MinHash + Jaccard.

    Join strategy is deliberately left to AQE — the opposite of the
    banding self-joins in ``llm.dedup``, which force a shuffle join:
    there the payload is 3 small columns and the upstream (shingle →
    md5 signature) is expensive, so a broadcast's double subtree
    execution dominates; here the payload is the full vector and the
    upstream just a norm, so shuffling vectors on both sides costs
    more than recomputing the norm (measured 1.5s vs 2.6s at ×10)."""
    # norms are computed ONCE per vector before the pair join — per-pair
    # cosine is then a single dot-product fold (3× fewer decimal folds).
    # Zero-fixed-point-norm vectors are excluded (drop_corrupt_vectors):
    # 0/0 is NULL-vs-NaN engine-divergent.
    corpus = drop_corrupt_vectors(corpus, vec_col, drop_zero_norm=True)
    normed = ensure_parallelism(corpus).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(vec_col).alias("__n"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )
    a = normed.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"),
        *([F.col("__blk")] if block_col else []),
    )
    b = normed.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
        *([F.col("__blk")] if block_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    joined = a.join(b, ["__blk"]).filter(cond) if block_col else a.join(b, cond)
    return (
        joined.select(
            "id_a",
            "id_b",
            (
                _dot_decimal("__va", "__vb")
                / (F.col("__na") * F.col("__nb"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


#: fixed-point scale for Rademacher sign-projection bits: vectors are
#: quantized once (floor(x·1e7), an integer) so every plane dot is exact
#: integer arithmetic — bit-identical in Spark, DuckDB, or plain Python
_SIGN_SCALE = 1e7


def rademacher_signs(
    dim: int, n_planes: int = 8, n_tables: int = 4, salt: str = "lsh"
) -> list[list[list[int]]]:
    """±1 hyperplane components from md5 parity — the ENGINE-PORTABLE
    plane family: component (t, p, d) is +1 iff the first 8 hex chars
    of ``md5("{salt}:{t}:{p}:{d}")`` are odd. Sign-random-projection
    with Rademacher entries is the classic SimHash family for angular
    similarity (Charikar '02); any engine with md5 can regenerate the
    planes — no stored model, no RNG-implementation dependence."""
    import hashlib

    return [
        [
            [
                1
                if int(hashlib.md5(f"{salt}:{t}:{p}:{d}".encode()).hexdigest()[:8], 16) % 2
                else -1
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def lsh_buckets_udf(dim: int, n_planes: int = 8, n_tables: int = 8):
    """Per-table LSH bucket ids (array<long>, one per table) in one
    Arrow-batched pass: quantize each vector to ``floor(x·1e7)``, one
    matmul with the :func:`rademacher_signs` planes, plane bit p =
    ``dot > 0`` weighted ``1 << p``, summed per table. Every step is
    exact integer arithmetic, so a SQL oracle doing the same FLOOR, ±1
    sums and bit sums matches bit-for-bit. The same buckets as
    interpreted SQL lambdas (n_tables·n_planes array folds per row)
    measured ~3× slower (``bench_history/README.md``)."""
    S = np.asarray(rademacher_signs(dim, n_planes, n_tables), dtype="float64")
    S = S.reshape(n_tables * n_planes, dim).T         # (dim, tables*planes)
    weights = (1 << np.arange(n_planes)).astype("int64")

    @F.pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        # integer-valued doubles: while dim·max|floor(x·1e7)| < 2^53
        # (|x| < 9e8/dim, far past _DOT_SCALE's overflow-free range)
        # every ±1 product and partial sum is an exact integer, so the
        # BLAS matmul equals int64 arithmetic in any summation order
        Q = np.floor(np.stack(v.values).astype("float64") * _SIGN_SCALE)
        bits = ((Q @ S) > 0).reshape(len(Q), n_tables, n_planes)
        return pd.Series(list(bits @ weights))          # (batch, tables)

    return buckets


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors sharing an LSH bucket with
    the query (in ANY of ``n_tables`` independent tables — the standard
    OR-construction; recall ≈ 1-(1-p^planes)^tables) are scored.

    At 100 TB this turns a full-corpus scan per query into a bucket
    equi-join: candidates ≈ n_tables · corpus/2^n_planes per query —
    tune the two knobs against the recall target.

    The planes are md5-Rademacher (:func:`rademacher_signs`) and the
    buckets exact integer sign bits (:func:`lsh_buckets_udf`), so every
    stage (bits, buckets, candidates, scores, ranks) is recomputable in
    any engine with md5 and the whole ANN pipeline is oracle-checked.

    Zero-fixed-point-norm vectors are excluded on both sides (see
    :func:`drop_corrupt_vectors`)."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim, drop_zero_norm=True)
    queries = drop_corrupt_vectors(queries, vec_col, dim, drop_zero_norm=True)
    bucketer = lsh_buckets_udf(dim, n_planes, n_tables)

    def with_buckets(df: DataFrame, idc: str, vec_alias: str, norm_alias: str) -> DataFrame:
        # posexplode: (table idx, bucket) pairs join only within a table
        return df.select(
            F.col(idc),
            F.col(vec_col).alias(vec_alias),
            _norm(vec_col).alias(norm_alias),
            F.posexplode(bucketer(F.col(vec_col))).alias("__t", "__b"),
        )

    cb = with_buckets(ensure_parallelism(corpus), id_col, "__cvec", "__cn")
    qb = with_buckets(queries, query_id_col, "__qvec", "__qn")
    candidates = (
        cb.join(F.broadcast(qb), ["__t", "__b"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(query_id_col, id_col, "__qvec", "__qn", "__cvec", "__cn")
        .dropDuplicates([query_id_col, id_col])  # don't score a pair per table
    )
    scored = candidates.select(
        query_id_col,
        id_col,
        (
            _dot_decimal("__qvec", "__cvec") / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )

#: fixed-point scale for exact centroid means (sum of floor(x·1e9)
#: per dimension as int64, one division) — order-independent, so the
#: trained model is identical in numpy and in a SQL replay
_MEAN_SCALE = 1e9


def _dot14_np(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Exact pairwise fixed-point dots, numpy twin of ``_dot_decimal``:
    floor((a·b)·1e14) per element as int64, integer sum over dims.
    Returns (len(A), len(B)) int64 — compare/argmax on the raw integers
    (rescaling is only needed when the value itself is reported)."""
    P = np.floor(A[:, None, :] * B[None, :, :] * _DOT_SCALE)
    return P.astype("int64").sum(axis=2)


def _normalize_rows_np(X: np.ndarray) -> np.ndarray:
    """Fixed-point unit normalization: ``x / sqrt(doti(x,x)/1e14)``.
    A row whose FIXED-POINT norm is 0 (every |element| below the 1e-7
    resolution) is divided by 1 instead — never NaN for any input
    magnitude, and the oracle replays the same ``CASE WHEN nrm = 0
    THEN 1`` guard, so it stays bit-portable to SQL."""
    sq = np.floor(X * X * _DOT_SCALE).astype("int64").sum(axis=1)
    norms = np.sqrt(sq.astype("float64") / _DOT_SCALE)
    norms[norms == 0.0] = 1.0
    return X / norms[:, None]


def _top_cells(M: np.ndarray, C: np.ndarray, n: int) -> np.ndarray:
    """The ``n`` cells whose centroid has the largest fixed-point dot
    with each row of ``M``, best first, ties to the lowest cell —
    exactly ``argsort(-_dot14_np(M, C), kind="stable")[:, :n]``, so the
    ranking is a pure function of the data that SQL replays.

    Ranked by the BLAS product ``M @ C.T``; a row keeps that order only
    when it provably equals the fixed-point order, and is otherwise
    re-ranked with ``_dot14_np`` in row blocks (bounded temporary)."""
    nlist, d = C.shape
    G = M @ C.T
    order = np.argsort(-G, axis=1, kind="stable")
    head = np.take_along_axis(G, order[:, : min(n + 1, nlist)], axis=1)
    # Per (row, cell), with S the _dot14_np integer, g the BLAS score,
    # u = 2^-53 and γ_d = d·u/(1−d·u):
    #   |g − S·1e-14| ≤ d·1e-14 + (γ_d + 2u + u²)·Σ|a_i c_i|
    # (d floors of < 1e-14 each; two roundings per fixed-point product;
    # γ_d for any BLAS summation order), and Σ|a_i c_i| ≤ ‖a‖·‖c‖.
    # Within _DOT_SCALE's overflow-free range an adjacent BLAS gap over
    # twice the bound orders the two S strictly, so a row whose top
    # min(n+1, nlist) gaps all clear it has the fixed-point top n in
    # BLAS order. The 1e-6 pad covers the float evaluation of the norms,
    # the bound and the gaps (and underflow, far below d·1e-14).
    u = 2.0**-53
    gamma = d * u / (1.0 - d * u)
    err = (d * 1e-14 + (gamma + 2 * u + u * u) * np.linalg.norm(M, axis=1)
           * np.linalg.norm(C, axis=1).max()) * (1.0 + 1e-6)
    ok = (head[:, :-1] - head[:, 1:] > 2.0 * err[:, None]).all(axis=1)
    top = order[:, :n]
    bad = np.flatnonzero(~ok)
    step = max(1, (1 << 22) // (nlist * d))
    for s in range(0, len(bad), step):
        rows = bad[s : s + step]
        top[rows] = np.argsort(-_dot14_np(M[rows], C), axis=1, kind="stable")[:, :n]
    return top


def _fallback_centroids(nlist: int, dim: int) -> "np.ndarray":
    """Deterministic unit-basis centroids for an EMPTY training corpus:
    an empty corpus is legitimate at scale (incremental run with no new
    embeddings) and must degrade to an empty ANN result — no corpus
    vectors means no cell members, so the candidate join is empty — not
    crash in ``np.stack`` (found by the r6 empty-input sweep)."""
    C = np.zeros((nlist, dim), dtype="float64")
    C[np.arange(nlist), np.arange(nlist) % dim] = 1.0
    return C


def ivf_train_centroids(
    corpus: DataFrame,
    dim: int,
    nlist: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> np.ndarray:
    """Train an IVF coarse quantizer with ``train_iters`` Lloyd steps
    over a bounded, deterministically-sampled training set, every step
    in exact integer arithmetic that a SQL engine replays bit-for-bit.

    The FAISS-style scale contract: k-means never sees the full corpus.
    The training set is the ``train_sample`` (default
    ``max(64·nlist, 1024)``) corpus rows with the smallest ``md5(id)``
    hex (lexicographic — identical in any engine), a pure function of
    the ids that needs no stored state and flows through
    ``TakeOrderedAndProject`` (per-partition top-N, no full shuffle; at
    100 TB the driver receives the sample, never the corpus). Lloyd
    then runs on the driver in numpy, one Spark job total:

    - init: the first ``nlist`` sampled vectors, normalized by the
      fixed-point norm ``sqrt(dot14(x, x))``;
    - assign: largest integer dot14 score, ties to the lowest cell
      (:func:`_top_cells`);
    - means: per-dim sums of ``floor(x·1e9)`` as int64, one division
      ``sum / (n·1e9)`` — order-independent, so partitioning and SQL
      aggregation order can't perturb the model;
    - renormalize by the fixed-point norm; empty cells keep their
      previous centroid.

    The suite oracle replays all of this (sample, both Lloyd steps,
    assignment, probing, scoring) in DuckDB SQL — the trained model is
    cross-checked, not just the search."""
    n_train = train_sample or max(64 * nlist, 1024)
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
        return _fallback_centroids(nlist, dim)
    X = np.stack([np.asarray(r["__v"], dtype="float64") for r in rows])
    C = _normalize_rows_np(X[:nlist])
    Q = np.floor(X * _MEAN_SCALE).astype("int64")
    for _ in range(train_iters):
        assign = _top_cells(X, C, 1)[:, 0]
        M = C.copy()
        for j in range(nlist):
            members = Q[assign == j]
            if len(members):
                M[j] = members.sum(axis=0).astype("float64") / (
                    float(len(members)) * _MEAN_SCALE
                )
        C = _normalize_rows_np(M)
    return C


def ivf_cells_udf(centroids: np.ndarray, nprobe: int):
    """Arrow-batched coarse quantizer: for each vector, the ``nprobe``
    cells with the largest exact integer dot product against the
    (broadcast-in-closure) centroid matrix, best first, ties to the
    lowest cell (:func:`_top_cells`). Vector norm is constant across
    cells, so dot order is cosine order for unit-norm centroids."""

    @F.pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        M = np.stack(v.values).astype("float64")
        return pd.Series(list(_top_cells(M, centroids, nprobe).astype("int32")))

    return cells


IVF_CENTROID_SCHEMA = "cell int, centroid array<double>"


def centroids_to_df(spark, C: "np.ndarray") -> DataFrame:
    """The trained coarse quantizer as a (tiny: nlist rows) DataFrame —
    the persistable half of an IVF index. Write it next to the
    assigned-vectors store; :func:`centroids_from_df` reads it back."""
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        IVF_CENTROID_SCHEMA,
    )


def centroids_from_df(cdf: DataFrame) -> "np.ndarray":
    """Inverse of :func:`centroids_to_df`. The collect is bounded by
    nlist (a model hyperparameter, not data size)."""
    return np.array(
        [r.centroid for r in cdf.orderBy("cell").collect()], dtype="float64"
    )


def _as_centroid_matrix(centroids) -> "np.ndarray":
    return centroids_from_df(centroids) if isinstance(centroids, DataFrame) else centroids


def ivf_index(
    corpus: DataFrame,
    dim: int,
    nlist: int = 16,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build a PERSISTABLE IVF index: returns ``(centroids, assigned)``
    where ``centroids`` is the nlist-row quantizer
    (:data:`IVF_CENTROID_SCHEMA`) and ``assigned`` is the vector store
    ``(id, vec, norm, cell)`` — one row per corpus vector, cell
    assignment frozen under the trained quantizer.

    The incremental-100 TB recipe (FAISS's train-once/add-forever
    contract, re-expressed as DataFrames): write both outputs to
    parquet — ``assigned`` partitioned or bucketed by ``cell`` so a
    search's cell equi-join prunes to the probed cells — then index
    each new embedding batch with :func:`ivf_add` (map-only, no
    retraining, no touch of the existing store) and append. Search
    any union of stores with :func:`ivf_search`."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim)
    C = ivf_train_centroids(
        corpus, dim, nlist=nlist, train_iters=train_iters,
        id_col=id_col, vec_col=vec_col, train_sample=train_sample,
    )
    return centroids_to_df(corpus.sparkSession, C), ivf_add(
        corpus, C, dim, id_col=id_col, vec_col=vec_col, _pre_validated=True,
    )


def ivf_add(
    embeddings: DataFrame,
    centroids,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _pre_validated: bool = False,
) -> DataFrame:
    """Assign a (new) embedding batch to the FROZEN quantizer — the
    map-only incremental step: no shuffle, no retraining, the existing
    store untouched. ``centroids`` is the DataFrame from
    :func:`ivf_index`/parquet or the raw matrix. Append the result to
    the assigned store."""
    if not _pre_validated:
        embeddings = drop_corrupt_vectors(embeddings, vec_col, dim)
    C = _as_centroid_matrix(centroids)
    assign1 = ivf_cells_udf(C, 1)
    # zero-fixed-point-norm vectors never enter the store: they have
    # no direction to search by, and their 0/0 cosine is
    # engine-divergent (see drop_corrupt_vectors). Mirrored by the
    # oracle's corpuscell predicate. Still map-only — a filter adds no
    # exchange.
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        _norm(vec_col).alias("norm"),
        assign1(F.col(vec_col)).getItem(0).alias("cell"),
    ).filter(F.col("norm") > 0)


def _prune_to_probed_cells(store: DataFrame, probes: DataFrame) -> DataFrame:
    """``store`` kept to the cells ``probes`` names in its ``cell``
    column, as a literal ``IN`` filter that a store written
    ``partitionBy("cell")`` prunes statically at the scan — the
    ``prune_cells=True`` path of :func:`ivf_search` and
    ``pq.ivfpq_search``.

    The collect returns ≤ nlist values (a model hyperparameter) no
    matter how many queries there are. It executes the query subtree +
    probe UDF once here and the search's join executes it once more —
    two passes over the side the search already assumes is the small
    (broadcast) one. Deliberately NOT pinned: a localCheckpoint would
    hold storage blocks for the life of the app across repeated calls
    (the incremental search-in-a-loop pattern this API encourages)
    with nothing to unpersist them, and unpersisting a
    localCheckpoint's RDD is unsafe (it truncates lineage, so the join
    could no longer recompute it)."""
    probed = sorted(r.cell for r in probes.select("cell").distinct().collect())
    if not probed:
        # every query dropped by the corrupt/zero-norm screen:
        # short-circuit the store scan instead of the fragile isin([])
        # edge — same empty result, no store read
        return store.where(F.lit(False))
    return store.where(F.col("cell").isin(probed))


def ivf_search(
    assigned: DataFrame,
    centroids,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    prune_cells: bool = False,
) -> DataFrame:
    """Top-k cosine search over an assigned IVF store (from
    :func:`ivf_index`/:func:`ivf_add`, possibly read back from
    parquet): queries probe their ``nprobe`` closest cells, the cell
    equi-join against the (broadcast) query side is the only wide
    operation, then a per-query top-k window.

    ``prune_cells=True`` pre-computes the probed cell SET (one extra
    map-only pass over the queries; the collect is bounded by nlist —
    a model hyperparameter — no matter how many queries there are) and
    applies it as a literal ``IN`` filter, so a store written
    ``partitionBy("cell")`` is STATICALLY partition-pruned at the scan.
    The default leaves it to dynamic partition pruning, whose cost
    heuristic may decline on small stores (observed: the DPP
    subquery collapses to ``true`` at test scale) — turn this on
    whenever the probed fraction ``nprobe/nlist`` is small and the
    store is partitioned."""
    queries = drop_corrupt_vectors(queries, vec_col, dim)
    C = _as_centroid_matrix(centroids)
    probe = ivf_cells_udf(C, nprobe)
    # __qn > 0: a zero-fixed-point-norm query has no direction — its
    # NULL cosines would fill the top-k with arbitrary ids (and the
    # oracle's NaN would rank them first); mirrored by the probe CTE
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(vec_col).alias("__qn"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    ).filter(F.col("__qn") > 0)
    if prune_cells:
        assigned = _prune_to_probed_cells(assigned, qb)
    scored = (
        assigned.join(F.broadcast(qb), "cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            (
                _dot_decimal("__qvec", "vec")
                / (F.col("__qn") * F.col("norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    train_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train_sample: int | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: corpus vectors live in exactly one
    of ``nlist`` cells; each query scores only the vectors in its
    ``nprobe`` closest cells (recall rises with nprobe, work falls with
    nlist — candidates ≈ corpus · nprobe / nlist).

    Versus LSH: one candidate row per (query, corpus) pair by
    construction (a corpus vector has ONE cell), so no dedup shuffle;
    the cell equi-join is the only wide operation before the top-k
    window. The trained model concentrates candidates where density
    is, which beats data-oblivious hyperplanes on clustered corpora.

    Every stage, training included, is exact integer arithmetic that
    SQL replays bit-for-bit.

    This is the one-shot composition of the incremental primitives:
    train (:func:`ivf_train_centroids`) → assign
    (:func:`ivf_add`) → probe (:func:`ivf_search`) — batch and
    incremental paths share the assignment and search code, so an
    index built once and grown with :func:`ivf_add` returns exactly
    what this returns over the same vectors."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim)
    C = ivf_train_centroids(
        corpus, dim, nlist=nlist, train_iters=train_iters,
        id_col=id_col, vec_col=vec_col, train_sample=train_sample,
    )
    assigned = ivf_add(
        ensure_parallelism(corpus), C, dim,
        id_col=id_col, vec_col=vec_col, _pre_validated=True,
    )
    return ivf_search(
        assigned, C, queries, dim, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def embedding_centroids(
    df: DataFrame,
    key_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroids as LONG-FORM rows (key, d,
    centroid, n_vectors) — one row per (group, dimension), mean over
    the group's vectors in that dimension.

    Determinism: each component is quantized once (floor(x·1e9) as
    int64) and summed as integers — order-independent, so partitioning
    cannot perturb the result and a SQL engine replays it bit-for-bit;
    the single double division at the end is correctly-rounded IEEE in
    any engine.

    Scale: posexplode → one hash aggregation on (key, dim) with
    map-side partial combine; long-form output avoids re-assembling
    arrays (callers needing array centroids can ``collect_list`` over
    d themselves). The shuffle carries (key, dim, int64 partial sums) —
    never the vectors."""
    ex = df.select(
        F.col(key_col), F.posexplode(F.col(vec_col)).alias("d", "__x")
    ).select(
        key_col,
        "d",
        F.floor(F.col("__x").cast("double") * F.lit(_MEAN_SCALE)).cast("long").alias("__q"),
    )
    return ex.groupBy(key_col, "d").agg(
        (
            F.sum("__q").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(_MEAN_SCALE))
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def quantize_embeddings(
    df: DataFrame,
    embedding_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Symmetric per-vector int8-style quantization: each component
    maps to ``floor(x / max_abs * levels)`` clamped to
    [-levels, levels], with the per-vector ``scale = max_abs / levels``
    kept alongside for dequantization (x ≈ q * scale). An all-zero
    vector quantizes to zeros with scale 0.

    The training-data use case: embedding columns at 100 TB are mostly
    storage — int8 + one double per vector is a ~4× shrink ahead of a
    parquet sink, and the ANN operators in this module accept the
    dequantized form.

    Scale/portability: abs/max/divide/multiply/floor are all
    correctly-rounded IEEE ops, so the quantized vectors are bit-equal
    on any engine (the DuckDB oracle replays them exactly) — map-only
    expressions, no shuffle, no Python."""
    e = F.col(embedding_col)
    max_abs = F.array_max(F.transform(e, lambda x: F.abs(x.cast("double"))))
    q = F.when(max_abs == 0.0, F.transform(e, lambda x: F.lit(0))).otherwise(
        F.transform(
            e,
            lambda x: F.greatest(
                F.lit(-levels),
                F.least(
                    F.lit(levels),
                    F.floor(x.cast("double") / max_abs * F.lit(float(levels))).cast("int"),
                ),
            ),
        )
    )
    return df.withColumn("q_embedding", q).withColumn(
        "q_scale", (max_abs / F.lit(float(levels))).alias("q_scale")
    )


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    levels: int = 127,
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the
    search half of :func:`quantize_embeddings`: both sides quantize
    map-only (bit-exact IEEE ops), and scoring needs no floats at all
    until the final cosine — the dot and both squared norms are pure
    int64 sums over int8 codes, and the per-vector scale factors
    CANCEL in the cosine ratio, so the quantized ranking is a pure
    function of the codes. At 100 TB this is the cheap lever: a 4×
    smaller scan (int8 + one double per vector) with near-lossless
    cosine ranking, no trained model, no extra shuffle vs the float
    brute force (broadcast query side, one top-k exchange).

    Excludes zero-quantized vectors on both sides (an all-zero code
    has no direction; its 0/0 cosine is engine-divergent — the same
    contract as the float surface)."""
    qc = quantize_embeddings(
        drop_corrupt_vectors(corpus, vec_col, dim), vec_col, levels=levels
    ).select(F.col(id_col), F.col("q_embedding").alias("__cq"))
    qq = quantize_embeddings(
        drop_corrupt_vectors(queries, vec_col, dim), vec_col, levels=levels
    ).select(F.col(query_id_col), F.col("q_embedding").alias("__qq"))

    def doti8(a: Column, b: Column) -> Column:
        prods = F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long"))
        return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)

    qc = qc.withColumn("__cn2", doti8(F.col("__cq"), F.col("__cq"))).filter(
        F.col("__cn2") > 0
    )
    qq = qq.withColumn("__qn2", doti8(F.col("__qq"), F.col("__qq"))).filter(
        F.col("__qn2") > 0
    )
    scored = (
        ensure_parallelism(qc)
        .join(F.broadcast(qq), F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col,
            id_col,
            (
                doti8(F.col("__qq"), F.col("__cq")).cast("double")
                / (
                    F.sqrt(F.col("__qn2").cast("double"))
                    * F.sqrt(F.col("__cn2").cast("double"))
                )
            ).alias("cos_sim_q"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim_q").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    nlist: int = 64,
    train_iters: int = 2,
    train_sample: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the IVF coarse
    quantizer, then compare embeddings PAIRWISE ONLY WITHIN a cluster
    and keep pairs with cosine ≥ ``threshold``. Same
    train-once/assign-map-only machinery as the ANN index
    (:func:`ivf_train_centroids` / :func:`ivf_add`), so an
    existing IVF store doubles as the semantic-dedup partitioning.

    Returns ``(id_a, id_b, cos_sim, cell)`` with ``id_a < id_b``;
    ids are emitted as ``long`` (numeric-id contract — the per-cell
    Arrow scorer sorts and indexes them as int64).
    Feed into ``dedup_clusters`` (llm/dedup.py) for keep/drop
    decisions, exactly like the MinHash candidate flow.

    Scale contract (the SemDeDup tradeoff made explicit): work is
    Σ_cells |cell|² / 2 ≈ N²/(2·nlist) for balanced cells — ``nlist``
    MUST grow with the corpus so the expected cell size stays bounded
    (the paper uses ~10⁴-10⁵ clusters for 10⁸-10⁹ docs; size nlist ≈
    N / target_cell_size). The cell equi-join is the only wide op; the
    per-row norm is computed once on the assigned store (one dot per
    PAIR, not three); the merge hint prevents AQE from broadcasting
    one side of the self-join and re-executing the assignment subtree
    twice (build + probe), mirroring the measured rationale in
    ``minhash_candidate_pairs``.

    The md5-ordered training sample, fixed-point Lloyd, integer-dot
    assignment and decimal-exact cosine make the ENTIRE pipeline,
    trained model included, replay bit-for-bit in SQL (suite case
    ``q_dedup_semantic``). The within-cell scoring runs as ONE Arrow
    ``applyInPandas`` matmul per cell (each cell's vectors arrive as a
    single pandas group; the N_cell × N_cell upper triangle is a BLAS
    gram matrix instead of ~N_cell²/2 interpreted 64-element expression
    folds — cell size is already bounded by the nlist contract, so the
    per-group matrix fits executor memory by construction).

    That gram matmul is a PREFILTER with a PER-PAIR safety margin
    derived from the vectors' actual norms: ``_dot_decimal`` quantizes
    per-element products at absolute 1e-14, so the fixed-point-vs-float
    cosine gap is bounded by d·1e-14·(1/(‖a‖‖b‖) + 1/(2‖a‖²) +
    1/(2‖b‖²)) — tiny for unit-ish vectors but material for
    small-magnitude embeddings (a FIXED 1e-6 margin silently dropped
    true pairs once elements fell below ~1e-4; r7 ADVICE finding). The
    bound is doubled and padded with 1e-9 for the float64 matmul's own
    d·ε error, then candidates are rescored with the decimal-exact
    cosine and the threshold applied on THAT — the published values and
    the >= decision are bit-identical to the naive exact join, measured
    ~2× faster at sf0.1 and widening with cell size.

    Zero-norm vectors (fixed-point norm 0, i.e. every |element| <
    1e-7): excluded from pair scoring here and in the oracle.
    They carry no geometry at the engine's resolution, and the exact
    cosine's 0/0 is engine-divergent (Spark double 0/0 is NULL, which
    the >= filter drops; DuckDB yields NaN, which its total order
    compares greater than any threshold) — filtering is the only
    semantics both engines can agree on. Training is unaffected: a
    zero vector's assignment (all-zero dots, tie-broken by cell id)
    and its contribution to means replay exactly in SQL either way."""
    corpus = drop_corrupt_vectors(corpus, vec_col, dim)
    C = ivf_train_centroids(
        corpus, dim, nlist=nlist, train_iters=train_iters,
        id_col=id_col, vec_col=vec_col, train_sample=train_sample,
    )
    assigned = ivf_add(
        ensure_parallelism(corpus), C, dim,
        id_col=id_col, vec_col=vec_col, _pre_validated=True,
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cell": pd.Series(dtype="int32"),
                                 "va": pd.Series(dtype="object"),
                                 "vb": pd.Series(dtype="object")})
        pdf = pdf.sort_values("__sd_id").reset_index(drop=True)
        M = np.stack(pdf["vec"].values).astype("float64")
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0.0] = 1.0  # defensive; zero-norm rows are filtered upstream
        G = (M / nrm[:, None]) @ (M / nrm[:, None]).T
        iu, ju = np.triu_indices(n, k=1)
        # per-pair prefilter margin: fixed-point quantization error
        # on the exact cosine is < d·1e-14·(1/(na·nb) + 1/(2na²)
        # + 1/(2nb²)); ×2 headroom + 1e-9 float-matmul slack keeps
        # the prefilter lossless for ANY vector magnitude
        inv = 1.0 / nrm
        qerr = 2.0 * M.shape[1] * 1e-14
        margin = qerr * (inv[iu] * inv[ju]
                         + 0.5 * inv[iu] ** 2 + 0.5 * inv[ju] ** 2) + 1e-9
        keep = G[iu, ju] >= (threshold - margin)
        ids = pdf["__sd_id"].to_numpy()
        ia, ib = iu[keep], ju[keep]
        # plain python lists: pyarrow's NumPyConverter refuses ndarray
        # cells for list<double> columns
        return pd.DataFrame({
            "id_a": ids[ia], "id_b": ids[ib],
            "cell": np.full(len(ia), int(pdf["cell"].iloc[0]), dtype="int32"),
            "va": pd.Series([M[i].tolist() for i in ia], dtype="object"),
            "vb": pd.Series([M[j].tolist() for j in ib], dtype="object"),
        })

    # fixed-point norm 0 ⟺ every |element| < 1e-7: no geometry at the
    # engine's resolution, and 0/0 is engine-divergent (see docstring)
    prepared = assigned.filter(F.col("norm") > 0).select(
        F.col(id_col).cast("long").alias("__sd_id"), "vec", "cell"
    )
    cand = prepared.groupBy("cell").applyInPandas(
        score_cell,
        schema="id_a long, id_b long, cell int, va array<double>, vb array<double>",
    )
    # decimal-exact rescore of the (few) prefiltered candidates — the
    # float->double vectors round-trip Arrow bit-exactly, so this is
    # the same value the naive exact join computes
    return (
        cand.select(
            "id_a",
            "id_b",
            (
                _dot_decimal("va", "vb")
                / (_norm("va") * _norm("vb"))
            ).alias("cos_sim"),
            "cell",
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
