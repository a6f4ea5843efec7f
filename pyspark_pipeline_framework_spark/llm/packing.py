"""Training-batch assembly operators: deterministic dataset splits and
token-budget sequence packing.

Packing is the step after filtering/dedup in an LLM data pipeline:
fill fixed-size context windows with documents so little budget is
wasted. The distributed formulation shards the corpus (map-side hash),
then packs each shard independently with a sequential greedy pass in
Arrow-batched pandas — shard-local state, no global coordination, so
it scales linearly with executors while remaining deterministic."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hash_bucket(id_col: str, salt: str, modulus: int):
    """Deterministic non-negative bucket in [0, modulus): the first 8
    hex chars of ``md5(id || ':' || salt)`` as a uint32, mod
    ``modulus`` — recomputable in DuckDB
    (``CAST('0x'||substr(md5(..),1,8) AS BIGINT)``), Python, or any
    warehouse, so external systems can verify exactly which rows
    landed where."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(modulus))


def _shard_and_order(id_col: str, salt: str, num_shards: int):
    """The ``(shard, order key)`` pair of :func:`global_shuffle` and
    :func:`sample_to_token_budget`: shard = :func:`_hash_bucket` of
    ``salt``, order key = ``md5(id || ':' || salt || ':pos')``."""
    order_h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt + ":pos")))
    return _hash_bucket(id_col, salt, num_shards).cast("int"), order_h


def split_by_hash(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/valid/test split: bucket = hash(id, salt)
    mod 10_000 mapped onto cumulative fraction ranges. Stable across
    runs, sessions, and cluster sizes — no RNG, no sampling drift;
    membership is recomputable outside Spark (see :func:`_hash_bucket`)."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = _hash_bucket(id_col, salt, 10_000)
    expr = None
    acc = 0.0
    for name, frac in fractions.items():
        acc += frac
        cond = bucket < int(round(acc * 10_000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr.otherwise(list(fractions)[-1]))


PACKED_SCHEMA = "doc_id long, shard int, pack_id long, n_tokens int"


class ShardBudgetExceededError(RuntimeError):
    """A packing shard materialized more rows than its declared memory
    budget allows — raised executor-side with the shard count that
    would bring it back under budget."""


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    num_shards: int | str = 64,
    max_rows_per_shard: int | None = 2_000_000,
) -> DataFrame:
    """Greedy sequential packing: within each shard (deterministic hash
    of the id), docs are visited in id order and appended to the
    current pack until the budget would overflow, then a new pack
    starts. Documents longer than ``max_tokens`` get a pack of their
    own. Output: (doc_id, shard, pack_id, n_tokens); pack identity is
    (shard, pack_id).

    Packing quality vs parallelism is the ``num_shards`` knob: shards
    pack independently (at most one under-filled trailing pack per
    shard) — at 100 TB, shards ≈ executor-cores × 4.

    Memory safety: each shard arrives executor-side as ONE pandas
    frame (applyInPandas), so a misconfigured ``num_shards`` would OOM
    an executor silently. ``max_rows_per_shard`` (default 2M rows ≈
    tens of MB of (long,int,int) columns) bounds that: an over-budget
    shard fails fast with the ``num_shards`` value that would bring
    shards back under ~half the budget. ``num_shards="auto"`` derives
    the shard count from an up-front ``df.count()`` (one extra job)
    targeting half-budget shards, so callers never have to guess."""
    if max_rows_per_shard is not None and max_rows_per_shard < 1:
        raise ValueError("max_rows_per_shard must be >= 1 or None")
    if num_shards == "auto":
        if max_rows_per_shard is None:
            raise ValueError("num_shards='auto' requires max_rows_per_shard")
        n = df.count()
        num_shards = max(1, -(-n // max(1, max_rows_per_shard // 2)))
    elif not isinstance(num_shards, int) or num_shards < 1:
        raise ValueError(f"num_shards must be a positive int or 'auto', got {num_shards!r}")
    resolved_shards = num_shards

    # applyInPandas (not mapInPandas): the whole shard arrives as ONE
    # frame, so the greedy cursor never resets mid-shard on an Arrow
    # batch boundary
    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_rows_per_shard is not None and len(pdf) > max_rows_per_shard:
            # uniform-hash estimate of the corpus from this one shard;
            # suggest shards sized to ~half the budget for skew headroom
            est_total = len(pdf) * resolved_shards
            suggested = -(-est_total // max(1, max_rows_per_shard // 2))
            raise ShardBudgetExceededError(
                f"packing shard holds {len(pdf)} rows, over the "
                f"max_rows_per_shard={max_rows_per_shard} budget; "
                f"re-run with num_shards>={suggested} (currently "
                f"{resolved_shards}), pass num_shards='auto', or raise "
                f"max_rows_per_shard if the executors have the memory"
            )
        pdf = pdf.sort_values("doc_id")
        shard = int(pdf["shard"].iloc[0])
        out_rows = []
        pack_id, used = 0, 0
        for did, nt in zip(pdf["doc_id"], pdf["n_tokens"]):
            nt = int(nt)
            if used > 0 and used + nt > max_tokens:
                pack_id += 1
                used = 0
            out_rows.append((int(did), shard, pack_id, nt))
            used += nt
            if used >= max_tokens:
                pack_id += 1
                used = 0
        return pd.DataFrame(out_rows, columns=["doc_id", "shard", "pack_id", "n_tokens"])

    sharded = df.select(
        F.col(id_col).alias("doc_id"),
        _hash_bucket(id_col, "shard", num_shards).cast("int").alias("shard"),
        F.col(tokens_col).cast("int").alias("n_tokens"),
    )
    return sharded.groupBy("shard").applyInPandas(pack_shard, schema=PACKED_SCHEMA)

def domain_mix_sample(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    target_fraction: float = 0.5,
    salt: str = "mix",
) -> DataFrame:
    """Temperature-reweighted domain sampling: keep-rate per domain
    follows p_d ∝ n_d^alpha (the multilingual-LM data-mixing recipe —
    alpha < 1 upsamples small domains relative to their share), scaled
    so the expected total is ``target_fraction`` of the corpus and
    capped at 1.

    Row selection is the same deterministic md5 keep-set as
    :func:`stratified_sample` (u(id) < rate_d), so the sample is
    engine-portable and reproducible; per-domain rates use exact
    arithmetic (integer counts, sqrt weights, DECIMAL-summed weight
    total) so the rates themselves are bit-identical on any engine.

    ``alpha`` ∈ {0.0, 0.5, 1.0} keeps full portability (lit / sqrt /
    identity — all correctly-rounded IEEE); other alphas go through
    ``pow``, whose last-bit rounding is libm-specific.

    Scale: one tiny groupBy(domain) count, rates broadcast back, then
    a map-side filter — no data shuffle of the corpus itself."""
    if alpha == 0.0:
        weight = F.lit(1.0)
    elif alpha == 0.5:
        weight = F.sqrt(F.col("__n").cast("double"))
    elif alpha == 1.0:
        weight = F.col("__n").cast("double")
    else:
        weight = F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n")).withColumn(
        "__w", weight
    )
    totals = counts.agg(
        F.sum(F.col("__w").cast("decimal(38,9)")).cast("double").alias("__wsum"),
        F.sum("__n").cast("double").alias("__ntot"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        domain_col,
        F.least(
            F.lit(1.0),
            (F.lit(float(target_fraction)) * F.col("__ntot") * F.col("__w"))
            / (F.col("__wsum") * F.col("__n").cast("double")),
        ).alias("__rate"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(h.cast("double") < F.col("__rate") * F.lit(4294967296.0))
        .drop("__rate")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    target_fraction: float,
    id_col: str = "doc_id",
    salt: str = "wsample",
    renormalize_iters: int = 0,
) -> DataFrame:
    """Per-ROW importance sampling: keep probability proportional to
    ``weight_col`` (e.g. a quality score or token count), scaled to
    ``target_fraction`` and capped at 1 — the row-level sibling of
    :func:`domain_mix_sample`'s per-domain reweighting, the standard
    quality-/length-weighted data-mixing step.

    The EXPECTED kept fraction equals ``target_fraction`` exactly when
    no raw rate exceeds the cap (i.e. ``tf·N·max(w) <= S``); with
    heavily skewed weights the default single pass does NOT
    redistribute the clipped probability mass, so the realized
    expectation sits strictly below the target.
    ``renormalize_iters=k`` redistributes it with k FIXED iterations
    (never a data-dependent fixpoint — determinism and bit-exact
    oracle replay are preserved): each iteration assigns probability 1
    to the currently-capped rows and rescales the remaining budget
    ``tf·N − n_capped`` over the uncapped weight mass. The capped set
    only grows (the scale is monotone increasing), so k iterations of
    the classic weighted-sampling rate normalization converge in ≤ k
    distinct weight tiers — 2-3 suffice for real corpora. Cost: k
    extra scalar aggregates over the corpus, still zero shuffles of
    the corpus itself.

    rate_r = LEAST(1, ((tf·N)·w_r) / S) with S the DECIMAL-summed
    weight total and N the row count (both one tiny aggregate,
    broadcast back); keep iff md5-uint32(id) < rate_r·2^32 — the same
    deterministic engine-portable keep-set as the rest of the family
    (the suite oracle replays rates and keep-set bit-exactly).

    Rows with NULL, NaN or non-positive weight are EXCLUDED — from the
    output and from the totals (a negative weight has no sampling
    meaning, and letting it into the sum can flip the sign of every
    other row's rate). Scale: one scalar aggregate + a map-side
    filter; the corpus never shuffles."""
    if not (0.0 < target_fraction <= 1.0):
        raise ValueError(
            f"target_fraction must be in (0, 1], got {target_fraction}"
        )
    wd = F.col(weight_col).cast("double")
    # NaN > 0 is TRUE under Spark's NaN-is-greatest ordering — the
    # isnan guard is load-bearing, not belt-and-braces
    df = df.filter((wd > 0) & ~F.isnan(wd))
    totals = df.agg(
        F.sum(F.col(weight_col).cast("decimal(38,9)")).cast("double").alias("__wsum"),
        F.count(F.lit(1)).cast("double").alias("__ntot"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))), 1, 8),
        16,
        10,
    ).cast("bigint")
    if not renormalize_iters:
        rate = F.least(
            F.lit(1.0),
            (F.lit(float(target_fraction)) * F.col("__ntot") * F.col(weight_col).cast("double"))
            / F.col("__wsum"),
        )
        return (
            df.crossJoin(F.broadcast(totals))
            .filter(h.cast("double") < rate * F.lit(4294967296.0))
            .drop("__wsum", "__ntot")
        )
    # iterative redistribution: state is ONE row (__budget expected
    # rows for the uncapped mass, __wsum that mass, __ntot); each
    # iteration is a scalar aggregate chained lazily via broadcast
    # crossJoins — no driver collect, k is a hyperparameter
    state = totals.select(
        (F.lit(float(target_fraction)) * F.col("__ntot")).alias("__budget"),
        "__wsum",
        "__ntot",
    )
    for _ in range(int(renormalize_iters)):
        j = df.crossJoin(F.broadcast(state))
        capped = (F.col("__budget") * wd / F.col("__wsum")) >= F.lit(1.0)
        agg = j.agg(
            F.first("__ntot").alias("__ntot"),
            F.sum(F.when(capped, F.lit(1)).otherwise(F.lit(0)))
            .cast("double")
            .alias("__ncap"),
            F.sum(F.when(~capped, F.col(weight_col).cast("decimal(38,9)")))
            .cast("double")
            .alias("__wsum"),
        )
        state = agg.select(
            (F.lit(float(target_fraction)) * F.col("__ntot") - F.col("__ncap"))
            .alias("__budget"),
            "__wsum",
            "__ntot",
        )
    # NULL __wsum means every row capped under the final scale: keep all
    rate = F.when(
        F.col("__wsum").isNull(), F.lit(1.0)
    ).otherwise(F.least(F.lit(1.0), F.col("__budget") * wd / F.col("__wsum")))
    return (
        df.crossJoin(F.broadcast(state))
        .filter(h.cast("double") < rate * F.lit(4294967296.0))
        .drop("__budget", "__wsum", "__ntot")
    )


def stratified_sample(
    df: DataFrame,
    rate: float,
    id_col: str,
    strata_col: str | None = None,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash-based sampling: keep a row iff a uniform
    value derived from ``md5(id || salt)`` falls below ``rate``.
    ``strata_col`` is documentation of intent (the per-stratum keep
    rate equals ``rate`` because the hash is independent of the
    stratum) — no RNG, no seed plumbing, reproducible on any cluster
    and engine (md5 is everywhere, so an external system can recompute
    exactly which rows were kept).

    Scale: pure map-side filter — no shuffle, no state; at 100 TB this
    is the only sampling shape that composes with resumable pipelines.
    """
    if not (0.0 < rate <= 1.0):
        raise ValueError(f"rate must be in (0, 1], got {rate}")
    # first 8 md5 hex chars -> uniform 32-bit int; compare against the
    # rate scaled to 2^32 (exact integer threshold, no float rounding)
    h = F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8), 16, 10)
    threshold = int(rate * (1 << 32))
    return df.filter(h.cast("bigint") < F.lit(threshold))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the RAG /
    long-context training prep step. Chunks start every
    ``chunk_tokens - overlap`` tokens; the final chunk may be short;
    a doc shorter than one window yields a single chunk.

    Output: (id, chunk_id, n_chunk_tokens, chunk_text), chunk_id
    0-based in token order.

    Scale: pure column expressions (split → sequence → transform →
    posexplode) — whole-stage codegen, no Python, no shuffle; the
    explode multiplies rows by ~n_tokens/stride, which downstream
    repartitioning handles like any fan-out scan. Engine-portable
    construction (same slice semantics as DuckDB list_slice), so the
    whole operator is SQL-oracle-able."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.expr(
        f"sequence(1, greatest(size(split(trim({text_col}), '\\\\s+')) - {overlap}, 1), {stride})"
    )
    exploded = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    chunk = F.slice(F.col("__toks"), F.col("__start"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    num_shards: int = 64,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic GLOBAL shuffle into training order: every row gets
    a ``(shard, pos)`` address — shard by hash, position by the hash's
    order within the shard (ties broken by id) — so reading shards
    0..S-1 each ordered by ``pos`` yields a pseudorandom but perfectly
    reproducible permutation of the corpus. No RNG state, no
    ``ORDER BY rand()`` nondeterminism: re-running on any cluster
    layout produces the identical order, and appending new data leaves
    existing (shard, pos) pairs stable within their shard prefix only
    if ids are new — re-shuffle per epoch by changing ``salt``.

    Scale shape: ONE hash-partitioned exchange + per-shard sort
    (``row_number`` over partitionBy(shard)) — never a single global
    window; shards sort in parallel and a 100 TB corpus is S
    independent sorts. Write with ``partitionBy("shard")`` and the
    training loader streams shards in order.

    PRECONDITION — ``id_col`` values must be UNIQUE and NON-NULL:
    the sort key is (hash(id), id), so duplicate or NULL ids tie and
    Spark may order tied rows differently run-to-run, silently
    breaking the reproducible-permutation contract (same caveat as
    the numeric-id contract on the dedup operators). Dedup or
    synthesize a unique key first; uniqueness is NOT checked here —
    a check costs a full aggregation pass, compose
    ``quality.checks.unique_check`` upstream when ids are untrusted."""
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    from pyspark.sql import Window

    shard, order_h = _shard_and_order(id_col, salt, num_shards)
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("shard", shard)
        .withColumn("__h", order_h)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("__h")
    )


def sample_to_token_budget(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    num_shards: int = 32,
    salt: str = "budget",
) -> DataFrame:
    """Deterministic subsample of ~``budget_tokens`` worth of rows: a
    hash-ordered prefix of the corpus under a per-shard running token
    total. The budget is split evenly across ``num_shards`` hash
    shards and each shard keeps rows while its own cumulative total
    (in hash order, ties by id) stays within ``budget_tokens /
    num_shards`` — the distributed prefix-sum shape: one exchange +
    per-shard sort, never a single global window. The kept set is a
    pure function of (ids, salt), so re-runs and re-partitioning
    cannot change it.

    Accuracy contract: per-shard budgets make the total land within
    one document of the per-shard target (the first overshooting doc
    is EXCLUDED — kept totals are <= budget), so the realized total
    undershoots by at most ``num_shards · max_doc_tokens``; shrink
    ``num_shards`` (or raise the budget) when single documents are
    huge relative to ``budget_tokens``.

    Expects a precomputed ``tokens_col`` (compose with
    ``token_count_ws``/``token_count_regex`` from ``llm.text``).
    Returns the kept rows plus ``(shard, cum_tokens)``.

    PRECONDITION — ``id_col`` values must be UNIQUE and NON-NULL:
    the prefix order is (hash(id), id), so duplicate or NULL ids tie
    and the run-to-run row order within a tie is arbitrary — the
    cumulative totals, and therefore the KEPT SET, would differ
    across runs. Not checked here (a full-pass aggregation); compose
    ``quality.checks.unique_check`` upstream when ids are untrusted."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    from pyspark.sql import Window

    shard, order_h = _shard_and_order(id_col, salt, num_shards)
    per_shard = budget_tokens // num_shards
    w = (
        Window.partitionBy("shard")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("shard", shard)
        .withColumn("__h", order_h)
        .withColumn("cum_tokens", F.sum(F.col(tokens_col).cast("long")).over(w))
        .filter(F.col("cum_tokens") <= per_shard)
        .drop("__h")
    )
