"""Custom stateful streaming operators.

Beyond the reference's source→transform→sink wiring (its ``transform``
is stateless — SURVEY.md §2.6 'not implemented'), these add the two
standard stateful patterns:

* :func:`streaming_dedup` — exactly-once-per-key emission with bounded
  state: ``dropDuplicatesWithinWatermark`` keeps a key's state only
  until the watermark passes it (at 100 TB: state size is bounded by
  keys-per-watermark-window, not stream history).
* :func:`running_counts` / :func:`sessionize` —
  ``applyInPandasWithState`` operators: per-key state carried across
  micro-batches with timeout-driven eviction (Arrow-batched; state is
  a tuple, not a DataFrame — executors hold it in the state store).
* :func:`incremental_neardup_batch`, :func:`incremental_spans_batch`,
  :func:`streaming_ivf_add_batch` and :func:`streaming_ivfpq_add_batch`
  — ``foreachBatch`` writers whose state is a parquet
  :class:`~pyspark_pipeline_framework_spark.io.compaction.BatchStore`,
  not the state store: corpus history is unbounded at zero executor
  memory, and micro-batch replays are idempotent.

All run identically under availableNow (tests) and continuous
micro-batch triggers (production).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pyspark_pipeline_framework_spark.io.compaction import (  # noqa: F401
    BatchStore,
    StoreLayoutError,
)


def streaming_dedup(
    df: DataFrame,
    keys: list[str],
    watermark_col: str,
    watermark_delay: str,
) -> DataFrame:
    """Streaming dedup with bounded state: first row per key wins,
    duplicate suppression state expires with the watermark."""
    return df.withWatermark(watermark_col, watermark_delay).dropDuplicatesWithinWatermark(keys)


RUNNING_COUNT_SCHEMA = "key string, n bigint, total double"
_RUNNING_STATE_SCHEMA = "n bigint, total double"


def _running_count_fn(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"key": [key[0]], "n": [n], "total": [total]})


def running_counts(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key running count + sum carried across micro-batches —
    the minimal ``applyInPandasWithState`` operator shape."""
    keyed = df.selectExpr(f"{key_col} AS key", f"{value_col} AS value")
    return keyed.groupBy("key").applyInPandasWithState(
        _running_count_fn,
        outputStructType=RUNNING_COUNT_SCHEMA,
        stateStructType=_RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_SCHEMA = "key string, n_events bigint, session_open boolean"
_SESSION_STATE_SCHEMA = "n bigint"


def _session_fn(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        (n,) = state.get
        state.remove()
        yield pd.DataFrame({"key": [key[0]], "n_events": [n], "session_open": [False]})
        return
    n = state.get[0] if state.exists else 0
    for pdf in batches:
        n += len(pdf)
    state.update((n,))
    state.setTimeoutDuration(30_000)  # close the session after 30s idle
    yield pd.DataFrame({"key": [key[0]], "n_events": [n], "session_open": [True]})


def sessionize(df: DataFrame, key_col: str) -> DataFrame:
    """Timeout-driven sessionization: emits running session progress per
    key and a final closed-session row when the key goes idle —
    processing-time timeout variant (event-time windows are covered by
    ``operators.windows.event_session_window``)."""
    keyed = df.selectExpr(f"{key_col} AS key")
    return keyed.groupBy("key").applyInPandasWithState(
        _session_fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def incremental_neardup_batch(
    store_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    partition_by: list[str] | None = None,
):
    """``foreachBatch`` factory: streaming NEAR-dup detection — the
    stateful big sibling of :func:`streaming_dedup` (which is
    exact-key). Each micro-batch is MinHash-banded
    (:func:`~pyspark_pipeline_framework_spark.llm.dedup.minhash_bands`),
    joined against the parquet band store accumulated from all previous
    batches (:func:`~pyspark_pipeline_framework_spark.llm.dedup.incremental_candidate_pairs`
    — new×new plus new×history, never history×history), and appended to
    the store; the batch's candidate pairs land at
    ``<pairs_path>/batch_id=N``. A 1000-executor job shuffles only
    (id, band_idx, band_hash) longs.

    Both stores are
    :class:`~pyspark_pipeline_framework_spark.io.compaction.BatchStore`
    instances, which give the durability, replay and layout-probe
    contract.
    ``partition_by`` nests the band store's batches (``["band_idx"]``
    mirrors a band store compacted with
    ``compact_batch_store(..., partition_by=["band_idx"])``).

    Returns ``process(batch_df, batch_id)`` for
    ``writeStream.foreachBatch`` (or ``ForeachBatchSink``).
    """
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )

    store = BatchStore(store_path, partition_by)
    pairs_store = BatchStore(pairs_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bands_df = minhash_bands(
            batch_df, id_col, text_col, num_hashes, bands, shingle_k, hash_fn
        )
        # write the batch's bands FIRST, then read them back for the
        # pair join: the signature pipeline runs exactly once, nothing
        # is pinned in executor storage between micro-batches (an
        # eager localCheckpoint here would accumulate blocks for the
        # life of a continuous stream), and a mid-batch failure is
        # still safe — the retry overwrites the same partition before
        # recomputing pairs
        store.write(bands_df.hint("rebalance", *store.partition_by), batch_id)
        new, corpus = store.read(batch_df.sparkSession, batch_id)
        pairs = incremental_candidate_pairs(new, corpus)
        pairs_store.write(pairs.hint("rebalance"), batch_id)

    return process


def incremental_spans_batch(
    store_path: str,
    counts_path: str,
    spans_path: str,
    min_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_by: list[str] | None = None,
):
    """``foreachBatch`` factory: streaming exact-substring (span)
    dedup — the ExactSubstr sibling of :func:`incremental_neardup_batch`.
    Each document micro-batch is grammed
    (:func:`~pyspark_pipeline_framework_spark.llm.dedup.substring_gram_stream`),
    its gram positions and mergeable partial counts land as
    ``batch_id=N`` partitions of the two stores, and
    :func:`~pyspark_pipeline_framework_spark.llm.dedup.incremental_duplicated_spans`
    recomputes spans for exactly the documents this batch touched (the
    new docs plus old docs whose grams crossed 1 → >=2) against the
    ``batch_id < N`` history — never a corpus re-hash. The per-batch
    span UPDATES land at ``<spans_path>/batch_id=N``; the
    corpus-current span table is the latest update per document
    (:func:`~pyspark_pipeline_framework_spark.llm.dedup.current_span_table`),
    and equals a from-scratch ``duplicated_spans`` over everything
    ingested so far.

    All three stores are
    :class:`~pyspark_pipeline_framework_spark.io.compaction.BatchStore`
    instances, which give the durability, replay and layout-probe
    contract;
    ``partition_by`` nests the gram store's batches. Compact the gram
    and count stores with
    :func:`~pyspark_pipeline_framework_spark.io.compaction.compact_batch_store`
    (union-compaction keeps the partial-count store correct because
    partials are summable — see ``substring_count_partials``) and the
    span store with
    :func:`~pyspark_pipeline_framework_spark.io.compaction.compact_span_store`.

    Returns ``process(batch_df, batch_id)`` for
    ``writeStream.foreachBatch`` (or ``ForeachBatchSink``)."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_duplicated_spans,
        substring_count_partials,
        substring_gram_stream,
    )

    store = BatchStore(store_path, partition_by)
    counts = BatchStore(counts_path)
    spans = BatchStore(spans_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        grams = substring_gram_stream(batch_df, min_tokens, id_col, text_col)
        # grams land FIRST, then counts and spans derive from the
        # READ-BACK partition: the tokenize/explode pipeline runs once,
        # nothing is pinned in executor storage between micro-batches,
        # and a mid-batch retry overwrites the same partitions before
        # recomputing anything downstream
        store.write(grams.hint("rebalance", *store.partition_by), batch_id)
        new, corpus = store.read(spark, batch_id)
        counts.write(substring_count_partials(new).hint("rebalance"), batch_id)
        _, hist_counts = counts.read(spark, batch_id)
        upd = incremental_duplicated_spans(
            new, corpus, hist_counts, min_tokens=min_tokens, id_col=id_col
        )
        spans.write(upd.hint("rebalance"), batch_id)

    return process


def streaming_ivf_add_batch(
    store_path: str,
    centroids,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_by: list[str] | None = None,
):
    """``foreachBatch`` factory: streaming ANN-index growth — the
    incremental half of the IVF train-once/add-forever contract
    (:func:`~pyspark_pipeline_framework_spark.llm.similarity.ivf_index`
    / :func:`~pyspark_pipeline_framework_spark.llm.similarity.ivf_add`)
    as a stream operator. Each embedding micro-batch is cell-assigned
    under the FROZEN quantizer (``ivf_add``: map-only, no shuffle, no
    retraining, the existing store untouched) and lands as
    ``<store_path>/batch_id=N`` of a
    :class:`~pyspark_pipeline_framework_spark.io.compaction.BatchStore`,
    which gives the durability, replay and layout-probe contract.

    ``centroids`` is a parquet path, the nlist-row centroid DataFrame,
    or the raw matrix; it is resolved ONCE on the first micro-batch and
    memoized in the closure (the collect is bounded by nlist — a model
    hyperparameter — and paid once per stream, not once per batch).
    Search any union of batches at any time with ``ivf_search`` over
    the store directory read as parquet — the ``cell`` column survives
    for pruning; pass ``partition_by=["cell"]`` to nest each batch as
    ``batch_id=N/cell=K`` for STATIC cell pruning on top of batch
    lineage. ``partition_by=["cell"]`` is REQUIRED when resuming into a
    store compacted with ``compact_batch_store(...,
    partition_by=["cell"])``.
    """
    from pyspark_pipeline_framework_spark.llm.similarity import (
        _as_centroid_matrix,
        ivf_add,
    )

    store = BatchStore(store_path, partition_by)
    memo: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not memo:
            c = centroids
            if isinstance(c, str):
                c = batch_df.sparkSession.read.parquet(c)
            memo.append(_as_centroid_matrix(c))
        store.write(
            ivf_add(batch_df, memo[0], dim, id_col=id_col, vec_col=vec_col),
            batch_id,
        )

    return process


def streaming_ivfpq_add_batch(
    store_path: str,
    centroids,
    codebooks,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    partition_by: list[str] | None = None,
):
    """``foreachBatch`` factory: streaming IVFPQ-index growth — the
    compressed sibling of :func:`streaming_ivf_add_batch`. Each
    embedding micro-batch is cell-assigned AND PQ-encoded in one
    map-only pass under the FROZEN quantizer pair
    (:func:`~pyspark_pipeline_framework_spark.llm.pq.ivfpq_add`), so
    the growing store holds ``(id, cell, codes)`` — a few bytes per
    vector, no raw floats — and lands as ``<store_path>/batch_id=N`` of
    a :class:`~pyspark_pipeline_framework_spark.io.compaction.BatchStore`,
    which gives the durability, replay and layout-probe contract.

    Both models are resolved ONCE on the first micro-batch (each
    collect bounded by a model hyperparameter). Search any union of
    batches with
    :func:`~pyspark_pipeline_framework_spark.llm.pq.ivfpq_search` over
    the store directory read as parquet; pass ``partition_by=["cell"]``
    to enable static cell pruning on top of batch lineage."""
    from pyspark_pipeline_framework_spark.llm.pq import (
        _as_codebook_matrix,
        ivfpq_add,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import _as_centroid_matrix

    store = BatchStore(store_path, partition_by)
    memo: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not memo:
            c, b = centroids, codebooks
            if isinstance(c, str):
                c = batch_df.sparkSession.read.parquet(c)
            if isinstance(b, str):
                b = batch_df.sparkSession.read.parquet(b)
            memo.append((_as_centroid_matrix(c), _as_codebook_matrix(b)))
        C, B = memo[0]
        store.write(
            ivfpq_add(batch_df, C, B, dim, id_col=id_col, vec_col=vec_col), batch_id
        )

    return process
