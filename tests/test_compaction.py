"""Compaction of batch_id-partitioned incremental stores
(io/compaction.py): the small-files fix must preserve every
incremental contract — history filter, replay overwrite, and
fresh-checkpoint restart safety."""

import pytest

from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store


def _band_store(spark, tmp_path, docs):
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_neardup_batch,
    )

    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    process = incremental_neardup_batch(store, pairs)
    process(docs.where(F.col("doc_id") % 3 == 0), 0)
    process(docs.where(F.col("doc_id") % 3 == 1), 1)
    return store, pairs, process


def test_compacted_band_store_preserves_incremental_pairs(spark, tmp_path, sf_dir):
    """After compaction, joining the NEXT batch against the baseline
    must produce exactly the pairs the uncompacted history produced —
    including under a fresh-checkpoint restart where the new stream's
    batch ids start at 0 again (the case an uncompacted store silently
    corrupts by overwriting its old batch_id=0 partition)."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_neardup_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    n_history = spark.read.parquet(store).count()

    compacted = str(tmp_path / "store_c")
    got = compact_batch_store(spark, store, compacted)
    assert got.count() == n_history
    assert [r.batch_id for r in got.select("batch_id").distinct().collect()] == [-1]

    # fresh-checkpoint restart: the new stream's FIRST batch is id 0
    batch2 = docs.where(F.col("doc_id") % 3 == 2)
    pairs2 = str(tmp_path / "pairs_c")
    incremental_neardup_batch(compacted, pairs2)(batch2, 0)

    want = sorted(
        (r.id_a, r.id_b)
        for r in incremental_candidate_pairs(
            minhash_bands(batch2),
            minhash_bands(docs.where(F.col("doc_id") % 3 != 2)),
        ).collect()
    )
    got_pairs = sorted(
        (r.id_a, r.id_b) for r in spark.read.parquet(pairs2).collect()
    )
    assert got_pairs == want and want
    # the baseline survived the new batch 0 write untouched
    after = spark.read.parquet(compacted)
    assert after.where(F.col("batch_id") == -1).count() == n_history
    assert after.select("batch_id").distinct().count() == 2


def test_compaction_file_count_tracks_advisory_size(spark, tmp_path, sf_dir):
    """r13: the default rewrite must honor advisoryPartitionSizeInBytes.
    Spark's coalescePartitions.parallelismFirst=true default makes AQE
    ignore the advisory and stop at ~1 MB pieces (measured: a 5 MB store
    rewrote to 6 files at a 64 MB advisory, advisory changes inert) —
    the compaction write scopes the flag to false, so a small store is
    ONE file at a big advisory and ~bytes/advisory files at a small one."""
    import glob
    import os

    from pyspark_pipeline_framework_spark.llm.dedup import minhash_bands

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store = str(tmp_path / "store")
    minhash_bands(docs).write.mode("overwrite").parquet(f"{store}/batch_id=0")
    out_big = str(tmp_path / "c_big")
    compact_batch_store(spark, store, out_big)  # session advisory: 64 MB
    big_files = glob.glob(f"{out_big}/batch_id=-1/*.parquet")
    total = sum(os.path.getsize(f) for f in big_files)
    assert len(big_files) == 1, f"{len(big_files)} files for {total} bytes @64m"

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, str(16 << 10))  # 16 KiB: force a multi-file rewrite
    try:
        out_small = str(tmp_path / "c_small")
        compact_batch_store(spark, store, out_small)
        small_files = glob.glob(f"{out_small}/batch_id=-1/*.parquet")
        # count scales with bytes/advisory (coalescing works on the
        # pre-compression shuffle sizes, so exact equality is not the
        # contract — direction and magnitude are)
        assert len(small_files) > 2 * len(big_files), (
            f"advisory inert: {len(small_files)} files @16k vs "
            f"{len(big_files)} @64m for {total} bytes"
        )
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    # parallelismFirst restored after the writes
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"
    ) != "false"


def test_compaction_bounds_file_count(spark, tmp_path, sf_dir):
    import glob

    from pyspark_pipeline_framework_spark.llm.dedup import minhash_bands

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # Build the small-files condition EXPLICITLY (4 files per batch):
    # since r12 the streaming writers REBALANCE their per-batch writes,
    # so at test size they emit ~1 right-sized file per batch and no
    # longer reproduce the pathology this test bounds — the fixture
    # here stands in for a store written by months of pre-r12 batches
    # (or by batches large enough to span many advisory partitions).
    store = str(tmp_path / "store")
    for i, pred in enumerate([F.col("doc_id") % 3 == 0, F.col("doc_id") % 3 == 1]):
        minhash_bands(docs.where(pred)).repartition(4).write.mode(
            "overwrite"
        ).parquet(f"{store}/batch_id={i}")
    compacted = str(tmp_path / "store_c")
    compact_batch_store(spark, store, compacted)
    files = glob.glob(f"{compacted}/batch_id=-1/*.parquet")
    assert 0 < len(files) <= 2
    # more parquet files before than after (the point of the exercise)
    before = glob.glob(f"{store}/batch_id=*/*.parquet")
    assert len(before) > len(files)


def test_rebalanced_writes_are_file_sized_by_data(spark, tmp_path, sf_dir):
    """r12: the streaming per-batch writes and the compaction default
    rewrite REBALANCE, so a small store holds a handful of right-sized
    files — not one file per shuffle partition / session core."""
    import glob

    parallelism = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, pairs, _ = _band_store(spark, tmp_path, docs)
    for batch_dir in glob.glob(f"{store}/batch_id=*"):
        n = len(glob.glob(f"{batch_dir}/*.parquet"))
        assert 0 < n < max(4, parallelism // 2), (
            f"{batch_dir}: {n} files — per-batch write not rebalanced"
        )
    # compaction: byte-sized output, so this tiny store must fold to a
    # handful of files, not `parallelism`
    compacted = str(tmp_path / "store_c_default")
    compact_batch_store(spark, store, compacted)
    n = len(glob.glob(f"{compacted}/batch_id=-1/*.parquet"))
    assert 0 < n < max(4, parallelism // 2), f"default compaction wrote {n} files"


def test_compacted_ivf_store_search_and_cell_pruning(spark, tmp_path, sf_dir):
    """IVF store compaction with partition_by=['cell']: search results
    identical, and prune_cells static-prunes the compacted baseline."""
    import re

    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index, ivf_search
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivf_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, _ = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    store = str(tmp_path / "ivf")
    process = streaming_ivf_add_batch(store, cdf, dim=64)
    process(emb.where(F.col("vec_id") % 2 == 0), 0)
    process(emb.where(F.col("vec_id") % 2 == 1), 1)

    compacted = str(tmp_path / "ivf_c")
    got = compact_batch_store(spark, store, compacted, partition_by=["cell"])
    assert got.count() == spark.read.parquet(store).count()

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=64, k=5, nprobe=2)
    want = sorted(map(tuple, ivf_search(
        spark.read.parquet(store).drop("batch_id"), cdf, queries, **kw
    ).collect()))
    pruned = ivf_search(
        spark.read.parquet(compacted).drop("batch_id"), cdf, queries,
        prune_cells=True, **kw,
    )
    assert sorted(map(tuple, pruned.collect())) == want and want
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1)


def test_resume_stream_into_partitioned_compacted_store(spark, tmp_path, sf_dir):
    """r9 ADVICE: a store compacted with partition_by=['cell'] stays a
    valid LIVE store when the resumed stream writer mirrors the layout
    (partition_by=['cell']); a layout-mismatched writer must fail with
    StoreLayoutError BEFORE writing anything."""
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index, ivf_search
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        StoreLayoutError,
        streaming_ivf_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, _ = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    store = str(tmp_path / "ivf")
    streaming_ivf_add_batch(store, cdf, dim=64)(
        emb.where(F.col("vec_id") % 2 == 0), 0
    )
    compacted = str(tmp_path / "ivf_c")
    compact_batch_store(spark, store, compacted, partition_by=["cell"])
    n_history = spark.read.parquet(compacted).count()

    # mismatch: flat writer onto nested store — typed error, no write;
    # also when the store is named by a file: URI, which os.path cannot see
    for path in (compacted, "file:" + compacted):
        with pytest.raises(StoreLayoutError, match="conflicting directory"):
            streaming_ivf_add_batch(path, cdf, dim=64)(
                emb.where(F.col("vec_id") % 2 == 1), 0
            )
    assert spark.read.parquet(compacted).count() == n_history

    # mirrored writer: fresh-checkpoint restart (batch ids reset to 0)
    # appends batch_id=0/cell=K next to the baseline — store readable,
    # searchable, counts add up
    streaming_ivf_add_batch(
        compacted, cdf, dim=64, partition_by=["cell"]
    )(emb.where(F.col("vec_id") % 2 == 1), 0)
    grown = spark.read.parquet(compacted)
    assert grown.count() == emb.count()
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=64, k=5, nprobe=2)
    got = sorted(map(tuple, ivf_search(
        grown.drop("batch_id"), cdf, queries, **kw
    ).collect()))
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_add

    want = sorted(map(tuple, ivf_search(
        ivf_add(emb, cdf, dim=64), cdf, queries, **kw
    ).collect()))
    assert got == want and want  # mixed baseline+new store == full corpus

    # mismatch the other way: nested writer onto a FLAT store
    with pytest.raises(StoreLayoutError, match="conflicting directory"):
        streaming_ivf_add_batch(
            store, cdf, dim=64, partition_by=["cell"]
        )(emb.where(F.col("vec_id") % 2 == 1), 1)


def test_resume_neardup_stream_into_partitioned_compacted_store(
    spark, tmp_path, sf_dir
):
    """Band-store variant of the layout-mirroring contract: compact
    with partition_by=['band_idx'], resume the neardup stream with the
    same partition_by — the next batch's pairs equal the uncompacted
    history's pairs."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        StoreLayoutError,
        incremental_neardup_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    compacted = str(tmp_path / "store_c")
    compact_batch_store(spark, store, compacted, partition_by=["band_idx"])

    with pytest.raises(StoreLayoutError, match="conflicting directory"):
        incremental_neardup_batch(compacted, str(tmp_path / "px"))(
            docs.where(F.col("doc_id") % 3 == 2), 0
        )

    batch2 = docs.where(F.col("doc_id") % 3 == 2)
    pairs2 = str(tmp_path / "pairs_c")
    incremental_neardup_batch(
        compacted, pairs2, partition_by=["band_idx"]
    )(batch2, 0)
    want = sorted(
        (r.id_a, r.id_b)
        for r in incremental_candidate_pairs(
            minhash_bands(batch2),
            minhash_bands(docs.where(F.col("doc_id") % 3 != 2)),
        ).collect()
    )
    got = sorted(
        (r.id_a, r.id_b)
        for r in spark.read.parquet(f"{pairs2}/batch_id=0").collect()
    )
    assert got == want


def test_compaction_tombstones_band_store(spark, tmp_path, sf_dir):
    """remove_ids during compaction == from-scratch rebuild on the
    reduced corpus: the next incremental tick's pairs are identical,
    and no tombstoned id survives anywhere in the baseline."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_bands,
    )
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_neardup_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    deleted = docs.where(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("id")
    )
    compacted = str(tmp_path / "store_del")
    got_store = compact_batch_store(
        spark, store, compacted, remove_ids=deleted, remove_id_col="id"
    )
    assert got_store.join(deleted, "id", "inner").count() == 0

    batch2 = docs.where((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 4 != 0))
    pairs_dir = str(tmp_path / "pairs_del")
    incremental_neardup_batch(compacted, pairs_dir)(batch2, 0)
    got = sorted(
        (r.id_a, r.id_b)
        for r in spark.read.parquet(f"{pairs_dir}/batch_id=0").collect()
    )
    rebuilt_corpus = minhash_bands(
        docs.where((F.col("doc_id") % 3 != 2) & (F.col("doc_id") % 4 != 0))
    )
    want = sorted(
        (r.id_a, r.id_b)
        for r in incremental_candidate_pairs(
            minhash_bands(batch2), rebuilt_corpus
        ).collect()
    )
    assert got == want

    # a python list works too, and repeated ids don't skew the anti-join
    ids = [r.id for r in deleted.collect()]
    got2 = compact_batch_store(
        spark, store, str(tmp_path / "store_del2"),
        remove_ids=ids + ids[:3], remove_id_col="id",
    )
    assert got2.count() == got_store.count()


def test_compaction_tombstones_ivf_store(spark, tmp_path, sf_dir):
    """IVF store: search over the tombstone-compacted baseline equals
    search over a from-scratch assignment of the reduced corpus."""
    from pyspark_pipeline_framework_spark.llm.similarity import (
        ivf_add,
        ivf_index,
        ivf_search,
    )
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivf_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, _ = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    store = str(tmp_path / "ivf")
    process = streaming_ivf_add_batch(store, cdf, dim=64)
    process(emb.where(F.col("vec_id") % 2 == 0), 0)
    process(emb.where(F.col("vec_id") % 2 == 1), 1)

    compacted = str(tmp_path / "ivf_del")
    got_store = compact_batch_store(
        spark, store, compacted,
        remove_ids=emb.where(F.col("vec_id") % 5 == 0).select("vec_id"),
        remove_id_col="vec_id", partition_by=["cell"],
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=64, k=5, nprobe=2)
    got = sorted(map(tuple, ivf_search(
        got_store.drop("batch_id"), cdf, queries, **kw
    ).collect()))
    want = sorted(map(tuple, ivf_search(
        ivf_add(emb.where(F.col("vec_id") % 5 != 0), cdf, dim=64),
        cdf, queries, **kw,
    ).collect()))
    assert got == want and want


def test_resume_stream_after_tombstone_compaction(spark, tmp_path, sf_dir):
    """r10 VERDICT item 3 (streaming half): a tombstone-compacted ANN
    store stays a valid LIVE store — resuming the add stream with a
    mirrored layout and then searching must equal a from-scratch
    assignment of (reduced ∪ new) under the frozen models. Proven for
    BOTH the IVF vector store and the IVFPQ code store."""
    from pyspark_pipeline_framework_spark.llm.pq import (
        ivfpq_add,
        ivfpq_index,
        ivfpq_search,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import (
        ivf_add,
        ivf_index,
        ivf_search,
    )
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivf_add_batch,
        streaming_ivfpq_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 2 == 0)   # indexed before the delete
    new = emb.where(F.col("vec_id") % 2 == 1)   # streamed in after resume
    dead = F.col("vec_id") % 5 == 0             # tombstoned ids
    tomb = emb.where(dead).select("vec_id")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # rebuilt corpus = (old minus tombstoned) ∪ new — a new vector
    # re-entering a tombstoned id is legal (tombstones delete STORE
    # ROWS at compaction time, not future ids)

    # --- IVF vector store
    cdf, _ = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    store = str(tmp_path / "ivf")
    streaming_ivf_add_batch(store, cdf, dim=64)(old, 0)
    compacted = str(tmp_path / "ivf_del")
    compact_batch_store(
        spark, store, compacted, remove_ids=tomb, remove_id_col="vec_id",
        partition_by=["cell"],
    )
    streaming_ivf_add_batch(
        compacted, cdf, dim=64, partition_by=["cell"]
    )(new, 0)  # fresh checkpoint: batch ids restart at 0 — safe vs baseline -1
    kw = dict(dim=64, k=5, nprobe=2)
    got = sorted(map(tuple, ivf_search(
        spark.read.parquet(compacted).drop("batch_id"), cdf, queries, **kw
    ).collect()))
    rebuilt = ivf_add(
        old.where(~dead).unionByName(new), cdf, dim=64
    )
    want = sorted(map(tuple, ivf_search(rebuilt, cdf, queries, **kw).collect()))
    assert got == want and want

    # --- IVFPQ code store
    pc, pb, _ = ivfpq_index(emb, dim=64, nlist=8, m_sub=16, ksub=16,
                            train_sample=256)
    pstore = str(tmp_path / "ivfpq")
    streaming_ivfpq_add_batch(pstore, pc, pb, dim=64)(old, 0)
    pcompacted = str(tmp_path / "ivfpq_del")
    compact_batch_store(
        spark, pstore, pcompacted, remove_ids=tomb, remove_id_col="vec_id",
        partition_by=["cell"],
    )
    streaming_ivfpq_add_batch(
        pcompacted, pc, pb, dim=64, partition_by=["cell"]
    )(new, 0)
    pgot = sorted(map(tuple, ivfpq_search(
        spark.read.parquet(pcompacted).drop("batch_id"), pc, pb, queries,
        dim=64, k=5, nprobe=2, prune_cells=True,
    ).collect()))
    prebuilt = ivfpq_add(old.where(~dead).unionByName(new), pc, pb, dim=64)
    pwant = sorted(map(tuple, ivfpq_search(
        prebuilt, pc, pb, queries, dim=64, k=5, nprobe=2,
    ).collect()))
    assert pgot == pwant and pwant


def test_two_generation_store_maintenance_cycle(spark, tmp_path, sf_dir):
    """The real long-run lifecycle: stream batches → compact gen-1
    (tombstones) → resume stream → compact gen-2 (retention over the
    RESUMED batches + more tombstones, baseline retained) → the final
    baseline equals a from-scratch band build over exactly the
    surviving corpus. Proves compaction composes with itself — gen-2
    reads a store whose history already lives at batch_id=-1."""
    from pyspark_pipeline_framework_spark.llm.dedup import minhash_bands

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    kw = dict(num_hashes=32, bands=8, shingle_k=3, hash_fn="md5")
    store = str(tmp_path / "bands")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    b2 = docs.where(F.col("doc_id") % 3 == 2)
    minhash_bands(b0, **kw).write.parquet(f"{store}/batch_id=0")
    minhash_bands(b1, **kw).write.parquet(f"{store}/batch_id=1")

    # gen-1: tombstone doc_id % 7 == 0 out of the first two batches
    gen1 = str(tmp_path / "gen1")
    compact_batch_store(
        spark, store, gen1,
        remove_ids=docs.where(F.col("doc_id") % 7 == 0)
        .select(F.col("doc_id").alias("id")),
        remove_id_col="id",
    )
    # resume: a new micro-batch lands next to the baseline (fresh
    # checkpoint restarts ids at 0 — safe, history lives at -1)
    minhash_bands(b2, **kw).write.parquet(f"{gen1}/batch_id=0")

    # gen-2: keep the resumed batch (min_batch_id=0 is a no-op cutoff
    # that still exercises the retention filter alongside a baseline)
    # and tombstone doc_id % 11 == 1 across baseline AND new rows
    gen2 = str(tmp_path / "gen2")
    final = compact_batch_store(
        spark, gen1, gen2,
        min_batch_id=0,
        remove_ids=docs.where(F.col("doc_id") % 11 == 1)
        .select(F.col("doc_id").alias("id")),
        remove_id_col="id",
    )
    surviving = docs.where(
        ((F.col("doc_id") % 3 == 2) | (F.col("doc_id") % 7 != 0))
        & (F.col("doc_id") % 11 != 1)
    )
    want = sorted(map(tuple, minhash_bands(surviving, **kw).collect()))
    got = sorted(map(tuple, final.drop("batch_id").collect()))
    assert got == want and want
    # the whole gen-2 store is ONE baseline partition
    assert final.select("batch_id").distinct().collect()[0][0] == -1


def test_compaction_of_emptied_store(spark, tmp_path, sf_dir):
    """A zero-row baseline is a legitimate store state (empty history,
    or every row tombstoned): the read-back must return an empty frame
    with the store schema, not fail schema inference over a dir holding
    only _SUCCESS."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    all_ids = spark.read.parquet(store).select("id").distinct()
    got = compact_batch_store(
        spark, store, str(tmp_path / "all_gone"),
        remove_ids=all_ids, remove_id_col="id",
    )
    assert got.count() == 0
    assert set(got.columns) == set(spark.read.parquet(store).columns)
    # partition_by form of the same edge
    got2 = compact_batch_store(
        spark, store, str(tmp_path / "all_gone_p"),
        remove_ids=all_ids, remove_id_col="id", partition_by=["band_idx"],
    )
    assert got2.count() == 0 and "band_idx" in got2.columns


def test_compaction_tombstone_validation(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    with pytest.raises(ValueError, match="together"):
        compact_batch_store(spark, store, str(tmp_path / "x"), remove_ids=[1])
    with pytest.raises(ValueError, match="together"):
        compact_batch_store(spark, store, str(tmp_path / "x"), remove_id_col="id")
    with pytest.raises(ValueError, match="not in store"):
        compact_batch_store(
            spark, store, str(tmp_path / "x"),
            remove_ids=[1], remove_id_col="nope",
        )
    with pytest.raises(ValueError, match="single id column"):
        compact_batch_store(
            spark, store, str(tmp_path / "x"),
            remove_ids=docs.select("doc_id", "text"), remove_id_col="id",
        )


def test_compaction_validation_errors(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    with pytest.raises(ValueError, match="NEW store directory"):
        compact_batch_store(spark, store, store + "/")
    # nesting in either direction is as fatal as equality (r9 ADVICE)
    with pytest.raises(ValueError, match="must not be nested"):
        compact_batch_store(spark, store, store + "/compacted")
    with pytest.raises(ValueError, match="must not be nested"):
        compact_batch_store(spark, store + "/batch_id=0", str(tmp_path))
    with pytest.raises(ValueError, match="partition_by columns"):
        compact_batch_store(
            spark, store, str(tmp_path / "x"), partition_by=["nope"]
        )
    flat = str(tmp_path / "flat")
    docs.limit(5).write.parquet(flat)
    with pytest.raises(ValueError, match="batch_id-partitioned"):
        compact_batch_store(spark, flat, str(tmp_path / "x"))
    # refuse to overwrite an existing output (errorifexists)
    out = str(tmp_path / "once")
    compact_batch_store(spark, store, out)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        compact_batch_store(spark, store, out)


def test_compact_store_config_op(spark, tmp_path, sf_dir):
    """Declarative path: op compact_store in a pipeline."""
    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    out = str(tmp_path / "store_c")
    cfg = PipelineConfig.from_dict({
        "name": "compact-demo",
        "components": [
            {"name": "compact", "op": "compact_store", "output": "baseline",
             "params": {"store": store, "out": out}},
        ],
    })
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    assert runner.catalog.get("baseline").count() == spark.read.parquet(store).count()


def test_compact_store_config_op_catalog_tombstones(spark, tmp_path, sf_dir):
    """Declarative right-to-be-forgotten: an earlier pipeline stage
    computes the tombstone id frame, compact_store resolves it via
    remove_ids_input from the catalog; passing both tombstone forms is
    a typed config error."""
    import pytest as _pytest

    from pyspark_pipeline_framework_spark.plans.config import PipelineConfig
    from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
    from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
    from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, _ = _band_store(spark, tmp_path, docs)
    out = str(tmp_path / "store_rtbf")
    cfg = PipelineConfig.from_dict({
        "name": "rtbf-demo",
        "components": [
            {"name": "tombstones", "op": "sql", "output": "dead_ids",
             "params": {"sql": f"SELECT DISTINCT id FROM parquet.`{store}` "
                               "WHERE id % 4 = 0"}},
            {"name": "compact", "op": "compact_store", "output": "baseline",
             "params": {"store": store, "out": out,
                        "remove_ids_input": "dead_ids",
                        "remove_id_col": "id"}},
        ],
    })
    runner = PipelineRunner(cfg, spark, resilience=NO_RETRY)
    assert runner.run().status == PipelineStatus.SUCCESS
    base = runner.catalog.get("baseline")
    assert base.where(F.col("id") % 4 == 0).count() == 0
    want = spark.read.parquet(store).where(F.col("id") % 4 != 0).count()
    assert base.count() == want and want > 0

    from pyspark_pipeline_framework_spark.plans.registry import default_registry

    with _pytest.raises(ValueError, match="not both"):
        default_registry.get("compact_store")(
            spark, runner.catalog,
            store=store, out=str(tmp_path / "x"),
            remove_ids_input="dead_ids", remove_ids=[1], remove_id_col="id",
        )


def test_compacted_ivfpq_store_search_and_cell_pruning(spark, tmp_path, sf_dir):
    """IVFPQ store compaction with partition_by=['cell']: search
    results identical over the folded baseline, and prune_cells
    static-prunes the compacted store's scan."""
    import re

    from pyspark_pipeline_framework_spark.llm.pq import ivfpq_index, ivfpq_search
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivfpq_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, cbdf, _ = ivfpq_index(
        emb, dim=64, nlist=8, m_sub=16, ksub=16, train_sample=256
    )
    store = str(tmp_path / "ivfpq")
    process = streaming_ivfpq_add_batch(store, cdf, cbdf, dim=64)
    process(emb.where(F.col("vec_id") % 2 == 0), 0)
    process(emb.where(F.col("vec_id") % 2 == 1), 1)

    compacted = str(tmp_path / "ivfpq_c")
    got = compact_batch_store(spark, store, compacted, partition_by=["cell"])
    assert got.count() == spark.read.parquet(store).count()

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(map(tuple, ivfpq_search(
        spark.read.parquet(store).drop("batch_id"), cdf, cbdf, queries,
        dim=64, k=5, nprobe=2,
    ).collect()))
    pruned = ivfpq_search(
        spark.read.parquet(compacted).drop("batch_id"), cdf, cbdf, queries,
        dim=64, k=5, nprobe=2, prune_cells=True,
    )
    assert sorted(map(tuple, pruned.collect())) == want and want
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1)


def test_compaction_min_batch_id_retention(spark, tmp_path, sf_dir):
    """Sliding-window retention: min_batch_id ages out rows from
    micro-batches older than the cutoff during the rewrite, the
    (negative) baseline partition always survives, and validation
    rejects negative / boolean cutoffs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, _, process = _band_store(spark, tmp_path, docs)
    process(docs.where(F.col("doc_id") % 3 == 2), 2)

    full = spark.read.parquet(store)
    want_kept = sorted(
        map(tuple, full.where(F.col("batch_id") >= 1).drop("batch_id").collect())
    )
    aged = compact_batch_store(
        spark, store, str(tmp_path / "aged"), min_batch_id=1
    )
    assert sorted(map(tuple, aged.drop("batch_id").collect())) == want_kept
    assert aged.select("batch_id").distinct().collect()[0][0] == -1

    # baseline retention: store2 = aged baseline + one new batch, then
    # age with a cutoff above every live batch — only the (negative)
    # baseline survives, proving batch_id=-1 is never aged out
    import shutil

    store2 = str(tmp_path / "store2")
    shutil.copytree(str(tmp_path / "aged"), store2)
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_neardup_batch,
    )

    process2 = incremental_neardup_batch(store2, str(tmp_path / "pairs2"))
    process2(docs.where(F.col("doc_id") % 7 == 0), 0)
    aged2 = compact_batch_store(
        spark, store2, str(tmp_path / "aged2"), min_batch_id=5
    )
    assert sorted(map(tuple, aged2.drop("batch_id").collect())) == want_kept

    with pytest.raises(ValueError, match="min_batch_id"):
        compact_batch_store(spark, store, str(tmp_path / "bad1"), min_batch_id=-1)
    with pytest.raises(ValueError, match="min_batch_id"):
        compact_batch_store(spark, store, str(tmp_path / "bad2"), min_batch_id=True)
