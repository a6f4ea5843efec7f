"""Stateful streaming operators: state carried across micro-batches,
bounded-state dedup."""

import time

import pytest

from pyspark_pipeline_framework_spark.streaming import (
    FileStreamingSource,
    MemoryStreamingSink,
    OutputMode,
    StreamingPipeline,
    Trigger,
    TriggerType,
)
from pyspark_pipeline_framework_spark.streaming.stateful import (
    running_counts,
    streaming_dedup,
)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    rows = [
        ("2024-01-01 00:00:00", "a"),
        ("2024-01-01 00:00:10", "a"),   # dup key within watermark → dropped
        ("2024-01-01 00:00:20", "b"),
    ]
    spark.createDataFrame(rows, "ts_str string, k string").coalesce(1).write.json(src_dir)

    def dedup(df):
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.to_timestamp("ts_str"))
        return streaming_dedup(df, ["k"], "ts", "1 minute").select("k")

    StreamingPipeline(
        source=FileStreamingSource(src_dir, file_format="json", schema="ts_str STRING, k STRING"),
        sink=MemoryStreamingSink("dedup_out"),
        trigger=Trigger(TriggerType.AVAILABLE_NOW),
        checkpoint_location=ckpt,
        transform_fn=dedup,
    ).set_spark_session(spark).run(timeout_s=60)
    out = sorted(r.k for r in spark.table("dedup_out").collect())
    assert out == ["a", "b"]


def test_stream_stream_join_with_time_bound(spark, tmp_path):
    """Watermarked stream-stream inner join with an event-time range
    condition — the state-bounded join pattern (SURVEY §2.6 gap)."""
    from pyspark.sql import functions as F

    imp_dir, clk_dir, ckpt = str(tmp_path / "imp"), str(tmp_path / "clk"), str(tmp_path / "ck")
    spark.createDataFrame(
        [("ad1", "2024-01-01 00:00:00"), ("ad2", "2024-01-01 00:10:00")],
        "ad string, ts_str string",
    ).coalesce(1).write.json(imp_dir)
    spark.createDataFrame(
        [("ad1", "2024-01-01 00:02:00"),   # within 5 min of impression → joins
         ("ad2", "2024-01-01 00:30:00")],  # 20 min later → dropped
        "ad string, ts_str string",
    ).coalesce(1).write.json(clk_dir)

    schema = "ad STRING, ts_str STRING"
    imp = (
        spark.readStream.format("json").schema(schema).load(imp_dir)
        .select("ad", F.to_timestamp("ts_str").alias("imp_ts"))
        .withWatermark("imp_ts", "1 hour")
    )
    clk = (
        spark.readStream.format("json").schema(schema).load(clk_dir)
        .select(F.col("ad").alias("c_ad"), F.to_timestamp("ts_str").alias("clk_ts"))
        .withWatermark("clk_ts", "1 hour")
    )
    joined = imp.join(
        clk,
        (F.col("ad") == F.col("c_ad"))
        & (F.col("clk_ts") >= F.col("imp_ts"))
        & (F.col("clk_ts") <= F.col("imp_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    ).select("ad", "imp_ts", "clk_ts")

    query = (
        joined.writeStream.format("memory").queryName("ss_join")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(60)
    rows = spark.table("ss_join").collect()
    assert [r.ad for r in rows] == ["ad1"]


def test_running_counts_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1) → state must carry the
    first batch's counts into the second."""
    src_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    spark.createDataFrame([("u1", 1.0), ("u1", 2.0)], "k string, v double") \
        .coalesce(1).write.mode("overwrite").json(src_dir + "/f1")
    spark.createDataFrame([("u1", 4.0), ("u2", 8.0)], "k string, v double") \
        .coalesce(1).write.mode("overwrite").json(src_dir + "/f2")

    pipe = StreamingPipeline(
        source=FileStreamingSource(
            src_dir, file_format="json", schema="k STRING, v DOUBLE",
            options={"maxFilesPerTrigger": "1", "recursiveFileLookup": "true"},
        ),
        sink=MemoryStreamingSink("running_out"),
        output_mode=OutputMode.UPDATE,
        trigger=Trigger(TriggerType.AVAILABLE_NOW),
        checkpoint_location=ckpt,
        transform_fn=lambda df: running_counts(df, "k", "v"),
    )
    pipe.set_spark_session(spark).run(timeout_s=90)
    rows = spark.table("running_out").collect()
    # last emission per key reflects cumulative state
    final = {}
    for r in rows:
        final[r.key] = (r.n, r.total)
    assert final["u1"] == (3, 7.0)
    assert final["u2"] == (1, 8.0)


def test_pbvendor_shim_blast_radius_is_statemessage_only():
    """The vendored-protobuf version-gate relaxation
    (tests/_pbvendor/sitecustomize.py) must fire ONLY for pyspark's
    StateMessage gencode: any OTHER generated module one minor ahead of
    the runtime must still raise VersionError (r10 VERDICT item 8 —
    the shim is global process state, so its acceptance is pinned to
    the single module it exists for)."""
    import pytest as _pytest

    try:
        from google.protobuf import runtime_version as rv
    except ImportError:
        _pytest.skip("protobuf not importable at all")
    if getattr(rv.ValidateProtobufRuntimeVersion, "__name__", "") != "_lenient":
        _pytest.skip("shim inactive (real protobuf installed)")
    ahead = (rv.DOMAIN, rv.MAJOR, rv.MINOR + 1, 0, "")
    # the exact location string pyspark's StateMessage gencode passes
    sm = "org/apache/spark/sql/execution/streaming/StateMessage.proto"
    # one-minor-ahead gencode: accepted for StateMessage...
    rv.ValidateProtobufRuntimeVersion(*ahead, sm)
    # ...rejected for anything else
    with _pytest.raises(rv.VersionError):
        rv.ValidateProtobufRuntimeVersion(*ahead, "someother/module_pb2.py")
    # ...including a third-party module whose path merely CONTAINS the
    # word StateMessage (r11 ADVICE: the gate matches the full proto
    # path, not the bare substring)
    with _pytest.raises(rv.VersionError):
        rv.ValidateProtobufRuntimeVersion(*ahead, "vendor/StateMessage_pb2.py")
    # and a two-minor gap is rejected even for StateMessage
    far = (rv.DOMAIN, rv.MAJOR, rv.MINOR + 2, 0, "")
    with _pytest.raises(rv.VersionError):
        rv.ValidateProtobufRuntimeVersion(*far, sm)


def test_incremental_neardup_stream_matches_batch(spark, tmp_path, sf_dir):
    """Streaming near-dup via the parquet band store: three
    single-file micro-batches through incremental_neardup_batch must
    surface exactly the full-batch MinHash-LSH candidate pairs, and
    the store must end with every doc's bands exactly once."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.dedup import (
        minhash_candidate_pairs,
    )
    from pyspark_pipeline_framework_spark.streaming.sinks import ForeachBatchSink
    from pyspark_pipeline_framework_spark.streaming.sources import FileStreamingSource
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_neardup_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "in")
    for i in range(3):  # one file per "day" → one micro-batch each
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).json(src)
    store, pairs, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ck"),
    )
    StreamingPipeline(
        source=FileStreamingSource(
            src,
            file_format="json",
            schema="doc_id BIGINT, text STRING",
            options={"maxFilesPerTrigger": "1"},
        ),
        sink=ForeachBatchSink(incremental_neardup_batch(store, pairs)),
        trigger=Trigger(TriggerType.AVAILABLE_NOW),
        checkpoint_location=ckpt,
    ).set_spark_session(spark).run(timeout_s=120)

    got = {
        (r.id_a, r.id_b) for r in spark.read.parquet(pairs).collect()
    }
    want = {
        (r.id_a, r.id_b) for r in minhash_candidate_pairs(docs).collect()
    }
    assert got == want and want  # planted near-dups exist even at sf0.001
    store_df = spark.read.parquet(store)
    n_docs = docs.count()
    assert store_df.count() == n_docs * 16
    assert store_df.select("id").distinct().count() == n_docs
    # maxFilesPerTrigger=1 must actually have split the run into three
    # micro-batches (otherwise this test silently degrades to the
    # batch path and proves nothing about cross-batch state)
    assert store_df.select("batch_id").distinct().count() == 3


def test_incremental_spans_stream_matches_batch(spark, tmp_path, sf_dir):
    """Streaming ExactSubstr via the gram/count/span stores: three
    single-file micro-batches through incremental_spans_batch must end
    with a corpus-current span table (latest update per doc) exactly
    equal to a from-scratch duplicated_spans over everything ingested,
    with the gram store holding every doc's grams exactly once."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.dedup import (
        current_span_table,
        duplicated_spans,
        substring_gram_stream,
    )
    from pyspark_pipeline_framework_spark.streaming.sinks import ForeachBatchSink
    from pyspark_pipeline_framework_spark.streaming.sources import FileStreamingSource
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_spans_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "in")
    for i in range(3):  # one file per "day" → one micro-batch each
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).json(src)
    store, counts, spans, ckpt = (
        str(tmp_path / "grams"),
        str(tmp_path / "counts"),
        str(tmp_path / "spans"),
        str(tmp_path / "ck"),
    )
    StreamingPipeline(
        source=FileStreamingSource(
            src,
            file_format="json",
            schema="doc_id BIGINT, text STRING",
            options={"maxFilesPerTrigger": "1"},
        ),
        sink=ForeachBatchSink(incremental_spans_batch(store, counts, spans)),
        trigger=Trigger(TriggerType.AVAILABLE_NOW),
        checkpoint_location=ckpt,
    ).set_spark_session(spark).run(timeout_s=120)

    got = sorted(
        map(tuple, current_span_table(spark.read.parquet(spans)).collect())
    )
    want = sorted(map(tuple, duplicated_spans(docs, min_tokens=8).collect()))
    assert got == want and want  # duplicated spans exist even at sf0.001
    store_df = spark.read.parquet(store)
    assert store_df.drop("batch_id").count() == substring_gram_stream(
        docs, 8
    ).count()
    assert store_df.select("batch_id").distinct().count() == 3
    # partial counts must SUM to the true corpus counts
    summed = (
        spark.read.parquet(counts).groupBy("gh").agg(F.sum("cnt").alias("c"))
    )
    true = substring_gram_stream(docs, 8).groupBy("gh").count()
    assert (
        summed.join(true, "gh", "full_outer")
        .where("c IS DISTINCT FROM count")
        .count()
        == 0
    )


def test_incremental_spans_batch_compaction_and_fresh_restart(
    spark, tmp_path, sf_dir
):
    """Maintenance cycle: gram/count stores compacted with
    compact_batch_store (union keeps partial counts correct — partials
    are summable), the span UPDATE store with compact_span_store
    (latest-wins fold — a union would strand stale rows beside fresh
    ones at the baseline), then the stream resumes with a FRESH
    checkpoint (batch ids restart at 0 — the restart hazard the
    batch_id=-1 baseline exists for) and still yields exactly the
    from-scratch span table."""
    import shutil

    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.compaction import (
        compact_batch_store,
        compact_span_store,
    )
    from pyspark_pipeline_framework_spark.llm.dedup import (
        current_span_table,
        duplicated_spans,
    )
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_spans_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, counts, spans = (
        str(tmp_path / "grams"),
        str(tmp_path / "counts"),
        str(tmp_path / "spans"),
    )
    process = incremental_spans_batch(store, counts, spans)
    thirds = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    process(thirds[0], 0)
    process(thirds[1], 1)

    # compact all three stores → swap → resume with a FRESH checkpoint
    # (batch ids restart at 0; the baselines live at -1, unreachable)
    for p in (store, counts):
        compact_batch_store(spark, p, p + ".c")
        shutil.rmtree(p)
        shutil.move(p + ".c", p)
    compact_span_store(spark, spans, spans + ".c")
    shutil.rmtree(spans)
    shutil.move(spans + ".c", spans)
    process2 = incremental_spans_batch(store, counts, spans)
    process2(thirds[2], 0)
    got = sorted(
        map(tuple, current_span_table(spark.read.parquet(spans)).collect())
    )
    want = sorted(map(tuple, duplicated_spans(docs, min_tokens=8).collect()))
    assert got == want


def _replay_writer(kind, spark, sf_dir):
    """``(make, stores, b0, b1)`` for one store writer: ``make(root)``
    builds a fresh writer over stores under ``root``; ``stores`` names
    every batch_id store it writes, outputs included."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.streaming import stateful

    if kind in ("neardup", "spans"):
        data = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        key = "doc_id"
    else:
        data = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        key = "vec_id"
    if kind == "neardup":
        stores = ["bands", "pairs"]

        def make(r):
            return stateful.incremental_neardup_batch(f"{r}/bands", f"{r}/pairs")
    elif kind == "spans":
        stores = ["grams", "counts", "spans"]

        def make(r):
            return stateful.incremental_spans_batch(
                f"{r}/grams", f"{r}/counts", f"{r}/spans"
            )
    elif kind == "ivf":
        from pyspark_pipeline_framework_spark.llm.similarity import ivf_index

        cdf, _ = ivf_index(data, dim=64, nlist=8, train_sample=256)
        stores = ["store"]

        def make(r):
            return stateful.streaming_ivf_add_batch(
                f"{r}/store", cdf, dim=64
            )
    else:
        from pyspark_pipeline_framework_spark.llm.pq import ivfpq_index

        cdf, cbdf, _ = ivfpq_index(
            data, dim=64, nlist=8, m_sub=16, ksub=16, train_sample=256
        )
        stores = ["store"]

        def make(r):
            return stateful.streaming_ivfpq_add_batch(f"{r}/store", cdf, cbdf, dim=64)
    halves = [data.where(F.col(key) % 2 == i) for i in range(2)]
    return make, stores, *halves


@pytest.mark.parametrize("kind", ["neardup", "spans", "ivf", "ivfpq"])
def test_store_writer_replay_equals_clean_run(kind, spark, tmp_path, sf_dir):
    """foreachBatch is at-least-once: a first attempt of batch_id=1 that
    wrote only half the batch, then the replay of the full batch, must
    leave every store and output equal row for row to a clean run: the
    replay overwrites its own partitions, so it never double-appends and
    never reads its earlier attempt as history."""
    from pyspark.sql import functions as F

    make, stores, b0, b1 = _replay_writer(kind, spark, sf_dir)
    replayed, clean = str(tmp_path / "replayed"), str(tmp_path / "clean")
    process = make(replayed)
    process(b0, 0)
    process(b1.where(F.rand(seed=7) < 0.5), 1)  # the failed first attempt
    process(b1, 1)
    process = make(clean)
    process(b0, 0)
    process(b1, 1)
    for name in stores:
        want = sorted(map(tuple, spark.read.parquet(f"{clean}/{name}").collect()))
        got = sorted(map(tuple, spark.read.parquet(f"{replayed}/{name}").collect()))
        assert want and got == want, name


def test_empty_first_batch_on_a_partitioned_band_store(spark, tmp_path, sf_dir):
    """A zero-row micro-batch writes no data file under a partition_by
    layout; the read-back must not infer the schema from the files, or
    an empty FIRST batch fails the stream on every replay. After it, the
    stream must find exactly the pairs of a run without the empty batch."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_neardup_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    halves = [docs.where(F.col("doc_id") % 2 == i) for i in range(2)]

    def pairs_of(root, batches):
        process = incremental_neardup_batch(
            f"{root}/bands", f"{root}/pairs", partition_by=["band_idx"]
        )
        for i, b in enumerate(batches):
            process(b, i)
        return sorted(
            map(tuple, spark.read.parquet(f"{root}/pairs").drop("batch_id").collect())
        )

    want = pairs_of(tmp_path / "clean", halves)
    assert want
    assert pairs_of(tmp_path / "empty_first", [docs.limit(0), *halves]) == want


def test_store_layout_probe_raises_on_a_corrupt_store(spark, tmp_path, sf_dir):
    """Only a missing store (or a directory without data files) is
    fresh: a store whose part file has a corrupt footer must fail the
    first micro-batch's layout probe before anything is written, not
    pass as a fresh store."""
    import glob
    import os

    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.io.compaction import _store_sub_layout
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        incremental_neardup_batch,
    )

    assert _store_sub_layout(spark, str(tmp_path / "missing")) is None
    os.makedirs(tmp_path / "empty")
    assert _store_sub_layout(spark, str(tmp_path / "empty")) is None

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    store, pairs = str(tmp_path / "store"), str(tmp_path / "pairs")
    incremental_neardup_batch(store, pairs)(docs.where(F.col("doc_id") % 2 == 0), 0)
    part = sorted(glob.glob(f"{store}/batch_id=0/part-*.parquet"))[0]
    with open(part, "r+b") as f:  # overwrite the footer length + magic
        f.seek(-8, os.SEEK_END)
        f.write(b"\xff\xff\xff\x7fPAR1")
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        incremental_neardup_batch(store, pairs)(docs.where(F.col("doc_id") % 2 == 1), 1)
    assert not os.path.exists(f"{store}/batch_id=1")


def test_store_layout_probe_reads_unless_the_client_sees_the_store(tmp_path):
    """A missing store on the client's own filesystem is fresh without
    a Spark read, whose failure logs a Java FileNotFoundException
    trace. Where the client cannot see what Spark sees — a URI path, a
    non-local fs.defaultFS, a Connect session — the read probe stays,
    even though the path is missing locally."""
    from types import SimpleNamespace

    from pyspark_pipeline_framework_spark.io.compaction import _store_sub_layout

    class Session:
        def __init__(self, default_fs=None):
            if default_fs is not None:  # classic; without it, Connect-like
                conf = SimpleNamespace(get=lambda key: default_fs)
                self.sparkContext = SimpleNamespace(
                    _jsc=SimpleNamespace(hadoopConfiguration=lambda: conf)
                )

        @property
        def read(self):
            raise AssertionError("probed with a Spark read")

    missing = str(tmp_path / "missing")
    for path in (missing, "file:" + missing, "file://" + missing):
        assert _store_sub_layout(Session("file:///"), path) is None
    for spark, path in (
        (Session("file:///"), "s3a://bucket/missing"),
        (Session("file:///"), "dbfs:/missing"),
        (Session("hdfs://nn:8020"), missing),
        (Session(), missing),
    ):
        with pytest.raises(AssertionError, match="Spark read"):
            _store_sub_layout(spark, path)


def test_config_declared_streaming_neardup(spark, tmp_path, sf_dir):
    """The declarative path: op:stream with a neardup block (no sink)
    must run the incremental MinHash foreachBatch operator and land
    both parquet outputs; load-time validation rejects sink+neardup
    together and malformed blocks."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.dedup import minhash_candidate_pairs
    from pyspark_pipeline_framework_spark.streaming.config import (
        StreamingConfigError,
        run_stream_component,
        validate_stream_params,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "in")
    for i in range(2):
        docs.where(F.col("doc_id") % 2 == i).coalesce(1).write.mode("append").json(src)
    store, pairs = str(tmp_path / "store"), str(tmp_path / "pairs")
    params = {
        "source": {"type": "file", "path": src, "file_format": "json",
                   "schema": "doc_id BIGINT, text STRING",
                   "options": {"maxFilesPerTrigger": "1"}},
        "neardup": {"store": store, "pairs": pairs},
        "trigger": "available_now",
        "checkpoint": str(tmp_path / "ck"),
        "timeout_s": 120,
    }
    validate_stream_params(params)
    with _pytest.raises(StreamingConfigError, match="mutually exclusive"):
        validate_stream_params({**params, "sink": {"type": "memory", "query_name": "x"}})
    with _pytest.raises(StreamingConfigError, match="store"):
        validate_stream_params({**params, "neardup": {"pairs": pairs}})

    run_stream_component(spark, **params)
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(pairs).collect()}
    want = {(r.id_a, r.id_b) for r in minhash_candidate_pairs(docs).collect()}
    assert got == want and want


def test_streaming_ivf_add_matches_batch(spark, tmp_path, sf_dir):
    """Streaming ANN-index growth: three parquet micro-batches through
    streaming_ivf_add_batch under a frozen quantizer must leave the
    SAME assigned store (and therefore the same search results) as one
    batch ivf_add over all vectors."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.similarity import (
        centroids_from_df,
        ivf_add,
        ivf_index,
        ivf_search,
    )
    from pyspark_pipeline_framework_spark.streaming.sinks import ForeachBatchSink
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivf_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, _ = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    cpath = str(tmp_path / "centroids")
    cdf.write.parquet(cpath)

    src = str(tmp_path / "in")
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ck")
    StreamingPipeline(
        source=FileStreamingSource(
            src,
            file_format="parquet",
            schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
            options={"maxFilesPerTrigger": "1"},
        ),
        sink=ForeachBatchSink(
            streaming_ivf_add_batch(store, cpath, dim=64)
        ),
        trigger=Trigger(TriggerType.AVAILABLE_NOW),
        checkpoint_location=ckpt,
    ).set_spark_session(spark).run(timeout_s=120)

    streamed = spark.read.parquet(store)
    # the quantizer is frozen, so streamed assignment == batch assignment
    want_assign = sorted(
        (r.vec_id, r.cell)
        for r in ivf_add(emb, centroids_from_df(cdf), dim=64)
        .collect()
    )
    got_assign = sorted((r.vec_id, r.cell) for r in streamed.collect())
    assert got_assign == want_assign and want_assign
    assert streamed.select("batch_id").distinct().count() == 3

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(dim=64, k=5, nprobe=3)
    got = sorted(map(tuple, ivf_search(
        streamed.drop("batch_id"), cdf, queries, **kw
    ).collect()))
    want = sorted(map(tuple, ivf_search(
        ivf_add(emb, centroids_from_df(cdf), dim=64),
        cdf, queries, **kw,
    ).collect()))
    assert got == want and want


def test_config_declared_streaming_ivf_add(spark, tmp_path, sf_dir):
    """The declarative path: op:stream with an ivf_add block grows the
    store; load-time validation rejects sink/neardup conflicts, missing
    checkpoints, and malformed dims."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.similarity import (
        centroids_from_df,
        ivf_add,
        ivf_index,
    )
    from pyspark_pipeline_framework_spark.streaming.config import (
        StreamingConfigError,
        run_stream_component,
        validate_stream_params,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, _ = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    cpath = str(tmp_path / "centroids")
    cdf.write.parquet(cpath)
    src = str(tmp_path / "in")
    for i in range(2):
        emb.where(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store = str(tmp_path / "store")
    params = {
        "source": {"type": "file", "path": src, "file_format": "parquet",
                   "schema": "vec_id BIGINT, embedding ARRAY<DOUBLE>",
                   "options": {"maxFilesPerTrigger": "1"}},
        "ivf_add": {"store": store, "centroids": cpath, "dim": 64},
        "trigger": "available_now",
        "checkpoint": str(tmp_path / "ck"),
        "timeout_s": 120,
    }
    validate_stream_params(params)
    with _pytest.raises(StreamingConfigError, match="mutually exclusive"):
        validate_stream_params({**params, "sink": {"type": "memory", "query_name": "x"}})
    with _pytest.raises(StreamingConfigError, match="mutually exclusive"):
        validate_stream_params(
            {**params, "neardup": {"store": store, "pairs": store}}
        )
    with _pytest.raises(StreamingConfigError, match="checkpoint"):
        validate_stream_params({k: v for k, v in params.items() if k != "checkpoint"})
    with _pytest.raises(StreamingConfigError, match="dim"):
        validate_stream_params(
            {**params, "ivf_add": {**params["ivf_add"], "dim": "sixty-four"}}
        )
    with _pytest.raises(StreamingConfigError, match="unknown ivf_add fields"):
        validate_stream_params(
            {**params, "ivf_add": {**params["ivf_add"], "nlist": 8}}
        )

    run_stream_component(spark, **params)
    got = sorted(
        (r.vec_id, r.cell) for r in spark.read.parquet(store).collect()
    )
    want = sorted(
        (r.vec_id, r.cell)
        for r in ivf_add(emb, centroids_from_df(cdf), dim=64).collect()
    )
    assert got == want and want


def test_streaming_ivf_add_empty_micro_batch(spark, tmp_path, sf_dir):
    """foreachBatch can deliver an EMPTY micro-batch (e.g. a trigger
    with no new files): the operator must land an empty batch
    partition and the store must stay readable and searchable."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivf_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, _ = ivf_index(emb, dim=64, nlist=8, train_sample=256)
    store = str(tmp_path / "store")
    process = streaming_ivf_add_batch(store, cdf, dim=64)
    process(emb.where(F.col("vec_id") % 2 == 0), 0)
    process(emb.limit(0), 1)  # empty micro-batch
    got = spark.read.parquet(store)
    assert got.count() == emb.where(F.col("vec_id") % 2 == 0).count()
    assert got.where(F.col("batch_id") == 1).count() == 0


def test_streaming_ivfpq_add_matches_batch(spark, tmp_path, sf_dir):
    """Streaming IVFPQ-index growth: three parquet micro-batches
    through streaming_ivfpq_add_batch under a frozen quantizer pair
    must leave the SAME (cell, codes) store — and therefore identical
    search results — as one batch ivfpq_add over all vectors. Both
    models are read from parquet paths, the production restart shape."""
    from pyspark.sql import functions as F

    from pyspark_pipeline_framework_spark.llm.pq import (
        ivfpq_add,
        ivfpq_index,
        ivfpq_search,
    )
    from pyspark_pipeline_framework_spark.streaming.sinks import ForeachBatchSink
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivfpq_add_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, cbdf, want_store = ivfpq_index(
        emb, dim=64, nlist=8, m_sub=16, ksub=16, train_sample=256
    )
    cpath, bpath = str(tmp_path / "centroids"), str(tmp_path / "codebooks")
    cdf.write.parquet(cpath)
    cbdf.write.parquet(bpath)

    src = str(tmp_path / "in")
    for i in range(3):
        emb.where(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ck")
    StreamingPipeline(
        source=FileStreamingSource(
            src,
            file_format="parquet",
            schema="vec_id BIGINT, embedding ARRAY<DOUBLE>",
            options={"maxFilesPerTrigger": "1"},
        ),
        sink=ForeachBatchSink(
            streaming_ivfpq_add_batch(store, cpath, bpath, dim=64)
        ),
        trigger=Trigger(TriggerType.AVAILABLE_NOW),
        checkpoint_location=ckpt,
    ).set_spark_session(spark).run(timeout_s=120)

    streamed = spark.read.parquet(store)
    want_rows = sorted(
        (r.vec_id, r.cell, tuple(r.codes)) for r in want_store.collect()
    )
    got_rows = sorted(
        (r.vec_id, r.cell, tuple(r.codes)) for r in streamed.collect()
    )
    assert got_rows == want_rows and want_rows
    assert streamed.select("batch_id").distinct().count() == 3

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(map(tuple, ivfpq_search(
        streamed.drop("batch_id"), cdf, cbdf, queries, dim=64, k=5, nprobe=3
    ).collect()))
    want = sorted(map(tuple, ivfpq_search(
        want_store, cdf, cbdf, queries, dim=64, k=5, nprobe=3
    ).collect()))
    assert got == want and want


def test_ivf_add_block_codebooks_validation():
    """The ivf_add stream block's IVFPQ switch: codebooks must be a
    path string. A leftover 'mode' field (IVF has one exact-integer
    path) fails as an unknown field, with or without codebooks."""
    import pytest as _pytest

    from pyspark_pipeline_framework_spark.streaming.config import (
        StreamingConfigError,
        validate_stream_params,
    )

    base = {
        "source": {"type": "rate"},
        "checkpoint": "/tmp/ck",
        "ivf_add": {"store": "/tmp/s", "centroids": "/tmp/c", "dim": 8},
    }
    ok = {**base, "ivf_add": {**base["ivf_add"], "codebooks": "/tmp/b"}}
    validate_stream_params(ok)
    with _pytest.raises(StreamingConfigError, match="parquet path"):
        validate_stream_params(
            {**base, "ivf_add": {**base["ivf_add"], "codebooks": 7}}
        )
    for extra in ({}, {"codebooks": "/tmp/b"}):
        with _pytest.raises(StreamingConfigError,
                            match=r"unknown ivf_add fields \['mode'\]"):
            validate_stream_params(
                {**base, "ivf_add": {**base["ivf_add"], **extra, "mode": "exact"}}
            )
