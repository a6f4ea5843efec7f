"""The shipped example configs must run end-to-end through the CLI."""

import os

from pyspark_pipeline_framework_spark.cli import main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_batch_etl_example(spark):
    assert main([os.path.join(REPO, "examples", "batch_etl.json")]) == 0
    out = spark.read.option("header", "true").csv(os.path.join(REPO, ".scratch/examples/seg_stats"))
    assert out.count() == 5


def test_llm_dedup_example(spark):
    assert main([os.path.join(REPO, "examples", "llm_dedup_pipeline.json")]) == 0
    out = spark.read.parquet(os.path.join(REPO, ".scratch/examples/docs_curated"))
    assert out.count() > 0
    assert set(r.split for r in out.select("split").distinct().collect()) <= {"train", "valid", "test"}


def test_events_daily_hocon_example(spark):
    assert main([os.path.join(REPO, "examples", "events_daily.conf")]) == 0
    out = spark.read.parquet(os.path.join(REPO, ".scratch/examples/events_daily"))
    assert out.count() > 0
    assert "event_type" in out.columns  # partition column survives the roundtrip


def test_event_analytics_example(spark):
    """Funnel + retention through the registry ops, declared in HOCON."""
    assert main([os.path.join(REPO, "examples", "event_analytics.conf")]) == 0
    fun = spark.read.parquet(os.path.join(REPO, ".scratch/examples/funnel"))
    row = fun.collect()[0]
    assert row.n_step1 >= row.n_step2 >= row.n_step3 >= 0
    ret = spark.read.parquet(os.path.join(REPO, ".scratch/examples/retention"))
    assert ret.count() > 0 and "bucket_offset" in ret.columns


def test_documents_quality_include_example(spark):
    """Exercises HOCON include + substitution concat + schema contracts
    + checkpoint CLI flags end-to-end."""
    ckpt = os.path.join(REPO, ".scratch/examples/ckpt")
    assert main([
        os.path.join(REPO, "examples", "documents_quality.conf"),
        "--checkpoint-dir", ckpt,
    ]) == 0
    out = spark.read.parquet(os.path.join(REPO, ".scratch/examples/docs_quality"))
    assert out.count() > 0
    # full success cleared the checkpoint
    assert not [f for f in os.listdir(ckpt) if f.endswith(".checkpoint.json")]


def test_llm_curation_example(spark):
    """The round-3 showcase: config-only curation pipeline with hooks
    block, per-component retry, `+=` component list, packing."""
    import json

    assert main([os.path.join(REPO, "examples", "llm_curation.conf")]) == 0
    split = spark.read.parquet(os.path.join(REPO, ".scratch/examples/llm_curation/split"))
    assert split.count() > 0
    packed = spark.read.parquet(os.path.join(REPO, ".scratch/examples/llm_curation/packed"))
    assert set(packed.columns) == {"doc_id", "shard", "pack_id", "n_tokens"}
    # config-declared observers actually emitted
    audit_path = os.path.join(REPO, ".scratch/examples/llm_curation_audit.jsonl")
    events = [json.loads(l) for l in open(audit_path)]
    assert any(e["action"] == "pipeline_end" and e["status"] == "success" for e in events)
    metrics = json.load(open(os.path.join(REPO, ".scratch/examples/llm_curation_metrics.json")))
    assert any("component_runs" in k for k in metrics["counters"])


def test_streaming_etl_example(spark):
    """`op: stream` declared in config next to a batch chain; every
    trigger is `available_now`, so the streams drain before the batch
    chain runs."""
    import shutil

    # a fresh stream checkpoint so repeated test runs re-drain the source
    for d in ("stream_docs_ckpt", "stream_docs",
              "stream_user_firsts_ckpt", "stream_user_firsts"):
        shutil.rmtree(os.path.join(REPO, f".scratch/examples/{d}"), ignore_errors=True)
    assert main([os.path.join(REPO, "examples", "streaming_etl.conf")]) == 0
    streamed = spark.read.parquet(os.path.join(REPO, ".scratch/examples/stream_docs"))
    assert streamed.count() > 0
    assert streamed.filter("n_chars < 200").count() == 0
    rollup = spark.read.parquet(os.path.join(REPO, ".scratch/examples/stream_lang_counts"))
    assert rollup.count() > 0 and set(rollup.columns) == {"lang", "n"}
    # declarative dropDuplicatesWithinWatermark: at most one row per user
    firsts = spark.read.parquet(os.path.join(REPO, ".scratch/examples/stream_user_firsts"))
    assert firsts.count() > 0
    assert firsts.groupBy("user_id").count().filter("count > 1").count() == 0


def test_incremental_dedup_example(spark):
    """Incremental MinHash-LSH through the registry ops: band store +
    new-batch join declared in HOCON; pairs and the appended store
    parquet both land."""
    assert main([os.path.join(REPO, "examples", "incremental_dedup.conf")]) == 0
    pairs = spark.read.parquet(os.path.join(REPO, ".scratch/examples/incr_pairs"))
    got = pairs.collect()
    assert all(r.id_a < r.id_b for r in got)
    assert all(r.id_a % 2 == 1 or r.id_b % 2 == 1 for r in got)  # touch new batch
    store = spark.read.parquet(os.path.join(REPO, ".scratch/examples/band_store"))
    assert set(store.columns) == {"id", "band_idx", "band_hash"}
    assert store.count() > 0


def test_exact_substring_dedup_example(spark):
    """Batch detect→cut AND the incremental gram/count-store recipe
    declared in HOCON; the clean text and the folded span table both
    land, and the incremental span table equals a from-scratch
    duplicated_spans over the whole corpus."""
    from pyspark_pipeline_framework_spark.llm.dedup import duplicated_spans

    assert main([os.path.join(REPO, "examples", "exact_substring_dedup.conf")]) == 0
    clean = spark.read.parquet(os.path.join(REPO, ".scratch/examples/clean_docs"))
    assert {"clean_text", "removed_tokens"} <= set(clean.columns)
    assert clean.where("removed_tokens > 0").count() > 0
    spans = spark.read.parquet(os.path.join(REPO, ".scratch/examples/span_table"))
    # same source the example's common_settings.conf data_root points at
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(map(tuple, duplicated_spans(src, min_tokens=8).collect()))
    assert sorted(map(tuple, spans.collect())) == want


def test_ann_index_example(spark):
    """Incremental IVF ANN through the registry ops declared in HOCON;
    the knn results, centroid table, and cell-partitioned store all
    land."""
    assert main([os.path.join(REPO, "examples", "ann_index.conf")]) == 0
    knn = spark.read.parquet(os.path.join(REPO, ".scratch/examples/knn"))
    rows = knn.collect()
    assert rows and all(1 <= r.rank <= 5 for r in rows)
    cent = spark.read.parquet(os.path.join(REPO, ".scratch/examples/ann_centroids"))
    assert cent.count() == 8
    store_root = os.path.join(REPO, ".scratch/examples/ann_store")
    store = spark.read.parquet(store_root)
    assert "cell" in store.columns and store.count() > 0
    assert any(d.startswith("cell=") for d in os.listdir(store_root))


def test_pq_index_example(spark):
    """PQ ANN through the registry ops declared in HOCON; the knn
    results, codebook table, and code store all land."""
    assert main([os.path.join(REPO, "examples", "pq_index.conf")]) == 0
    knn = spark.read.parquet(os.path.join(REPO, ".scratch/examples/pq_knn"))
    rows = knn.collect()
    assert rows and all(1 <= r.rank <= 5 for r in rows)
    cb = spark.read.parquet(os.path.join(REPO, ".scratch/examples/pq_codebooks"))
    assert cb.count() == 16 * 16
    codes = spark.read.parquet(os.path.join(REPO, ".scratch/examples/pq_codes"))
    first = codes.first()
    assert len(first.codes) == 16 and all(0 <= c < 16 for c in first.codes)


def test_streaming_neardup_example(spark):
    """Declarative streaming near-dup: the neardup block drains the
    documents stream into candidate pairs + band store parquet."""
    import shutil

    for d in ("neardup_store", "neardup_pairs", "neardup_ck"):
        shutil.rmtree(os.path.join(REPO, ".scratch/examples", d), ignore_errors=True)
    assert main([os.path.join(REPO, "examples", "streaming_neardup.conf")]) == 0
    pairs = spark.read.parquet(os.path.join(REPO, ".scratch/examples/neardup_pairs"))
    got = pairs.collect()
    assert got and all(r.id_a < r.id_b for r in got)
    store = spark.read.parquet(os.path.join(REPO, ".scratch/examples/neardup_store"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert store.select("id").distinct().count() == docs.count()


def test_neardup_pipeline_example(spark):
    """The full near-dup chain (candidates -> verify -> clusters ->
    decontaminate) declared in HOCON lands both outputs."""
    assert main([os.path.join(REPO, "examples", "neardup_pipeline.conf")]) == 0
    clusters = spark.read.parquet(
        os.path.join(REPO, ".scratch/examples/neardup_clusters")
    )
    rows = clusters.collect()
    assert rows and {"doc_id", "cluster_id", "is_duplicate"} <= set(clusters.columns)
    assert any(r.is_duplicate for r in rows)  # planted near-dups collapse
    cont = spark.read.parquet(os.path.join(REPO, ".scratch/examples/contamination"))
    assert cont.count() > 0 and "contaminated" in cont.columns


def test_retrieval_and_decontamination_example(spark):
    """The r7 retrieval/bloom ops declared in HOCON: BM25 hits land
    ranked per query; bloom decontamination flags the eval docs'
    training twins (one-sided)."""
    assert main([os.path.join(REPO, "examples", "retrieval_and_decontamination.conf")]) == 0
    hits = spark.read.parquet(os.path.join(REPO, ".scratch/examples/bm25_hits"))
    rows = hits.collect()
    assert rows and {"query_id", "doc_id", "score", "rank"} <= set(hits.columns)
    assert all(1 <= r.rank <= 10 for r in rows)
    decon = spark.read.parquet(os.path.join(REPO, ".scratch/examples/bloom_decon"))
    assert decon.count() > 0 and "maybe_contaminated" in decon.columns


def test_price_bands_example(spark):
    """Chained op:range_frame (count, then min) declared in HOCON —
    results must equal the oracle-gated suite cases' values."""
    assert main([os.path.join(REPO, "examples", "price_bands.conf")]) == 0
    out = spark.read.parquet(os.path.join(REPO, ".scratch/examples/price_bands"))
    rows = {r.o_orderkey: r for r in out.collect()}
    assert rows
    some = next(iter(rows.values()))
    assert some.n_within_1k >= 1  # frame always includes the row itself
    assert some.min_within_1k <= some.o_totalprice


def test_ngram_exact_dedup_example(spark):
    """op:dedup_ngram_pairs declared in HOCON with the REQUIRED
    max_doc_freq cap: pairs land; dropping the cap key fails at load."""
    assert main([os.path.join(REPO, "examples", "ngram_exact_dedup.conf")]) == 0
    pairs = spark.read.parquet(os.path.join(REPO, ".scratch/examples/ngram_exact_pairs"))
    assert {"id_a", "id_b", "jaccard"} <= set(pairs.columns)
    assert pairs.count() > 0
    assert all(r.jaccard >= 0.8 for r in pairs.collect())


def test_streaming_ann_index_example(spark):
    """Declarative streaming ANN growth: train once (batch components),
    then the ivf_add block drains the embeddings stream into the
    cell-assigned vector store."""
    import shutil

    for d in ("ann_centroids", "ann_stream_store", "ann_stream_ck"):
        shutil.rmtree(os.path.join(REPO, ".scratch/examples", d), ignore_errors=True)
    assert main([os.path.join(REPO, "examples", "streaming_ann_index.conf")]) == 0
    store = spark.read.parquet(os.path.join(REPO, ".scratch/examples/ann_stream_store"))
    # derive the expected count from the SAME data_root the example
    # config resolves (r9 ADVICE: a second hardcoded path silently
    # tests the wrong dataset if the example's defaults ever diverge)
    from pyspark_pipeline_framework_spark.plans import hocon

    conf = hocon.load(os.path.join(REPO, "examples", "streaming_ann_index.conf"))
    data_root = conf["defaults"]["data_root"]
    n = spark.read.parquet(os.path.join(data_root, "embeddings.parquet")).count()
    assert store.count() == n
    assert store.select("cell").distinct().count() > 1
