"""Driver-side overhead gates: work the driver does that no result
shows — recompiling generated code, py4j round-trips while a plan is
built, jobs run only to inspect a plan, views registered twice. Each
gate counts the work directly, so a regression fails here even though
every oracle stays green."""

import gc
from contextlib import contextmanager

from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.io.readers import Catalog
from pyspark_pipeline_framework_spark.llm.dedup import (
    connected_components,
    minhash_bands,
    minhash_candidate_pairs,
)
from pyspark_pipeline_framework_spark.llm.similarity import drop_corrupt_vectors
from pyspark_pipeline_framework_spark.llm.text import language_id
from pyspark_pipeline_framework_spark.operators.partitioning import ensure_parallelism
from pyspark_pipeline_framework_spark.plans.config import ComponentConfig, PipelineConfig
from pyspark_pipeline_framework_spark.plans.result import PipelineStatus
from pyspark_pipeline_framework_spark.plans.runner import PipelineRunner
from pyspark_pipeline_framework_spark.resilience.presets import NO_RETRY


def _compiles(spark) -> int:
    """Whole-stage and expression classes compiled so far in this JVM."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metric.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_pipeline_working_set(spark):
    """A warm re-run of ~150 distinct generated classes (a curation run
    generates 126) compiles nothing: at Spark's default cache of 100
    entries LRU evicts every class before its reuse."""
    exprs = [f"id * {i} + {i % 7} AS x" for i in range(150)]

    def run_all():
        for e in exprs:
            spark.range(3).selectExpr(e).collect()

    before = _compiles(spark)
    run_all()
    assert _compiles(spark) - before >= 150  # each projection is its own class
    before = _compiles(spark)
    run_all()
    assert _compiles(spark) - before == 0


@contextmanager
def _py4j_calls():
    """Counts py4j commands sent while the block runs, except proxy
    releases: GC is paused, but py4j's own thread still flushes the
    releases of proxies freed before the block (100+ of them after some
    earlier tests), and those are not work the block did."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls = [0]
    orig = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(release):
            calls[0] += 1
        return orig(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = orig
        gc.enable()


#: py4j round-trips allowed to BUILD (not run) each plan. Building the
#: 64 signature words and 16 band hashes from Column ops took ~4.7k
#: (md5 candidate pairs) and ~4.3k (xxhash64 bands); as parsed
#: expression strings both stay under 800.
PLAN_BUILD_CALLS = 1500


def test_minhash_plans_build_in_few_py4j_calls(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    with _py4j_calls() as calls:
        minhash_candidate_pairs(docs, hash_fn="md5")
    assert calls[0] < PLAN_BUILD_CALLS
    with _py4j_calls() as calls:
        minhash_bands(docs)
    assert calls[0] < PLAN_BUILD_CALLS


def test_vector_screen_and_language_id_build_in_few_py4j_calls(spark, sf_dir):
    """The fixed-point dot of the zero-norm screen (run on every stream
    batch's add and search) and the marker-word scores of language_id
    are each one parsed expression. As Column builders they took 251
    (a Python lambda per zip_with/aggregate) and 492 (a literal per
    marker word) round-trips."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with _py4j_calls() as calls:
        drop_corrupt_vectors(emb, "embedding", 64, drop_zero_norm=True)
    assert calls[0] < 150
    with _py4j_calls() as calls:
        language_id(docs)
    assert calls[0] < 60


def _jobs_run_by(sc, group: str, action) -> int:
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: Spark jobs one ``ivfpq_search(...).collect()`` may run: the two
#: broadcasts (probe cells, lookup tables), the top-k shuffle and the
#: result stage, plus one for ``ensure_parallelism``'s spread. The
#: posexplode/join/aggregate plan ran 7, one of them rebuilding the
#: codebook table from a Python list.
IVFPQ_SEARCH_JOBS = 5


def test_ivfpq_search_runs_few_jobs(spark, sf_dir, tmp_path):
    from pyspark_pipeline_framework_spark.llm.pq import (
        ivfpq_add,
        ivfpq_search,
        pq_train_codebooks_exact,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    C = ivf_train_centroids(emb, 64, nlist=8, train_sample=128)
    B = pq_train_codebooks_exact(emb, 64, m_sub=16, ksub=16, train_sample=128)
    ivfpq_add(emb, C, B, 64).write.parquet(str(tmp_path / "store"))
    store = spark.read.parquet(str(tmp_path / "store"))

    def search():
        assert len(ivfpq_search(store, C, B, q, 64, k=5, nprobe=3).collect()) == 25

    assert _jobs_run_by(spark.sparkContext, "ivfpq-search-jobs", search) <= IVFPQ_SEARCH_JOBS


#: Spark jobs one ``connected_components(...).collect()`` may run on a
#: graph of near-cliques (the shape of verified near-dup pairs), which
#: contracts to a star forest in one round: 7 here. Confirming the
#: fixpoint by comparing two rounds' outputs took 25, and moving labels
#: one hop per round 21.
CC_NEAR_CLIQUE_JOBS = 9


def test_connected_components_on_near_cliques_runs_few_jobs(spark):
    import random

    rng = random.Random(3)
    edges = []
    while len(edges) < 60:
        ids = rng.sample(range(1, 10**6), rng.randint(2, 4))
        clique = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        if len(clique) > 2:
            clique.pop(rng.randrange(len(clique)))  # diameter 2, still connected
        edges.extend(clique)
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = []

    def run():
        out.extend(connected_components(pairs).collect())

    assert _jobs_run_by(spark.sparkContext, "cc-near-cliques", run) <= CC_NEAR_CLIQUE_JOBS
    assert len(out) == len({i for e in edges for i in e})


#: Spark jobs the ``validate=True`` probes run before the incremental
#: operators return, over parquet stores. Candidate pairs: one
#: aggregate of both stores' band counts (its shuffle-map stage and
#: its result stage); a ``max(band_idx).first()`` per store ran 4.
#: Spans: one 1-row read of the corpus store, counted as the call's
#: jobs with ``validate=True`` less those without; a 1-row probe per
#: store ran 2.
CANDIDATE_VALIDATE_JOBS = 2
SPANS_VALIDATE_JOBS = 1
#: Spark jobs ``incremental_duplicated_spans`` runs before it returns,
#: with no probe, over the stores below: 8. Building its three lineage
#: pins runs their broadcast and (under AQE) shuffle stages, i.e. the
#: batch's counts, affected ids and their old positions.
SPANS_CALL_JOBS = 8


def _store_pair(spark, sf_dir, tmp_path, build):
    """``build`` over the new batch (doc_id % 4 = 0) and over the
    corpus, each written to parquet and read back."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = []
    for name, cond in (("new", "doc_id % 4 = 0"), ("corpus", "doc_id % 4 != 0")):
        build(docs.where(cond)).write.parquet(str(tmp_path / name))
        out.append(spark.read.parquet(str(tmp_path / name)))
    return out


def test_incremental_candidate_pairs_validate_runs_one_probe(spark, sf_dir, tmp_path):
    from pyspark_pipeline_framework_spark.llm.dedup import incremental_candidate_pairs

    new, corpus = _store_pair(
        spark, sf_dir, tmp_path, lambda d: minhash_bands(d, num_hashes=32, bands=8)
    )
    jobs = _jobs_run_by(
        spark.sparkContext, "validate-bands",
        lambda: incremental_candidate_pairs(new, corpus, validate=True),
    )
    assert jobs <= CANDIDATE_VALIDATE_JOBS


def _spans_call_jobs(spark, sf_dir, tmp_path) -> dict[bool, int]:
    """Jobs one ``incremental_duplicated_spans`` call runs, without and
    with ``validate``."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        incremental_duplicated_spans,
        substring_gram_stream,
    )

    new, corpus = _store_pair(
        spark, sf_dir, tmp_path, lambda d: substring_gram_stream(d, 8)
    )
    return {
        validate: _jobs_run_by(
            spark.sparkContext, f"spans-call-{tmp_path.name}-{validate}",
            lambda: incremental_duplicated_spans(
                new, corpus, min_tokens=8, validate=validate
            ),
        )
        for validate in (False, True)
    }


def test_incremental_spans_validate_runs_one_probe(spark, sf_dir, tmp_path):
    jobs = _spans_call_jobs(spark, sf_dir, tmp_path)
    assert jobs[True] - jobs[False] <= SPANS_VALIDATE_JOBS


def test_incremental_spans_call_runs_few_jobs(spark, sf_dir, tmp_path):
    """The pins' jobs run at call time, so a caller that only builds
    the plan already pays for them."""
    assert _spans_call_jobs(spark, sf_dir, tmp_path)[False] <= SPANS_CALL_JOBS


def test_ensure_parallelism_runs_no_job_on_an_adaptive_input(spark):
    """An aggregated (shuffled, AQE-planned) input is sized from plan
    metadata; asking its RDD for the partition count would run the
    shuffle-map stage as a job."""
    sc = spark.sparkContext
    df = spark.range(1000).groupBy((F.col("id") % 37).alias("k")).count()
    group = "ensure-parallelism-no-job"
    sc.setJobGroup(group, "ensure_parallelism on an adaptive input")
    try:
        out = ensure_parallelism(df, key="k")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert out is not df  # a few hundred bytes: under the target, spread
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
    # an input estimated at >= target x minPartitionSize is left alone
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        assert ensure_parallelism(df, key="k") is df
    finally:
        spark.conf.set(key, old)


def _count_view_registrations(monkeypatch) -> list:
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    names = []
    orig = ClassicDataFrame.createOrReplaceTempView

    def spy(self, name):
        names.append(name)
        return orig(self, name)

    monkeypatch.setattr(ClassicDataFrame, "createOrReplaceTempView", spy)
    return names


def test_catalog_put_registers_a_view_once(spark, monkeypatch):
    names = _count_view_registrations(monkeypatch)
    cat = Catalog(spark)
    a, b = spark.range(2), spark.range(3)
    cat.put("ppfs_once", a)
    cat.put("ppfs_once", a)
    assert names == ["ppfs_once"]
    cat.put("ppfs_once", b)  # a different DataFrame replaces the view
    assert names == ["ppfs_once", "ppfs_once"]
    assert cat.sql("SELECT count(*) AS n FROM ppfs_once").first().n == 3


def test_runner_registers_each_output_view_once(spark, monkeypatch):
    names = _count_view_registrations(monkeypatch)
    cfg = PipelineConfig("views-once", [
        ComponentConfig(name="a", op="sql", output="ppfs_a",
                        params={"sql": "SELECT 1 AS x"}),
        ComponentConfig(name="b", op="sql", output="ppfs_b", depends_on=["a"],
                        params={"sql": "SELECT x + 1 AS y FROM ppfs_a"}),
    ])
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS
    assert names == ["ppfs_a", "ppfs_b"]
    assert spark.table("ppfs_b").first().y == 2

    # a shared dataset made by a lifted op: the runner puts its
    # checkpointed copy, and nothing else registers the view
    names.clear()
    read_twice = [
        ComponentConfig(name=f"c{i}", op="transform", output=f"ppfs_c{i}",
                        depends_on=["exact"], params={"input": "ppfs_exact"})
        for i in (1, 2)
    ]
    cfg = PipelineConfig("shared-view-once", [
        ComponentConfig(name="docs", op="sql", output="ppfs_docs", params={
            "sql": "SELECT * FROM VALUES (1, 'a b c'), (2, 'a b c'), (3, 'x y')"
                   " AS t(doc_id, text)"}),
        ComponentConfig(name="exact", op="dedup_exact", output="ppfs_exact",
                        depends_on=["docs"], params={"input": "ppfs_docs"}),
        *read_twice,
    ])
    result = PipelineRunner(cfg, spark, resilience=NO_RETRY).run()
    assert result.status == PipelineStatus.SUCCESS
    assert names == ["ppfs_docs", "ppfs_exact", "ppfs_c1", "ppfs_c2"]
    assert spark.table("ppfs_c2").count() == 2
