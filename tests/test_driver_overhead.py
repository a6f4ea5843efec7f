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
    minhash_bands,
    minhash_candidate_pairs,
)
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
    """Counts py4j commands sent while the block runs (GC paused, so
    proxy-release commands do not add noise)."""
    from py4j.clientserver import ClientServerConnection

    calls = [0]
    orig = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
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
