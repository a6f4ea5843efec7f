"""Batch source/sink cases — SURVEY.md §2.1 (ReadCsv / ReadTable /
WriteCsv / WriteTable parity). Each case materializes through the real
writer/reader pair into a scratch dir, then returns the re-read frame —
the oracle reads the ORIGINAL parquet, so the roundtrip must be
lossless to pass. Only int/string columns ride CSV (header+schema);
floats would survive too (Java shortest-repr round-trips) but ints keep
the case about the connector, not float formatting."""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.io.readers import SourceConfig, read_source, table
from pyspark_pipeline_framework_spark.io.writers import SinkConfig, write_sink

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")

from pyspark_pipeline_framework_spark.suite import case


@functools.cache
def _removed_at_exit(path: str) -> str:
    atexit.register(shutil.rmtree, path, True)
    return path


@functools.cache
def _run_dir() -> str:
    """This process's own directory under ``.scratch/``, removed at
    exit: two suite runs in one checkout never share a store path."""
    os.makedirs(_SCRATCH, exist_ok=True)
    return _removed_at_exit(tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=_SCRATCH))


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_run_dir(), tag, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


_CUST_SQL = "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer"


@case("q_scan_csv", oracle=_CUST_SQL)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WriteCsv → ReadCsv roundtrip with declared schema (header on)."""
    path = _scratch(sf_dir, "customer_csv")
    src = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    write_sink(src, SinkConfig(format="csv", path=path, mode="overwrite"))
    return read_source(
        spark,
        SourceConfig(
            format="csv",
            path=path,
            schema="c_custkey long, c_name string, c_nationkey int, c_mktsegment string",
        ),
    )


@case(
    "q_scan_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 50000
    """,
)
def q_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReadTable parity: scan + SQL filter_condition + column pruning —
    both reach the parquet reader via Catalyst pushdown."""
    return read_source(
        spark,
        SourceConfig(
            format="parquet",
            path=f"{sf_dir}/orders.parquet",
            filter_condition="o_orderstatus = 'O' AND o_totalprice > 50000",
            select=["o_orderkey", "o_custkey", "o_totalprice"],
        ),
    )


@case("q_sink_roundtrip_parquet", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_sink_roundtrip_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with partitionBy → partition-pruned re-read."""
    path = _scratch(sf_dir, "nation_parquet")
    src = table(spark, sf_dir, "nation")
    write_sink(
        src, SinkConfig(format="parquet", path=path, mode="overwrite", partition_by=["n_regionkey"])
    )
    out = spark.read.parquet(path)
    # partitionBy re-reads the partition column as inferred type; restore
    return out.select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("int").alias("n_regionkey")
    )


@case("q_scan_json", oracle="SELECT s_suppkey, s_name, s_nationkey FROM supplier")
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "supplier_json")
    src = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    write_sink(src, SinkConfig(format="json", path=path, mode="overwrite"))
    return read_source(
        spark,
        SourceConfig(
            format="json", path=path,
            schema="s_suppkey long, s_name string, s_nationkey int",
        ),
    )


@case("q_scan_orc", oracle="SELECT p_partkey, p_name, p_retailprice FROM part")
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "part_orc")
    src = table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")
    write_sink(src, SinkConfig(format="orc", path=path, mode="overwrite"))
    return read_source(spark, SourceConfig(format="orc", path=path))


@case("q_sink_roundtrip_table", oracle="SELECT s_suppkey, s_name, s_acctbal FROM supplier")
def q_sink_roundtrip_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WriteTable parity: saveAsTable → spark.table re-read. Table name
    is sf- and process-suffixed to avoid clashes across scale factors
    and across runs sharing one warehouse directory (its location is
    removed at exit); mode=overwrite makes the case idempotent."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"rt_supplier_{tag}_{os.getpid()}"
    # a previous session may have left the managed location on disk
    # without a catalog entry — clear both or CREATE fails with
    # LOCATION_ALREADY_EXISTS
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = _removed_at_exit(os.path.join(warehouse.removeprefix("file:"), name))
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    src = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    write_sink(src, SinkConfig(format="table", table=name, mode="overwrite"))
    return spark.table(name)


@case("q_sink_roundtrip_csv", oracle="SELECT r_regionkey, r_name FROM region")
def q_sink_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "region_csv")
    write_sink(
        table(spark, sf_dir, "region"),
        SinkConfig(format="csv", path=path, mode="overwrite"),
    )
    return read_source(
        spark,
        SourceConfig(format="csv", path=path, schema="r_regionkey int, r_name string"),
    )
