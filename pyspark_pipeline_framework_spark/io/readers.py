"""Batch sources.

Capability parity: reference ``ReadCsv`` / ``ReadTable``
(examples/batch.py:38-102,171-235) — read + optional filter + register a
named dataset. Differences by design: datasets are passed **by
DataFrame reference** through an explicit :class:`Catalog` instead of
session-global temp-view strings (SURVEY.md §7 risk register:
"temp-view name collisions"), and all formats Spark supports are
reachable through one ``read_source``.

Scale notes: reads stay lazy, so filters/projections supplied here (or
later) reach the parquet scan via Catalyst pushdown — the 100 TB path
never materializes an unfiltered table.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf only for the duration of the block. Safe for
    lazy reads: parquet schema resolution happens eagerly at load(), so
    restoring afterwards doesn't break later actions on the DataFrame —
    and unrelated reads in the same session never see the override."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

#: driver testdata star schema (TESTDATA.md)
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class SourceConfig:
    """Declarative batch source (ReadCsv/ReadTable config parity,
    examples/batch.py:38-53,171-184)."""

    format: str = "parquet"          # parquet | csv | json | orc | table
    path: str | None = None
    table: str | None = None          # catalog table when format == "table"
    schema: str | None = None         # DDL string; None -> infer
    filter_condition: str | None = None  # SQL predicate, pushed down by Catalyst
    select: list[str] | None = None   # column pruning at the scan
    options: dict[str, str] = field(default_factory=dict)
    #: parquet TIMESTAMP(NANOS) columns — Spark's vectorized reader
    #: rejects them ([PARQUET_TYPE_ILLEGAL]); named columns are read as
    #: long (legacy conf) and truncated to microseconds, matching how
    #: DuckDB and Arrow coerce ns → us
    nanos_ts_cols: list[str] | None = None


def _read_source_df(spark: SparkSession, config: SourceConfig) -> DataFrame:
    if config.format == "table":
        if not config.table:
            raise ValueError("format='table' requires table name")
        return spark.table(config.table)
    reader = spark.read.format(config.format)
    if config.schema:
        reader = reader.schema(config.schema)
    elif config.format == "csv":
        reader = reader.option("inferSchema", "true")
    if config.format == "csv":
        reader = reader.option("header", config.options.get("header", "true"))
        # RFC 4180 quoting (doubled "" inside quoted fields), matching
        # write_sink's CSV default — Spark's own default escape is
        # backslash, which round-trips with itself but not with
        # standard CSV tooling. BEHAVIOR CHANGE vs a stock
        # spark.read.csv: datasets written EARLIER by plain Spark with
        # its backslash-escape default read back corrupted in
        # quote-bearing fields (silently — no parse error). For such
        # legacy exports pass options={'escape': '\\'} explicitly
        # (documented in docs/API.md § ReadCsv).
        # Embedded-newline fields additionally
        # need options={'multiLine': 'true'} on read (each file then
        # reads as ONE task — non-splittable; keep newline-bearing
        # exports on parquet at scale). Empty string and NULL both read
        # back as NULL under CSV defaults; pass a sentinel
        # nullValue (e.g. '\\N') on BOTH sides to distinguish.
        reader = reader.option("escape", config.options.get("escape", '"'))
    for k, v in config.options.items():
        reader = reader.option(k, v)
    if not config.path:
        raise ValueError(f"format={config.format!r} requires path")
    return reader.load(config.path)


def read_source(spark: SparkSession, config: SourceConfig) -> DataFrame:
    if config.nanos_ts_cols:
        # the ntz→timestamp branch of _normalize_nanos_col reads
        # spark.sql.session.timeZone at EXECUTION time; pin UTC here
        # (exactly like table()) so an externally built non-UTC session
        # can't shift instants — the bigint/timestamp_micros branch was
        # already timezone-independent
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # scoped, not session-global: only THIS source's schema
        # resolution sees nanosAsLong — unrelated parquet reads in the
        # same session keep normal timestamp handling
        with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = _read_source_df(spark, config)
    else:
        df = _read_source_df(spark, config)
    for c in config.nanos_ts_cols or ():
        df = _normalize_nanos_col(df, c)
    if config.filter_condition:
        df = df.filter(config.filter_condition)
    if config.select:
        df = df.select(*config.select)
    return df


#: parquet TIMESTAMP(NANOS) columns per testdata table — Spark's parquet
#: reader rejects nanos ([PARQUET_TYPE_ILLEGAL]); we read them as long
#: (legacy conf) and truncate to microseconds, matching how DuckDB (the
#: oracle) and Arrow coerce ns → us.
_NANOS_TS_COLS = {"events": ["ts"]}


def _normalize_nanos_col(df: DataFrame, c: str) -> DataFrame:
    """Normalize a TIMESTAMP(NANOS) parquet column to plain ``timestamp``.

    Spark version drift: older readers reject nanos unless the legacy
    nanosAsLong conf maps them to bigint (then we truncate ns → us);
    Spark ≥4.1 reads them natively as ``timestamp_ntz``. Either way the
    stable contract downstream is a session-tz (UTC-pinned) timestamp
    at microsecond precision, matching the DuckDB oracle's coercion.
    """
    dt = dict(df.dtypes).get(c)
    if dt == "bigint":
        return df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver-testdata table (lazy parquet scan)."""
    # naive parquet timestamps must be interpreted in UTC or values
    # shift against the (timezone-less) DuckDB oracle — pin it even on
    # externally-built sessions
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in nanos_cols:
        df = _normalize_nanos_col(df, c)
    return df


def load_star(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in names}


class Catalog:
    """Named-dataset hand-off between pipeline stages.

    Replaces the reference's ``createOrReplaceTempView`` string
    hand-off (examples/batch.py:97,289; docs/scope.rst:54-56) with
    in-process DataFrame references; ``register_views()`` still exposes
    every dataset as a temp view for SQL-transform stages, so chained
    SQL fuses into one Catalyst plan exactly like the reference's
    temp-view chaining (SURVEY.md §4).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._datasets: dict[str, DataFrame] = {}
        self._views: dict[str, DataFrame] = {}

    def put(self, name: str, df: DataFrame, register_view: bool = True) -> DataFrame:
        """Store ``df`` under ``name`` and, unless ``register_view`` is
        off, register it as that temp view. A DataFrame already
        registered under ``name`` by this catalog is not registered
        again (a user op may put its output before returning it, and
        the runner puts what every op returns)."""
        self._datasets[name] = df
        if register_view and self._views.get(name) is not df:
            df.createOrReplaceTempView(name)
            self._views[name] = df
        return df

    def get(self, name: str) -> DataFrame:
        if name in self._datasets:
            return self._datasets[name]
        return self.spark.table(name)  # escape hatch to the session catalog

    def names(self) -> list[str]:
        return sorted(self._datasets)

    def sql(self, query: str) -> DataFrame:
        """SQL over registered datasets (SqlTransform parity,
        examples/batch.py:286-293)."""
        return self.spark.sql(query)
