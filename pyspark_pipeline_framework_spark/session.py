"""SparkSession lifecycle.

Capability parity: reference ``runtime/session/wrapper.py:18-208`` and
``core/config/spark.py`` (local / cluster / Spark Connect modes, conf
dict passthrough, injected-session support, context manager). Here the
config is a plain dataclass that compiles to a conf dict; the session is
built once and shared — Spark-side state (temp views, catalogs) hangs
off it exactly as the reference's wrapper intended.

Scale notes (100 TB defaults): AQE on (runtime re-plan, skew-join
handling, shuffle coalescing), UTC session timezone (determinism),
Arrow-accelerated Python interop (pandas_udf / toPandas hot paths).
``shuffle_partitions`` should be sized to cluster cores × 2-3 on a real
cluster; tests/bench override it to the local core count.

Generated-code cache: ``spark.sql.codegen.cache.maxEntries`` is
:data:`CODEGEN_CACHE_ENTRIES` (Spark's default is 100). One curation
run of the dedup/split/pack chain generates 126 classes, more than the
whole default cache, and the cache is LRU: at 100 every class was
evicted before its reuse, so each warm curation run recompiled 90-105
classes and each warm streaming near-dup + IVFPQ micro-batch 29-46,
and the JIT then compiled the fresh classes again. At 1000 both
recompile 0. It is a STATIC conf, read once when the SparkContext
starts: it is not applied when ``getOrCreate()`` joins an ambient
session that is already running (Databricks/EMR notebooks keep their
own value), and Spark Connect sends it with the other options as a
silent set that the server ignores — configure it server-side there.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` — sized from the measured
#: working sets above (126 generated classes per curation run), with
#: headroom for pipelines several times wider
CODEGEN_CACHE_ENTRIES = 1000


@dataclass
class SparkConfig:
    """Declarative session config (mirrors the semantics of the
    reference's ``SparkConfig.to_spark_conf_dict``, core/config/spark.py:59-83,
    re-expressed for Spark-first defaults)."""

    app_name: str = "pyspark-pipeline-framework-spark"
    master: str | None = None           # None -> respect env / local[*]
    connect_string: str | None = None   # "sc://host" -> Spark Connect
    shuffle_partitions: int = 32
    adaptive: bool = True
    session_timezone: str = "UTC"
    broadcast_threshold: str = "64m"    # raise vs 10m default: small dims broadcast
    arrow: bool = True
    ui: bool = False
    extra_conf: dict[str, str] = field(default_factory=dict)

    def to_conf(self) -> dict[str, str]:
        conf: dict[str, str] = {
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            "spark.sql.adaptive.enabled": str(self.adaptive).lower(),
            "spark.sql.adaptive.coalescePartitions.enabled": str(self.adaptive).lower(),
            "spark.sql.adaptive.skewJoin.enabled": str(self.adaptive).lower(),
            "spark.sql.session.timeZone": self.session_timezone,
            "spark.sql.autoBroadcastJoinThreshold": self.broadcast_threshold,
            "spark.sql.execution.arrow.pyspark.enabled": str(self.arrow).lower(),
            "spark.ui.enabled": str(self.ui).lower(),
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        }
        conf.update(self.extra_conf)
        return conf


_lock = threading.Lock()


def build_session(config: SparkConfig | None = None) -> SparkSession:
    """Build (or get) a SparkSession from a :class:`SparkConfig`.

    Thread-safe like the reference's singleton wrapper
    (runtime/session/wrapper.py:37-96); ``getOrCreate`` already dedups,
    the lock only serializes first-build races.
    """
    config = config or SparkConfig()
    with _lock:
        builder = SparkSession.builder.appName(config.app_name)
        if config.connect_string:
            builder = builder.remote(config.connect_string)
        elif config.master:
            builder = builder.master(config.master)
        elif not os.environ.get("SPARK_MASTER"):
            builder = builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
        for k, v in config.to_conf().items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        try:
            spark.sparkContext.setLogLevel("WARN")
        except Exception:
            pass  # Spark Connect has no SparkContext (wrapper.py:99-115 parity)
        return spark


def stop_session(spark: SparkSession) -> None:
    spark.stop()


class SessionScope:
    """Context-manager session lifecycle (reference wrapper parity,
    runtime/session/wrapper.py context manager): builds on enter, stops
    on exit unless the session was injected (Databricks/EMR pattern —
    never stop a session you don't own)."""

    def __init__(self, config: SparkConfig | None = None, spark: SparkSession | None = None):
        self._config = config
        self._injected = spark
        self.spark: SparkSession | None = spark

    def __enter__(self) -> SparkSession:
        if self.spark is None:
            self.spark = build_session(self._config)
        return self.spark

    def __exit__(self, *exc) -> None:
        if self._injected is None and self.spark is not None:
            self.spark.stop()
