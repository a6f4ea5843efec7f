"""Spark-Connect cleanliness (r9 VERDICT item 1).

A Connect client has NO ``SparkContext`` and DataFrames have no
``.rdd``. grpc/protobuf are not installed in this sandbox, so a real
``SparkSession.builder.remote("local")`` cannot start here; these
tests instead SIMULATE the Connect surface by monkeypatching the two
classic-only accessors to raise — class-level data descriptors win
over instance state, so every touch anywhere in the package trips.
When grpcio is available (real CI), ``test_real_connect_smoke`` runs
the same subset against an actual Connect session.

Smoke subset per the brief: a scan + ensure_parallelism path, one
CC/dedup case (lineage-truncation loop), one compaction, plus the
lineage cut without a checkpoint directory.
"""

import pytest

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _grpc_available() -> bool:
    try:
        import grpc  # noqa: F401
        import google.protobuf  # noqa: F401
        return True
    except Exception:
        return False


@pytest.fixture
def connectish(spark, monkeypatch):
    """The shared classic session with its classic-only surface removed
    for PACKAGE (and test) code: ``sparkContext`` / ``.rdd`` accessed
    from `pyspark_pipeline_framework_spark` or from a test raises,
    exactly as on a Connect client. pyspark-INTERNAL callers pass
    through — on a real Connect client those frames are the Connect
    implementations, which never need a SparkContext; on this classic
    backend they still do, and blocking them would test pyspark's
    internals instead of our package."""
    import inspect
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    orig_sc = SparkSession.sparkContext.fget
    rdd_attr = ClassicDataFrame.rdd  # property in some versions, cached_property in others
    orig_rdd = getattr(rdd_attr, "fget", None) or rdd_attr.func

    def _gate(name, orig):
        def impl(self):
            caller = inspect.stack()[1].filename.replace("\\", "/")
            if "/pyspark/" in caller:
                return orig(self)
            raise AttributeError(
                f"[ATTRIBUTE_NOT_SUPPORTED] {name} is not supported on "
                f"Spark Connect (simulated; caller: {caller})"
            )

        return impl

    monkeypatch.setattr(
        SparkSession, "sparkContext", property(_gate("sparkContext", orig_sc))
    )
    monkeypatch.setattr(
        ClassicDataFrame, "rdd", property(_gate("rdd", orig_rdd))
    )
    return spark


def test_simulation_actually_blocks(connectish, sf_dir):
    with pytest.raises(AttributeError, match="sparkContext"):
        connectish.sparkContext
    with pytest.raises(AttributeError, match="rdd"):
        connectish.read.parquet(f"{sf_dir}/region.parquet").rdd


def test_connect_compat_helpers(connectish, sf_dir):
    from pyspark_pipeline_framework_spark.connect_compat import (
        is_connect,
        scan_partitions,
        session_parallelism,
    )

    assert is_connect(connectish)
    # falls back to spark.sql.shuffle.partitions — always set in our sessions
    assert session_parallelism(connectish) == int(
        connectish.conf.get("spark.sql.shuffle.partitions")
    )
    df = connectish.read.parquet(f"{sf_dir}/documents.parquet")
    n = scan_partitions(df)
    assert n is not None and n >= 1  # inputFiles lower bound
    # non-file source: no estimate -> None, caller leaves plan alone
    assert scan_partitions(connectish.range(10)) in (None, 1)


def test_ensure_parallelism_connect_path(connectish, sf_dir):
    """The under-split guard must work (or no-op) without touching
    sparkContext/.rdd — and still produce correct rows."""
    from pyspark_pipeline_framework_spark.operators.partitioning import (
        ensure_parallelism,
    )

    df = connectish.read.parquet(f"{sf_dir}/documents.parquet")
    out = ensure_parallelism(df)
    assert out.count() == df.count()
    out_keyed = ensure_parallelism(df, key="doc_id")
    assert out_keyed.count() == df.count()


def test_dedup_cc_loop_connect_path(connectish, sf_dir):
    """CC star-contraction (the lineage-truncation loop) end-to-end on
    the Connect surface: localCheckpoint needs no SparkContext."""
    from pyspark_pipeline_framework_spark.llm.dedup import (
        dedup_clusters,
        minhash_candidate_pairs,
    )

    docs = connectish.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = minhash_candidate_pairs(docs)
    clusters = dedup_clusters(docs, pairs)
    rows = clusters.collect()
    assert rows and {"doc_id", "cluster_id"} <= set(clusters.columns)
    # every cluster id is a member id (smallest-id canonicalization)
    ids = {r.doc_id for r in rows}
    assert {r.cluster_id for r in rows} <= ids


def test_compaction_connect_path(connectish, sf_dir, tmp_path):
    """compact_batch_store's default file-count sizing must not touch
    sparkContext (session_parallelism conf fallback)."""
    from pyspark_pipeline_framework_spark.io.compaction import compact_batch_store
    from pyspark_pipeline_framework_spark.streaming.stateful import (
        streaming_ivf_add_batch,
    )
    from pyspark_pipeline_framework_spark.llm.similarity import ivf_index

    emb = connectish.read.parquet(f"{sf_dir}/embeddings.parquet")
    cdf, _ = ivf_index(emb, dim=64, nlist=4, train_sample=128)
    store = str(tmp_path / "ivf")
    streaming_ivf_add_batch(store, cdf, dim=64)(emb, 0)
    got = compact_batch_store(connectish, store, str(tmp_path / "ivf_c"))
    assert got.count() == emb.count()


def test_reliable_checkpoint_typed_error(connectish, sf_dir):
    """Without spark.checkpoint.dir, truncate_lineage is a
    localCheckpoint that never touches the SparkContext."""
    from pyspark_pipeline_framework_spark.connect_compat import truncate_lineage

    df = connectish.read.parquet(f"{sf_dir}/region.parquet")
    assert truncate_lineage(df).count() == df.count()


def test_lineage_cuts_only_in_truncate_lineage():
    """Every ``.localCheckpoint(`` / ``.checkpoint(`` call in the
    package is inside ``connect_compat.truncate_lineage``, so every
    lineage cut follows the session's ``spark.checkpoint.dir``."""
    import ast
    import pathlib

    import pyspark_pipeline_framework_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == root / "connect_compat.py":
            fn = next(n for n in tree.body if getattr(n, "name", None) == "truncate_lineage")
            allowed = {id(n) for n in ast.walk(fn)}
        stray += [
            f"{path.relative_to(root)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("localCheckpoint", "checkpoint")
            and id(n) not in allowed
        ]
    assert stray == []


@pytest.mark.skipif(not _grpc_available(), reason="grpcio not installed in sandbox")
def test_real_connect_smoke(sf_dir):  # pragma: no cover - needs grpc
    spark = SparkSession.builder.remote("local").getOrCreate()
    from pyspark_pipeline_framework_spark.operators.partitioning import (
        ensure_parallelism,
    )

    df = ensure_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    assert df.count() > 0
