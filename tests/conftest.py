import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"

#: known locations of a vendored pure-python `google.protobuf` on
#: machines that ship no pip-installed one (this container has none;
#: the gcloud SDK's appengine platform bundles protobuf 6.32)
_PB_VENDOR_DIRS = [
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]


def _ensure_protobuf() -> None:
    """Make `google.protobuf` importable when a vendored copy exists, so
    `test_pbvendor_shim_blast_radius_is_statemessage_only` checks the
    version-gate shim that `tools/streamfuzz.py` family 5 runs
    transformWithStateInPandas under.

    MUST run before the first SparkSession is built: python workers
    inherit PYTHONPATH through the JVM's environment, which is frozen
    at JVM launch. Prepends tests/_pbvendor too, whose sitecustomize
    relaxes protobuf's gencode/runtime minor-version gate in every
    spawned interpreter (see that module's docstring). No-op when
    protobuf is already installed or no vendored copy is found — the
    shim test then skips."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    for cand in _PB_VENDOR_DIRS:
        if os.path.isfile(os.path.join(cand, "google", "protobuf", "__init__.py")):
            shim = os.path.join(REPO, "tests", "_pbvendor")
            for p in (shim, cand):
                if p not in sys.path:
                    sys.path.insert(0, p)
            os.environ["PYTHONPATH"] = os.pathsep.join(
                [shim, cand] + [q for q in os.environ.get("PYTHONPATH", "").split(os.pathsep) if q]
            )
            # apply the version-gate shim to THIS process as well
            import sitecustomize  # noqa: F401

            return


_ensure_protobuf()


@pytest.fixture(scope="session")
def spark():
    from pyspark_pipeline_framework_spark.session import SparkConfig, build_session

    s = build_session(
        SparkConfig(master="local[4]", shuffle_partitions=4, app_name="ppfs-tests")
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def _files_under(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


@pytest.fixture(scope="session")
def _checkpoint_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("checkpoint_root"))


@pytest.fixture
def session_checkpoint_dir(spark, _checkpoint_root):
    """Sets ``spark.checkpoint.dir`` on the shared session for one test
    and yields a function returning the files written under it since.

    A deployment sets the conf when it builds the session; the shared
    test session can only take it at run time, which Spark allows for
    core confs behind a legacy switch. The root is one per test
    session: the first reliable cut fixes the SparkContext's checkpoint
    directory, as Spark does at start, and later tests follow it."""
    legacy = "spark.sql.legacy.setCommandRejectsSparkCoreConfs"
    before = _files_under(_checkpoint_root)
    spark.conf.set(legacy, "false")
    spark.conf.set("spark.checkpoint.dir", _checkpoint_root)
    try:
        yield lambda: _files_under(_checkpoint_root) - before
    finally:
        spark.conf.unset("spark.checkpoint.dir")
        spark.conf.unset(legacy)
