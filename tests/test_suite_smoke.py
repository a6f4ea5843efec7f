"""Every registered suite case runs at sf0.001 and returns a sane frame."""

import os
import subprocess
import sys

import duckdb
import pytest

from pyspark_pipeline_framework_spark.io.readers import STAR_TABLES
from pyspark_pipeline_framework_spark.suite import all_cases


def test_registry_nonempty():
    assert len(all_cases()) >= 1


@pytest.mark.parametrize("name", sorted(all_cases()))
def test_case_runs(spark, sf_dir, name):
    c = all_cases()[name]
    df = c.spark_fn(spark, sf_dir)
    rows = df.limit(5).collect()
    assert df.columns, name
    assert rows is not None


def test_oracles_parse(sf_dir):
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name, c in all_cases().items():
        if c.oracle:
            con.execute(c.oracle).fetchone()


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)


def test_scratch_paths_are_per_process(sf_dir):
    """Two suite processes in one checkout get disjoint store paths for
    the same case, and each removes its directory at exit: with one
    shared ``.scratch/<sf>/<name>`` path, a selfcheck run beside another
    failed with FILE_NOT_EXIST and TASK_WRITE_FAILED on the other's
    stores."""
    code = (
        "import os, sys\n"
        "from pyspark_pipeline_framework_spark.suite.io_cases import _scratch\n"
        "p = _scratch(sys.argv[1], 'ivf_store_del')\n"
        "open(os.path.join(os.path.dirname(p), 'marker'), 'w').close()\n"
        "print(p)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen([sys.executable, "-c", code, sf_dir], cwd=repo,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(2)
    ]
    paths = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert paths[0] != paths[1]
    assert all(os.path.basename(p) == "ivf_store_del" for p in paths)
    assert not any(os.path.exists(os.path.dirname(p)) for p in paths)
