"""Shared fixtures: one SparkSession and one DuckDB connection for the
whole run (session startup is ~8s; every test reuses it)."""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

#: Correctness tests run at the smallest scale factor; the driver's gate
#: re-runs the same oracles at sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from datafusion_gpu_spark.context import get_spark

    # Test-session parallelism (r16): suite inputs are tiny Python-built
    # DataFrames (createDataFrame over lists -> pickled-RDD scans that
    # round-trip through Python workers on EVERY branch re-execution),
    # so at the production default of 32 partitions a 20-row operator
    # test dispatches hundreds of near-empty Python tasks: the
    # theil-sen replay measured 37.8 s warm at 32/32 vs 4.7 s at 4/8
    # (driver thread dumps showed 31 threads blocked in
    # PythonRunner.ReaderInputStream.read). Production/bench sessions
    # are untouched — this is the conftest fixture only.
    s = get_spark(
        "datafusion-gpu-spark-tests",
        extra_conf={
            "spark.default.parallelism": "4",
            "spark.sql.shuffle.partitions": "8",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A checkpoint dir on the shared SparkContext for one test, so its
    operators cut on the reliable (cluster) path; reset at teardown so
    later tests take the ``localCheckpoint`` path again."""
    sc = spark.sparkContext
    path = tmp_path / "checkpoints"
    sc.setCheckpointDir(str(path))
    yield path
    # Scala's setCheckpointDir(null) resets to None (Option(null)); a
    # clear that silently failed would switch every later cutting
    # operator in the suite onto the reliable path
    sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


@pytest.fixture(scope="session")
def duck():
    from tools.check_oracle import duck_connect

    return duck_connect(SF_DIR)
