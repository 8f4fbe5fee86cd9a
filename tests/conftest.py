"""Shared pytest fixtures: one tuned SparkSession per test session, plus the
DuckDB-oracle comparison helper mirroring the driver's t2 gate (stricter:
bit-exact values)."""

from __future__ import annotations

import os

import pytest

from matrixone_spark import obs
from matrixone_spark.queries import load_all
from matrixone_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("mospark-tests")
    yield s


@pytest.fixture(scope="session")
def registry():
    return load_all()


def assert_matches_oracle(spark, query, sf_dir: str = SF_DIR):
    """Run a registry Query on Spark and DuckDB; assert canonical equality."""
    chk = obs.check(spark, query, sf_dir)
    assert chk.problems is not None, f"{query.name} has no oracle (rows-only)"
    assert not chk.problems, f"{query.name} mismatch:\n" + "\n".join(chk.problems)
