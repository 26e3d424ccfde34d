"""Shared SparkSession for the test suite.

One session for the whole run (session start ~15 s); small shuffle
partition count so tiny-fixture shuffles don't schedule 32 empty tasks.
"""

from __future__ import annotations

import functools
import os
import sys

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_ROOT)


@pytest.fixture(scope="session")
def spark():
    from olympic_athletes_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Python workers unpickle test-module closures by module name — they
    # need the repo root AND tests/ on their import path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO_ROOT, _TESTS_DIR, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def built_query(spark, sf_dir):
    """``built_query(name)`` is the registered query's DataFrame at
    ``sf_dir``, built once per session. Building runs a query's eager
    jobs (local checkpoints, fits), so the tests that only analyze,
    explain or sample every query share one build."""
    from olympic_athletes_etl_spark.plans import queries

    qs = queries()
    return functools.cache(lambda name: qs[name](spark, sf_dir))


@pytest.fixture(scope="session")
def sf001_dir(sf_dir) -> str:
    """sf0.01 sibling of the test SF dir — for the few tests whose
    invariant only binds at the larger scale (e.g. hot-band caps).
    Skips (rather than failing with a read error) when the test SF dir
    has no sf0.01 sibling — e.g. SPARK_GRAFT_TEST_SF_DIR pointed at a
    custom fixture directory."""
    derived = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(derived):
        pytest.skip(f"no sf0.01 sibling next to {sf_dir}")
    return derived
