"""Shared Spark session + fixture data for the test suite.

One session per pytest run (JVM spin-up dominates otherwise); small core
count and shuffle partitioning keep unit runtimes low — scale behavior is
exercised by bench.py, not here.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ner_spark.fixtures.gen import gen_kb_rows, gen_pages  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from ner_spark.session import get_spark

    s = get_spark("ner-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def kb_rows():
    return gen_kb_rows()


@pytest.fixture(scope="session")
def pages_rows(kb_rows):
    return gen_pages(kb_rows, n_pages=60)


@pytest.fixture(scope="session")
def artifacts(spark, kb_rows):
    from ner_spark.kb.build import compile_kb

    return compile_kb(spark, kb_rows)


@pytest.fixture(scope="session")
def sf_dir():
    d = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(d):
        pytest.skip(f"testdata dir {d} not present")
    return d


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: end-to-end smoke tests (spark-submit subprocess)")


def pytest_terminal_summary(terminalreporter):
    """Name the reference-backed skips: the figa-binary and highlight
    byte-parity tests skip when the reference tree (or the figa binary
    built from it) is absent, which the overall skip total does not say."""
    n = sum("reference tree" in str(r.longrepr)
            for r in terminalreporter.stats.get("skipped", []))
    terminalreporter.write_line(
        f"{n} reference-backed tests skipped (reference tree or its figa "
        f"binary absent)")
