from __future__ import annotations

import sys
import warnings
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests._reference import REFERENCE_SKIP, load_reference  # noqa: E402

warnings.filterwarnings("ignore")


@pytest.fixture(scope="session")
def spark():
    from woe_monotonic_binning_spark import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8, app_name="wmb-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def reference():
    ref = load_reference()
    if ref is None:
        pytest.skip(REFERENCE_SKIP)
    return ref


def pytest_sessionstart(session):
    if load_reference() is None:
        session.config.pluginmanager.get_plugin("terminalreporter").write_line(
            "WARNING: the reference binning library is not importable "
            "(tests/_reference.py); reference-parity tests will skip",
            yellow=True,
        )


def pytest_terminal_summary(terminalreporter):
    skipped = terminalreporter.stats.get("skipped", [])
    n = sum(1 for r in skipped if REFERENCE_SKIP in str(r.longrepr))
    if n:
        terminalreporter.write_line(
            f"{n} reference-parity tests skipped: {REFERENCE_SKIP}", yellow=True
        )


@pytest.fixture(scope="session")
def binning_pdf():
    from tests.fixtures import make_binning_input

    return make_binning_input()


@pytest.fixture(scope="session")
def binning_df(spark, binning_pdf):
    return spark.createDataFrame(binning_pdf).cache()


SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf0001_dir():
    return SF0001


@pytest.fixture(scope="session")
def sf001_dir():
    return SF001
