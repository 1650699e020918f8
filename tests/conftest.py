from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from aruna_spark.session import get_spark

    spark = get_spark("aruna-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def collect_calls(spark, monkeypatch) -> list:
    """Records every ``DataFrame.collect`` made while the test runs, one
    list entry per call; clear it to start a new count."""
    cls = type(spark.range(1))
    collect = cls.collect
    calls: list = []

    def counting(self):
        calls.append(self)
        return collect(self)

    monkeypatch.setattr(cls, "collect", counting)
    return calls


def _skip_reason(report) -> str:
    longrepr = report.longrepr
    reason = longrepr[2] if isinstance(longrepr, tuple) else str(longrepr)
    return reason.removeprefix("Skipped: ")


def pytest_terminal_summary(terminalreporter):
    """Print the skip count with its reasons grouped, so skipped tests
    stay visible in a ``-q`` run."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    terminalreporter.section(f"{len(skipped)} skipped")
    for reason, n in Counter(map(_skip_reason, skipped)).most_common():
        terminalreporter.write_line(f"{n:4d}  {reason}")
