from __future__ import annotations

import pytest

from big_data_trend_analysis_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("bdta-tests", master="local[4]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say how many parity/slow tests the ``-m`` filter left out (by
    default the one in pyproject.toml's ``addopts``) and how to run them."""
    markexpr = config.option.markexpr
    if not markexpr:
        return
    tiered = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("parity") or item.get_closest_marker("slow")
    ]
    if tiered:
        terminalreporter.write_line(
            f"{len(tiered)} parity/slow tests deselected by -m '{markexpr}'; "
            'run them with -m ""'
        )
