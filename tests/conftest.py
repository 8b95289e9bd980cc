from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from youtube_api_data_etl_automation_spark.session import get_spark


def pytest_configure(config):
    # A deprecated or soon-changing API fails the suite instead of adding
    # a line to the warning summary.
    config.addinivalue_line("filterwarnings", "error::DeprecationWarning")
    config.addinivalue_line("filterwarnings", "error::FutureWarning")
    # hypothesis imports libcst to print a failing example, and libcst
    # still uses a deprecated mypy_extensions class: as an error that
    # import would turn a test failure into an internal error
    config.addinivalue_line(
        "filterwarnings",
        "ignore:mypy_extensions.TypedDict is deprecated:DeprecationWarning")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("engine-tests", master="local[8]")
    yield s


SF_DIR = "/root/testdata/sf0.001"
