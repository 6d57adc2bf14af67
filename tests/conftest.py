"""Shared SparkSession for the unit suites (SURVEY.md §5).

One local session per test run: session startup is ~10 s, so tests
share it. Shuffle partitions are kept tiny — these suites exercise
semantics on hand-built frames, not scale. Python workers start through
the package's daemon (``session.python_worker_conf``), as in every local
session ``get_session`` builds, so the UDF and streaming suites run
through it.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from employee_data_management_system_data_engineering_solution_spark.session import (
        python_worker_conf,
    )

    s = (
        SparkSession.builder.master("local[4]")
        .appName("eds-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config(map=python_worker_conf("local[4]"))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
