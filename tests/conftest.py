"""Shared pytest fixtures: one local SparkSession, fixture corpus paths."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

FIXTURE_DIR = os.path.join(REPO_ROOT, "fixtures", "data")
PAGES_SMOKE = os.path.join(FIXTURE_DIR, "pages_smoke.parquet")
GOLDENS_SMOKE = os.path.join(FIXTURE_DIR, "goldens_smoke.parquet")

# The smoke fixture embeds oversize rows at ~300 KB; tests gate at 256 KiB so
# the size-cap path (app/main.py:484-488) is exercised at fixture scale.
TEST_MAX_BYTES = 256 * 1024


def plan_of(df) -> str:
    """The frame's ``explain("formatted")`` text: the physical plan the
    plan-shape tests assert on and print when they fail."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("webtext-extractor-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def smoke_paths():
    assert os.path.exists(PAGES_SMOKE), "run: python -m fixtures.genpages --scale smoke"
    return PAGES_SMOKE, GOLDENS_SMOKE
