"""Shared fixtures. The Spark session is expensive (~15 s) — one per run."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    pyspark = pytest.importorskip("pyspark")  # noqa: F841
    from go_readability_spark.plans.session import get_spark

    spark = get_spark(app_name="pytest", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
