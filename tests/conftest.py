from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from nyc_taxi_data_prediction_pyspark_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


@pytest.fixture(autouse=True)
def _no_cached_frames_left():
    """Cache guard: no test (nor the operators it calls) may leave a
    cached frame behind. The cache is cleared after the check so one
    leak fails only the test that caused it."""
    yield
    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    try:
        leaked = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        spark.catalog.clearCache()
    assert not leaked, "cached frames left in the session's CacheManager"
