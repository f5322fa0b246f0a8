from __future__ import annotations

import uuid
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

FIXTURES = Path(__file__).parent / "fixtures"
TESTDATA = Path("/root/testdata")


def load_fixture(name: str) -> dict[str, np.ndarray]:
    t = pq.read_table(FIXTURES / f"{name}.parquet")
    return {c: t[c].to_numpy(zero_copy_only=False) for c in t.schema.names}


@pytest.fixture(scope="session")
def em_tiles() -> np.ma.MaskedArray:
    """(5,100,100) masked backscatter tiles, log10+30 transformed exactly as
    ref tests/hydrosar/conftest.py:7-13."""
    d = load_fixture("em_tiles")
    vals = d["value"].reshape(5, 100, 100)
    mask = ~d["valid"].reshape(5, 100, 100)
    tiles = np.ma.MaskedArray(vals, mask=mask)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.log10(tiles) + 30
    return tiles


@pytest.fixture(scope="session")
def em_thresholds() -> np.ndarray:
    return load_fixture("em_thresholds")["threshold"]


@pytest.fixture(scope="session")
def hand_candidates() -> np.ndarray:
    return load_fixture("hand_candidates")["tile_id"]


@pytest.fixture(scope="session")
def hand_window() -> np.ndarray:
    return load_fixture("hand_window")["hand"].reshape(25, 101)


@pytest.fixture(scope="session")
def flood_window() -> np.ndarray:
    return load_fixture("flood_window")["label"].reshape(25, 101)


@pytest.fixture(scope="session")
def spark():
    from asf_tools_spark.session import get_spark

    spark = get_spark("asf-tools-spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns ``(result, jobs)``,
    where ``jobs`` is the number of Spark jobs it launched, counted through
    a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def no_cache_leak(spark):
    """``no_cache_leak(fn)`` clears the cache, runs ``fn()`` and asserts,
    whether ``fn`` returns or raises, that the CacheManager is empty: all
    that ``fn`` persisted it released. Returns ``fn()``'s result."""

    def run(fn):
        spark.catalog.clearCache()
        try:
            return fn()
        finally:
            assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), \
                "a cache entry outlived the call"

    return run
