"""Shared pytest fixtures: one SparkSession per test run, nibbledb-native
fixture points (FIXTURES.md §A — the reference's butterflies/honeybees
datasets, 2 series x 8 tagged points with intentional same-ts collisions),
and a populated TimeSeriesEngine."""

from __future__ import annotations

import pytest

from nibbledb_spark.engine import TimeSeriesEngine
from nibbledb_spark.schema import POINT_SCHEMA
from nibbledb_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _pts(series, rows):
    return [(series, t, dict(tag), float(v)) for (t, tag, v) in rows]


# Reference test fixtures (test/butterflies.json / test/honeybees.json,
# MIT): timestamps µs, tags location/scientist, same-ts collisions.
BUTTERFLIES = _pts(
    "butterflies",
    [
        (1439856000000000, [("location", "1"), ("scientist", "langstroth")], 12),
        (1439856000000000, [("location", "1"), ("scientist", "perpetua")], 1),
        (1439856360000000, [("location", "1"), ("scientist", "langstroth")], 11),
        (1439856360000000, [("location", "1"), ("scientist", "perpetua")], 3),
        (1439877240000000, [("location", "2"), ("scientist", "langstroth")], 2),
        (1439877600000000, [("location", "2"), ("scientist", "langstroth")], 1),
        (1439877960000000, [("location", "2"), ("scientist", "perpetua")], 8),
        (1439878320000000, [("location", "2"), ("scientist", "perpetua")], 7),
    ],
)

HONEYBEES = _pts(
    "honeybees",
    [
        (1439856000000000, [("location", "1"), ("scientist", "langstroth")], 23),
        (1439856000000000, [("location", "1"), ("scientist", "perpetua")], 30),
        (1439856360000000, [("location", "1"), ("scientist", "langstroth")], 28),
        (1439856360000000, [("location", "1"), ("scientist", "perpetua")], 28),
        (1439877240000000, [("location", "2"), ("scientist", "langstroth")], 11),
        (1439877600000000, [("location", "2"), ("scientist", "langstroth")], 10),
        (1439877960000000, [("location", "2"), ("scientist", "perpetua")], 23),
        (1439878320000000, [("location", "2"), ("scientist", "perpetua")], 28),
    ],
)


def run_in_job_group(spark, group, fn):
    """fn() in its own Spark job group: (its result, the number of
    Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("nibbledb_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_points(spark):
    """Both reference fixture series as one points DataFrame."""
    return spark.createDataFrame(BUTTERFLIES + HONEYBEES, POINT_SCHEMA).cache()


@pytest.fixture()
def engine(spark, tmp_path):
    eng = TimeSeriesEngine(spark, str(tmp_path / "store"), num_buckets=4)
    return eng
