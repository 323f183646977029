import csv
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_kmeans_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


@pytest.fixture
def tmp_sf(spark, tmp_path):
    """An empty scratch corpus dir; every warehouse artifact built from it
    is dropped on teardown, so scratch corpora leave nothing behind in
    the checkout's spark-warehouse/."""
    from pyspark_kmeans_spark.functions.warehouse_gc import drop_artifacts

    d = str(tmp_path / "sf")
    os.makedirs(d)
    yield d
    drop_artifacts(spark, d)


@pytest.fixture
def no_cache_leak(spark):
    """Fails the test if it leaves a persisted RDD or a cache-manager entry
    behind that was not there when it started."""
    sc = spark.sparkContext
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    rdds = set(sc._jsc.getPersistentRDDs().keySet())
    entries = cache_manager.numCachedEntries()
    yield
    assert set(sc._jsc.getPersistentRDDs().keySet()) <= rdds
    assert cache_manager.numCachedEntries() <= entries


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gamedata")
    ts = "2016-01-01 00:00:00"
    _write_csv(
        d / "users.csv",
        ["timestamp", "userId", "nick", "twitter", "dob", "country"],
        [[ts, u, f"n{u}", f"@n{u}", f"19{70 + u % 20}-01-15", "US"] for u in range(40)],
    )
    _write_csv(
        d / "buy-clicks.csv",
        ["timestamp", "txId", "userSessionId", "team", "userId", "buyId", "price"],
        [
            [ts, i, 100 + u, 1, u, i % 6, float(1 + (u * 7 + i) % 20)]
            for i, u in enumerate(u for u in range(40) for _ in range(3))
        ],
    )
    _write_csv(
        d / "game-clicks.csv",
        ["timestamp", "clickId", "userId", "userSessionId", "isHit", "teamId", "teamLevel"],
        [
            [ts, i, u, 100 + u, (u + i) % 2, u % 5, 1]
            for i, u in enumerate(u for u in range(40) for _ in range(5))
        ],
    )
    _write_csv(
        d / "user-session.csv",
        [
            "timestamp",
            "userSessionId",
            "userId",
            "teamId",
            "assignmentId",
            "sessionType",
            "platformType",
            "teamLevel",
        ],
        [[ts, 100 + u, u, u % 5, 1, "start", "pc", 1] for u in range(35)],
    )
    _write_csv(
        d / "team.csv",
        ["teamId", "name", "teamCreationTime", "teamEndTime", "strength", "currentLevel"],
        [[t, f"team{t}", ts, ts, float(10 * t + 5), 1] for t in range(5)],
    )
    return str(d)
