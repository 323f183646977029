"""Concurrent k-scan: the scan fits its k values from a pool of driver
threads on one local checkpoint of its input.  Its results must equal a
sequential per-k fit loop over a cache of the same frame, its jobs must stay
in the caller's job group, the input must be evaluated once, a failing k must
cancel the fits not yet started, and no cache may outlive the scan."""

from __future__ import annotations

import json
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.ml.functions import array_to_vector
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pyspark_kmeans_spark.ml import kmeans
from pyspark_kmeans_spark.ml.features import prepare_features
from pyspark_kmeans_spark.ml.kmeans import fit_kmeans, kmeans_scan, silhouette_score
from pyspark_kmeans_spark.ml.queries import FLAGSHIP_FEATURES, _flagship
from pyspark_kmeans_spark.pipeline import PipelineConfig, scaled_features


def _points(spark, n: int = 400):
    """n two-dimensional points on a small grid, in the features column."""
    return spark.range(n).select(
        array_to_vector(
            F.array((F.col("id") % 7).cast("double"), (F.col("id") % 11).cast("double"))
        ).alias("features")
    )


def _jobs(sc) -> list[dict]:
    """Every job the status store still holds, with its name and group."""
    gw = sc._gateway
    mapper = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(gw.jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    return json.loads(mapper.writeValueAsString(sc._jsc.sc().statusStore().jobsList(None)))


def test_parallel_equals_sequential(spark, sf_dir):
    data = _flagship(spark, sf_dir)
    scaled, _ = prepare_features(data, FLAGSHIP_FEATURES, handle_invalid="skip")
    scaled = scaled.coalesce(4).cache()
    try:
        scan = kmeans_scan(scaled, 2, 6, seed=1)
        for k in range(2, 7):
            model = fit_kmeans(scaled, k, seed=1)
            assert scan.centers[k] == [c.tolist() for c in model.clusterCenters()]
            assert scan.silhouette[k] == silhouette_score(model, scaled)
    finally:
        scaled.unpersist()


def test_scan_jobs_stay_in_caller_group(spark, tmp_path):
    sc = spark.sparkContext
    first_new = max((j["jobId"] for j in _jobs(sc)), default=-1) + 1
    sc.setJobGroup("g", "k-scan under a caller's job group")
    try:
        kmeans_scan(_points(spark), 2, 4, models_dir=str(tmp_path / "models"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    in_group = set(sc.statusTracker().getJobIdsForGroup("g"))
    new = [j for j in _jobs(sc) if j["jobId"] >= first_new]
    # A model save writes its metadata as text and its centers as parquet.
    saves = {j["jobId"] for j in new if j["name"].startswith(("text at ReadWrite",
                                                              "parquet at ReadWrite"))}
    assert len(saves) == 2 * 3
    assert saves <= in_group
    assert {j["jobId"] for j in new} <= in_group


def test_pipeline_frame_scan_equals_cached_loop(spark, data_dir):
    """The unpersisted frame pipeline.run hands the scan: the scan's layout
    of it must be the one a plain cache of that frame has."""
    config = PipelineConfig(data_dir=data_dir, results_path="", models_dir="")
    scaled, _ = scaled_features(spark, config)
    scan = kmeans_scan(scaled, 2, 6, seed=1)
    scaled.cache()
    try:
        for k in range(2, 7):
            model = fit_kmeans(scaled, k, seed=1)
            assert scan.centers[k] == [c.tolist() for c in model.clusterCenters()]
            assert scan.silhouette[k] == silhouette_score(model, scaled)
    finally:
        scaled.unpersist()


def test_input_evaluated_once(spark, no_cache_leak):
    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return float(x % 7)

    data = spark.range(400).select(
        array_to_vector(
            F.array(F.udf(bump, "double")("id"), (F.col("id") % 11).cast("double"))
        ).alias("features")
    )
    kmeans_scan(data, 2, 6)
    assert acc.value == 400


def test_failed_checkpoint_releases_cache(spark, no_cache_leak):
    def explode(x):
        if x == 123:
            raise ValueError("input row 123 is bad")
        return float(x % 7)

    data = spark.range(400).select(
        array_to_vector(
            F.array(F.udf(explode, "double")("id"), (F.col("id") % 11).cast("double"))
        ).alias("features")
    )
    with pytest.raises(Exception, match="input row 123 is bad"):
        kmeans_scan(data, 2, 6)
    assert data.storageLevel == StorageLevel.NONE


@pytest.mark.parametrize("caller_persisted", [False, True])
def test_failed_k_cancels_pending_fits(spark, monkeypatch, no_cache_leak, caller_persisted):
    sc = spark.sparkContext
    data = _points(spark)
    if caller_persisted:
        data.persist(StorageLevel.MEMORY_AND_DISK)
    workers = sc.defaultParallelism
    k_max = 2 + workers + 2  # two k values stay queued after k=4's thread frees
    release = threading.Event()
    started, checkpoint_cached_at_end, shutdowns = [], [], []

    class Pool(ThreadPoolExecutor):
        """Holds the running fits until the queued ones are cancelled."""

        def shutdown(self, wait=True, *, cancel_futures=False):
            shutdowns.append(cancel_futures)
            super().shutdown(wait=False, cancel_futures=cancel_futures)
            release.set()
            super().shutdown(wait=wait)

    def fit(data, k, **kw):
        started.append(k)
        if k == 4:
            raise RuntimeError("fit failed for k=4")
        assert release.wait(120)
        model = fit_kmeans(data, k, **kw)
        rdd_id = data._jdf.queryExecution().analyzed().rdd().id()
        cached = {i.id(): i.numCachedPartitions() for i in sc._jsc.sc().getRDDStorageInfo()}
        checkpoint_cached_at_end.append(cached.get(rdd_id, 0) > 0)
        return model

    monkeypatch.setattr(kmeans, "ThreadPoolExecutor", Pool)
    monkeypatch.setattr(kmeans, "fit_kmeans", fit)
    try:
        with pytest.raises(RuntimeError, match="k=4"):
            kmeans_scan(data, 2, k_max)
        assert shutdowns == [True]
        assert sorted(started) == list(range(2, 2 + workers + 1))
        assert checkpoint_cached_at_end and all(checkpoint_cached_at_end)
        assert (data.storageLevel != StorageLevel.NONE) == caller_persisted
    finally:
        data.unpersist()
