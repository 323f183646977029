"""The root tool scripts and the session factory's host defaults: the
scaling harness cleans up after its scratch corpora, bench.py applies its
pinned bands only on the machine shape they were measured on, and the
query registry fails loudly on a broken import."""

from __future__ import annotations

import json
import os
import sys

import pytest

import __spark_entry__ as entrymod
import bench
import bench_scale
from pyspark_kmeans_spark.session import host_defaults
from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, path_tag


def test_band_pins_apply_only_on_the_pinned_core_count(sf_dir):
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    assert bench.band_pins(sf01, 4) == {}
    assert bench.band_pins(sf01, bench.PINNED_BAND_CORES) == bench.PINNED_BAND
    assert bench.band_pins(sf_dir, bench.PINNED_BAND_CORES) == {}


def test_registry_import_failure_is_loud(monkeypatch):
    monkeypatch.setitem(sys.modules, "pyspark_kmeans_spark.operators.bpe", None)
    with pytest.raises(ImportError):
        entrymod.queries()


def test_session_defaults_fit_the_host():
    cores, heap = host_defaults()
    assert 1 <= cores <= os.cpu_count()
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap.endswith("m") and 0 < int(heap[:-1]) * 2**20 <= phys // 2


def test_scale_harness_drops_its_scratch_corpora(
    spark, sf_dir, tmp_path, monkeypatch
):
    dropped: list[str] = []
    real_drop = bench_scale.drop_artifacts

    def recording_drop(spark, sf_dir):
        out = real_drop(spark, sf_dir)
        dropped.extend(out)
        return out

    monkeypatch.setattr(bench_scale, "drop_artifacts", recording_drop)
    forced: list[int] = []
    real_force = bench_scale.force
    monkeypatch.setattr(
        bench_scale, "force", lambda df: forced.append(1) or real_force(df)
    )
    record = json.loads(json.dumps(bench_scale.run_family(
        spark, "ann", str(tmp_path), sf_dir=sf_dir, ks=(1, 2), repeats=1,
        queries=("ann_ivf_assign",),
    )))
    assert set(record) == {"metric", "sf", "sizes", "seconds", "exponent"}
    assert record["metric"] == "scaling_ann"
    assert record["sizes"]["2"] == 2 * record["sizes"]["1"] > 0
    assert set(record["seconds"]["ann_ivf_assign"]) == {"1", "2"}
    assert isinstance(record["exponent"]["ann_ivf_assign"], float)
    # One untimed warm-up pass at the first k, then one timed rep per k.
    assert len(forced) == 3
    # ann_ivf_assign builds the codebook artifact of each scratch corpus;
    # the harness must have dropped it, leaving neither artifact nor tree.
    assert dropped
    tags = {path_tag(str(tmp_path / f"ann_sf0_001_k{k}" / "sf")) for k in (1, 2)}
    assert not [n for n in os.listdir(_WAREHOUSE) if any(t in n for t in tags)]
    assert not os.listdir(tmp_path)
