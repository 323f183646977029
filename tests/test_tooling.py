"""The root tool scripts and the session factory's host defaults: the
scaling harness cleans up after its scratch corpora, bench.py runs every
entry of a section once, untimed, in its own dir before the timed reps,
and the query registry fails loudly on a broken import."""

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


def test_bench_section_warms_every_entry_once_untimed(
    spark, sf_dir, monkeypatch
):
    registry = entrymod.queries()
    names = ["row_number", "text_quality"]
    calls: list[tuple[str, str]] = []

    def recorded(name):
        def build(spark, d):
            calls.append((name, d))
            return registry[name](spark, sf_dir)

        return build

    forced: list[int] = []
    real_force = bench.force
    monkeypatch.setattr(
        bench, "force", lambda df: forced.append(1) or real_force(df)
    )
    runs, cpus, requeued = bench.run_section(
        spark, {n: recorded(n) for n in names}, names, 2,
        bench._jvm_pid(spark), lambda n: f"dir-of-{n}",
    )
    # One untimed round, then two timed reps (three if requeued).
    for n in names:
        reps = 2 + (n in requeued)
        assert len(runs[n]) == len(cpus[n]) == reps
        assert calls.count((n, f"dir-of-{n}")) == 1 + reps
    assert len(forced) == len(calls)
    assert {d for n, d in calls} == {f"dir-of-{n}" for n in names}
    # The warm-up round runs every entry before any timed rep.
    assert [n for n, _ in calls[:2]] == names


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
