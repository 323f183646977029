"""The write-once warehouse artifact lifecycle (functions/warehouse_memo.py,
functions/warehouse_gc.py): the ensure contract for every cheap artifact
family, the staged fold under a fault, and the per-corpus drop."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from pyspark_kmeans_spark.functions import warehouse_memo
from pyspark_kmeans_spark.functions.warehouse_gc import drop_artifacts
from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, path_tag

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "pyspark_kmeans_spark")


def _ensure(family: str):
    """(source tables, ensure callable) of one artifact family."""
    from pyspark_kmeans_spark.operators import dedup, graph, ingest
    from pyspark_kmeans_spark.sources import partitioned, sorted_layout, zorder

    return {
        "digest": (["documents"], ingest.ensure_digest_table),
        "lang_stats": (["documents"], ingest.ensure_lang_stats_table),
        "signature": (["documents"], dedup.ensure_signature_table),
        "pairs": (["documents"], graph.ensure_pairs_table),
        "partitioned": (["orders"], partitioned.ensure_month_partitioned_orders),
        "sorted": (["lineitem"], sorted_layout.ensure_shipdate_sorted_lineitem),
        "zorder": (["orders"], zorder.ensure_zordered_orders),
    }[family]


def _parts(path: str) -> set[str]:
    return {
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
    }


@pytest.mark.parametrize(
    "family",
    ["digest", "lang_stats", "signature", "pairs", "partitioned", "sorted", "zorder"],
)
def test_ensure_rebuilds_torn_dir_and_never_rewrites_committed(
    spark, sf_dir, tmp_sf, monkeypatch, family
):
    """A dir with part files but no _SUCCESS (a write killed before its
    commit) is rebuilt; a committed dir read by a session that has no memo
    entry for it triggers no write at all."""
    tables, ensure = _ensure(family)
    for t in tables:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{tmp_sf}/{t}.parquet")
    want = sorted(map(tuple, ensure(spark, tmp_sf).collect()))
    (path,) = glob.glob(os.path.join(_WAREHOUSE, f"*_{path_tag(tmp_sf)}_b*"))

    torn = _parts(path)
    assert torn
    os.remove(os.path.join(path, "_SUCCESS"))
    warehouse_memo.memo_invalidate(spark, path)
    rebuilt = ensure(spark, tmp_sf)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert _parts(path).isdisjoint(torn), "torn part files were read, not rebuilt"
    assert sorted(map(tuple, rebuilt.collect())) == want

    def _no_write(self, *a, **k):
        raise AssertionError("ensure rewrote a committed artifact")

    monkeypatch.setattr(DataFrameWriter, "parquet", _no_write)
    monkeypatch.setattr(DataFrameWriter, "save", _no_write)
    warehouse_memo.memo_invalidate(spark, path)
    assert sorted(map(tuple, ensure(spark, tmp_sf).collect())) == want


def _fail_first_rename(monkeypatch):
    real = os.rename
    calls = []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == 1:
            raise OSError("injected: rename failed mid-fold")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_fold_rename_fault_keeps_live_rows_and_retry_equals_rebuild(
    spark, tmp_sf, monkeypatch
):
    """The first part-file rename of a fold raises: the live artifact still
    reads exactly its pre-fold rows, the staged batch is left as an orphan
    outside it, and the retried fold sweeps that orphan and commits the
    same rows a rebuild over base ∪ batch writes."""
    base = spark.createDataFrame([(i, f"r{i}") for i in range(6)], "id long, v string")
    batch = spark.createDataFrame(
        [(i, f"r{i}") for i in range(6, 10)], "id long, v string"
    ).repartition(2)
    path = warehouse_memo.artifact_path("fold_fault", tmp_sf)
    warehouse_memo.ensure_artifact(
        spark, path, lambda p: base.write.mode("overwrite").parquet(p)
    )
    before = _rows(spark, path)

    with monkeypatch.context() as m:
        _fail_first_rename(m)
        with pytest.raises(OSError, match="injected"):
            warehouse_memo.fold_artifact(spark, path, batch)
    assert _rows(spark, path) == before
    (orphan,) = glob.glob(path + ".staging-*")

    warehouse_memo.fold_artifact(spark, path, batch)
    assert not os.path.exists(orphan)
    assert not glob.glob(path + ".staging-*")
    rebuild = warehouse_memo.artifact_path("fold_fault_rebuild", tmp_sf)
    base.unionByName(batch).write.parquet(rebuild)
    assert _rows(spark, path) == _rows(spark, rebuild)


def test_append_pairs_table_rename_fault_then_retry_equals_remine(
    spark, sf_dir, tmp_sf, monkeypatch
):
    """The same fault through the pair-graph fold (its first rename is the
    prefix state's): both live artifacts keep their pre-fold rows, and the
    retried fold equals a full re-mine of the union corpus."""
    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs
    from pyspark_kmeans_spark.operators.graph import (
        GRAPH_PAIR_THRESHOLD,
        _graph_state_paths,
        append_pairs_table,
        ensure_graph_state,
        ensure_pairs_table,
    )
    from pyspark_kmeans_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 5 != 0).write.parquet(f"{tmp_sf}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    ensure_pairs_table(spark, tmp_sf)
    ensure_graph_state(spark, tmp_sf)
    pairs_path, state_path, _ = _graph_state_paths(tmp_sf, GRAPH_PAIR_THRESHOLD)
    pairs_before, state_before = _rows(spark, pairs_path), _rows(spark, state_path)

    with monkeypatch.context() as m:
        _fail_first_rename(m)
        with pytest.raises(OSError, match="injected"):
            append_pairs_table(spark, tmp_sf, batch)
    assert _rows(spark, pairs_path) == pairs_before
    assert _rows(spark, state_path) == state_before

    folded = append_pairs_table(spark, tmp_sf, batch)
    assert not glob.glob(state_path + ".staging-*")
    got = sorted(map(tuple, folded.collect()))
    want = sorted(
        map(tuple, jaccard_pairs(docs, threshold=GRAPH_PAIR_THRESHOLD)
            .select("doc_a", "doc_b").collect())
    )
    assert got == want and got


def test_ivf_model_torn_save_is_refit_with_same_cells(
    spark, sf_dir, tmp_sf, monkeypatch
):
    """MLlib's save of the IVF model completes, then the write raises before
    the commit marker: the next ensure_ivf_model refits instead of loading
    the torn model, and the refit model assigns every vector the cell a
    fresh fit does."""
    from pyspark.ml.util import JavaMLWriter

    from pyspark_kmeans_spark.ml import kmeans as ml_kmeans
    from pyspark_kmeans_spark.operators import similarity
    from pyspark_kmeans_spark.sources.tables import load_table

    shutil.copy(f"{sf_dir}/embeddings.parquet", f"{tmp_sf}/embeddings.parquet")
    real_save = JavaMLWriter.save

    def save_then_crash(self, path):
        real_save(self, path)
        raise OSError("injected: crash after the model save")

    with monkeypatch.context() as m:
        m.setattr(JavaMLWriter, "save", save_then_crash)
        with pytest.raises(OSError, match="injected"):
            similarity.ensure_ivf_model(spark, tmp_sf)
    (path,) = glob.glob(os.path.join(_WAREHOUSE, f"ivf_model_*_{path_tag(tmp_sf)}_b16"))
    assert os.path.isdir(os.path.join(path, "data"))
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))

    fits = []
    real_fit = ml_kmeans.fit_kmeans
    monkeypatch.setattr(
        ml_kmeans, "fit_kmeans", lambda *a, **k: fits.append(1) or real_fit(*a, **k)
    )
    model = similarity.ensure_ivf_model(spark, tmp_sf)
    assert fits == [1]
    assert os.path.exists(os.path.join(path, "_SUCCESS"))

    emb = load_table(spark, tmp_sf, "embeddings")
    cells, _ = similarity._kmeans_cells(emb, 16, 1, "vec_id", model)
    fresh, _ = similarity._kmeans_cells(emb, 16, 1, "vec_id")
    got = {r.vec_id: r.cell for r in cells.collect()}
    assert got == {r.vec_id: r.cell for r in fresh.collect()} and got
    similarity.release_persisted()


def test_source_rewrite_in_place_rebuilds_query_artifacts(spark, sf_dir, tmp_sf):
    """documents.parquet and embeddings.parquet rewritten in place under
    the same names: dedup_lsh_kept and ann_ivf_topk answer from the new
    rows (their inline-signing and refit spellings), not from the
    artifacts built over the old ones."""
    import pyarrow.parquet as pq

    from pyspark_kmeans_spark.operators import dedup, similarity
    from pyspark_kmeans_spark.sources.tables import load_table

    for t in ("documents", "embeddings"):
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{tmp_sf}/{t}.parquet")

    def answers():
        kept = sorted(r.doc_id for r in dedup.q_dedup_lsh_kept(spark, tmp_sf).collect())
        topk = sorted(map(tuple, similarity.q_ann_ivf_topk(spark, tmp_sf).collect()))
        return kept, topk

    before = answers()
    for t, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        path = f"{tmp_sf}/{t}.parquet"
        table = pq.read_table(path)
        keep = [i for i, v in enumerate(table.column(key).to_pylist()) if v % 3 != 1]
        pq.write_table(table.take(keep), path)
    after = answers()

    docs = load_table(spark, tmp_sf, "documents")
    emb = load_table(spark, tmp_sf, "embeddings")
    want_kept = sorted(r.doc_id for r in dedup.lsh_near_dedup_kept(docs).collect())
    want_topk = sorted(
        map(tuple, similarity.ivf_topk(emb, similarity._probes(emb), k=5).collect())
    )
    similarity.release_persisted()
    assert after == (want_kept, want_topk)
    assert after[0] != before[0] and after[1] != before[1]


def test_drop_artifacts_forgets_then_deletes_one_corpus(spark, tmp_path):
    """drop_artifacts removes every artifact of one corpus, staging dirs
    included, and its memo entries; other corpora and foreign dirs stay."""
    from pyspark_kmeans_spark.sources.bucketed import bucketed_name

    wh = tmp_path / "wh"
    wh.mkdir()
    gone, kept = str(tmp_path / "gone_sf"), str(tmp_path / "kept_sf")
    gone_art = wh / bucketed_name("doc_digests_m5", gone, 1)
    gone_staging = wh / f"{gone_art.name}.staging-0123456789ab"
    kept_art = wh / bucketed_name("doc_digests_m5", kept, 1)
    foreign = wh / "metastore_db"
    for d in (gone_art, gone_staging, kept_art, foreign):
        d.mkdir()
    warehouse_memo.memo_put(spark, str(gone_art), "stale")
    warehouse_memo.memo_put(spark, str(kept_art), "live")
    try:
        victims = drop_artifacts(spark, gone, warehouse=str(wh))
        assert victims == [str(gone_art), str(gone_staging)]
        assert warehouse_memo.memo_get(spark, str(gone_art)) is None
        assert warehouse_memo.memo_get(spark, str(kept_art)) == "live"
        assert not gone_art.exists() and not gone_staging.exists()
        assert kept_art.exists() and foreign.exists()
    finally:
        warehouse_memo.memo_invalidate(spark, str(kept_art))


def test_only_the_lifecycle_module_gates_on_success_markers():
    """Every write-once artifact goes through warehouse_memo.ensure_artifact:
    no module may hand-roll its own _SUCCESS gate again.  The two
    exceptions own different protocols: catalog registration of bucketed
    tables, and the streaming loop's per-batch state dirs."""
    allowed = {
        "functions/warehouse_memo.py",
        "sources/bucketed.py",
        "streaming/dedup_ingest.py",
    }
    hits = set()
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            if "_SUCCESS" in f.read():
                hits.add(os.path.relpath(path, PKG).replace(os.sep, "/"))
    assert hits <= allowed, sorted(hits - allowed)
