"""Similarity-search tests: brute-force correctness properties + LSH recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pyspark_kmeans_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
    with_unit_vectors,
)
from pyspark_kmeans_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def probes(emb):
    return emb.filter(F.col("vec_id") % 100 == 0)  # 5 probes at sf0.001


def test_topk_shape_and_order(emb, probes):
    rows = cosine_topk(emb, probes, k=5).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert len(by_probe) == probes.count()
    for plist in by_probe.values():
        plist.sort(key=lambda r: r.rank)
        assert [r.rank for r in plist] == [1, 2, 3, 4, 5]
        cosines = [r.cosine for r in plist]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0 <= c <= 1.0 for c in cosines)
        assert all(r.probe_id != r.neighbor_id for r in plist)


def test_known_neighbor(spark, emb):
    # A probe identical to vector 0 must retrieve vector 0 at rank 1, cos=1.
    v0 = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    probe = spark.createDataFrame(
        [(99999, v0)], "vec_id long, embedding array<float>"
    )
    top = cosine_topk(emb, probe, k=1).collect()[0]
    assert top.neighbor_id == 0
    assert math.isclose(top.cosine, 1.0, abs_tol=1e-6)


def test_norms_positive(emb):
    bad = with_unit_vectors(emb).filter(F.col("norm") <= 0).count()
    assert bad == 0


def test_ivf_topk_recall_beats_lsh(emb, probes):
    from pyspark_kmeans_spark.operators.similarity import ivf_topk, lsh_topk

    exact = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_topk(emb, probes, k=5).collect()
    }
    ivf = {
        (r.probe_id, r.neighbor_id)
        for r in ivf_topk(emb, probes, k=5, n_cells=16, n_probe_cells=4).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # scanning 4/16 cells (~25% of corpus); data-adaptive cells should find
    # well over half of the true top-5
    assert recall >= 0.5, f"IVF recall {recall:.3f}"


def test_lsh_topk_recall(emb, probes):
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in cosine_topk(emb, probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in lsh_topk(emb, probes, k=5, n_tables=8, n_planes=4).collect()
    }
    # 8 tables × 4 planes: recall = 1-(1-p^4)^8 with p ≈ 0.6 for these
    # neighbors → ~0.7 expected; pin a regression floor below that.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"LSH recall {recall:.3f}"
    # and every neighbor it does return shares the probe's cell → no junk
    assert approx, "LSH returned nothing"


def test_cosine_near_dup_pairs_probe_parameter(emb):
    """VERDICT r2 item 5: the probe side is caller-boundable; the default
    keeps the registered id % PROBE_MODULUS semantics."""
    from pyspark_kmeans_spark.operators.similarity import (
        PROBE_MODULUS,
        cosine_near_dup_pairs,
    )

    default = {
        (r.doc_a, r.doc_b) for r in cosine_near_dup_pairs(emb).collect()
    }
    explicit = {
        (r.doc_a, r.doc_b)
        for r in cosine_near_dup_pairs(
            emb, probes=emb.filter(F.col("vec_id") % PROBE_MODULUS == 0)
        ).collect()
    }
    assert explicit == default
    one_id = emb.filter(F.col("vec_id") % PROBE_MODULUS == 0).agg(
        F.min("vec_id")
    ).first()[0]
    single = cosine_near_dup_pairs(
        emb, probes=emb.filter(F.col("vec_id") == one_id)
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in single} <= default
    assert all(one_id in (r.doc_a, r.doc_b) for r in single)


def test_near_dup_pairs_explicit_probe_sees_smaller_ids(spark):
    """An explicit probe must report matches to SMALLER corpus ids too —
    the old doc_a < doc_b filter silently dropped half of each probe's
    matches (review fix)."""
    from pyspark_kmeans_spark.operators.similarity import cosine_near_dup_pairs

    rows = [
        (7, [1.0, 0.0]),     # near-dup of the probe, smaller id
        (500, [0.99, 0.1]),  # the probe
        (900, [0.0, 1.0]),   # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter("vec_id = 500")
    got = {
        (r.doc_a, r.doc_b)
        for r in cosine_near_dup_pairs(df, 0.9, probes=probes).collect()
    }
    assert got == {(500, 7)}


def test_probe_probe_pairs_not_double_reported(spark):
    """Between two probes the mirrored pair must appear once (a < b)."""
    from pyspark_kmeans_spark.operators.similarity import cosine_near_dup_pairs

    rows = [(1, [1.0, 0.0]), (2, [0.99, 0.05])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [
        (r.doc_a, r.doc_b)
        for r in cosine_near_dup_pairs(df, 0.9, probes=df).collect()
    ]
    assert got == [(1, 2)]


def test_lsh_cells_rejects_dim_mismatch(spark):
    from pyspark_kmeans_spark.operators.similarity import lsh_cells

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dim"):
        lsh_cells(df, dim=64)


def test_semantic_dedup_greedy_rule_matches_brute_force(spark, sf_dir):
    """Given the cells the operator itself assigned, the kept/dropped split
    must equal the brute-force greedy rule: dropped iff a smaller-id row in
    the same cell has cosine >= threshold."""
    from pyspark_kmeans_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, SEMDEDUP_THRESHOLD).collect()
    cells = {r.vec_id: r.cell for r in out}
    kept = {r.vec_id: r.kept for r in out}
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    assert set(cells) == set(vecs)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 6)

    n_dropped = 0
    for vid, cell in cells.items():
        expect_drop = any(
            other < vid
            and cells[other] == cell
            and cos(vecs[other], vecs[vid]) >= SEMDEDUP_THRESHOLD
            for other in cells
        )
        assert kept[vid] == (not expect_drop), vid
        n_dropped += int(expect_drop)
    assert n_dropped > 0  # threshold calibrated to exercise the drop path


def test_semantic_dedup_deterministic(spark, sf_dir):
    from pyspark_kmeans_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, semantic_dedup(emb, SEMDEDUP_THRESHOLD).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, SEMDEDUP_THRESHOLD).collect()))
    assert a == b


def test_lsh_topk_scale_mode_no_broadcast_same_result(spark, sf_dir):
    """probes_broadcastable=False must not change results, and its plan
    must contain no BroadcastHashJoin (the static-estimate hazard pin)."""
    from pyspark_kmeans_spark.operators.similarity import lsh_topk
    from pyspark_kmeans_spark.plans import physical_plan

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0)
    a = sorted(map(tuple, lsh_topk(emb, probes, k=3).collect()))
    scale = lsh_topk(emb, probes, k=3, probes_broadcastable=False)
    assert "BroadcastHashJoin" not in physical_plan(scale)
    b = sorted(map(tuple, scale.collect()))
    assert a == b


def test_quantize_error_bounds(spark, sf_dir):
    """Int8 maxabs quantization contract: every element lands on a grid
    point within scale/2 of its input, so max_abs_err <= scale/2 and
    mse <= (scale/2)^2 for every vector."""
    from pyspark_kmeans_spark.operators.similarity import q_embedding_quantize

    rows = q_embedding_quantize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        half = r["scale"] / 2 + 1e-12
        assert 0.0 <= r["max_abs_err"] <= half, r
        assert 0.0 <= r["mse"] <= half * half, r


def test_ivf_assign_matches_model_transform(spark, sf_dir):
    """The map-side plan-literal routing must assign every vector to the
    same cell as MLlib's own model.transform (same centroids, same
    unit-space argmin-L2) — the index-ingestion path may not drift from
    the index-build path."""
    from pyspark.ml.functions import array_to_vector

    from pyspark_kmeans_spark.operators.similarity import (
        _kmeans_cells,
        ivf_assign,
        with_unit_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    _, model = _kmeans_cells(corpus, 16, 1, "vec_id")
    centroids = [c.tolist() for c in model.clusterCenters()]
    got = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(batch, centroids).collect()
    }
    unit = F.transform("vec", lambda x: x / F.col("norm"))
    featurized = with_unit_vectors(batch).withColumn(
        "_fv", array_to_vector(unit)
    )
    want = {
        r["vec_id"]: r["prediction"]
        for r in model.transform(featurized).collect()
    }
    assert got == want
    assert len(got) > 0


def test_persisted_codebook_routes_like_fresh_fit(spark, sf_dir):
    """ensure_codebook_table's parquet round-trip must be EXACT: the
    persisted centroids equal the freshly-fitted ones float-for-float
    (clusterCenters() float64 → parquet double is lossless), so routing
    the batch against the persisted codebook equals routing against a
    fresh fit — the registered ann_ivf_assign / daily_ingest_lsh queries
    read ONLY the persisted artifact (zero iterative fit per run)."""
    from pyspark_kmeans_spark.operators.similarity import (
        _kmeans_cells,
        ensure_codebook_table,
        ivf_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    persisted = ensure_codebook_table(
        spark, sf_dir, n_cells=16, seed=1, batch_mod=5
    )
    # Second call must be a pure read (same values, no refit drift).
    assert ensure_codebook_table(
        spark, sf_dir, n_cells=16, seed=1, batch_mod=5
    ) == persisted
    _, model = _kmeans_cells(corpus, 16, 1, "vec_id")
    fresh = [[float(v) for v in c] for c in model.clusterCenters()]
    assert persisted == fresh
    got = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(batch, persisted).collect()
    }
    want = {
        r["vec_id"]: r["cell"] for r in ivf_assign(batch, fresh).collect()
    }
    assert got == want and len(got) > 0


def test_hybrid_topk_survivor_guard_raises_on_nonselective_keyword(
    spark, sf_dir
):
    """A keyword matching (nearly) everything must fail loudly instead of
    silently degrading the brute-force stage to full probes×corpus; a
    selective keyword under the bound still runs."""
    from pyspark_kmeans_spark.operators.similarity import hybrid_topk

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="not selective"):
        # "" is contained in every text → every doc survives the filter
        hybrid_topk(emb, docs, "", max_survivors=10)
    got = hybrid_topk(emb, docs, "dup", max_survivors=100_000, k=3)
    assert got.count() > 0


def test_registered_ingestion_queries_never_refit_codebook(
    spark, sf_dir, monkeypatch
):
    """The VERDICT r5 'zero iterative fit per run' claim, pinned directly:
    once the codebook table exists, constructing AND executing
    ann_ivf_assign / daily_ingest_lsh must not call fit_kmeans at all —
    a regression back to per-run refitting fails loudly here instead of
    showing up as a 100 TB cost cliff."""
    from pyspark_kmeans_spark.ml import kmeans as ml_kmeans
    from pyspark_kmeans_spark.operators.ingest import q_daily_ingest_lsh
    from pyspark_kmeans_spark.operators.similarity import (
        ensure_codebook_table,
        q_ann_ivf_assign,
    )

    ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1, batch_mod=5)

    def _boom(*a, **k):
        raise AssertionError("fit_kmeans called from a registered ingestion query")

    monkeypatch.setattr(ml_kmeans, "fit_kmeans", _boom)
    assert q_ann_ivf_assign(spark, sf_dir).count() > 0
    assert q_daily_ingest_lsh(spark, sf_dir).count() > 0


def test_ann_ivf_topk_never_refits_once_model_exists(spark, sf_dir, monkeypatch):
    """Once the IVF model artifact exists, constructing AND executing
    ann_ivf_topk must not call fit_kmeans: the query loads the persisted
    model instead of refitting k-means over the corpus on every call."""
    from pyspark_kmeans_spark.ml import kmeans as ml_kmeans
    from pyspark_kmeans_spark.operators.similarity import (
        ensure_ivf_model,
        q_ann_ivf_topk,
    )

    ensure_ivf_model(spark, sf_dir)

    def _boom(*a, **k):
        raise AssertionError("fit_kmeans called from ann_ivf_topk")

    monkeypatch.setattr(ml_kmeans, "fit_kmeans", _boom)
    assert q_ann_ivf_topk(spark, sf_dir).count() > 0


@pytest.mark.parametrize(
    "sf, sha",
    [
        ("sf0.001", None),
        (
            "sf0.01",
            "48e163ad974a2da19a90661c3824fd996bee46016b87d57e853b7008de73cbf8",
        ),
    ],
)
def test_ann_ivf_topk_query_equals_refit(spark, sf_dir, sf, sha):
    """The persisted model gives the rows of a refit: q_ann_ivf_topk equals
    ivf_topk with no model, and at sf0.01 its sorted rows hash to the value
    they had when the query refit on every call (250 rows)."""
    import hashlib
    import os

    from pyspark_kmeans_spark.operators.similarity import (
        _probes,
        ivf_topk,
        q_ann_ivf_topk,
        release_persisted,
    )

    d = os.path.join(os.path.dirname(sf_dir), sf)
    got = sorted(map(str, map(tuple, q_ann_ivf_topk(spark, d).collect())))
    emb = load_table(spark, d, "embeddings")
    want = sorted(map(str, map(tuple, ivf_topk(emb, _probes(emb), k=5).collect())))
    release_persisted()
    assert got == want and got
    if sha is not None:
        assert hashlib.sha256("\n".join(got).encode()).hexdigest() == sha


def test_codebook_check_green_on_honest_corpus_and_flags_planted_drift(
    spark, sf_dir
):
    """The codebook staleness gate (VERDICT r6 item 3): on the honest
    corpus the registered query anchors the vector count, reads the
    16-cell persisted codebook, and reports balanced routing; embeddings
    shifted far outside the fitted space (every unit vector collapses
    toward 1/sqrt(d)*(1,..,1), so routing lands in ONE cell) must flip
    `balance_ok` — the drift condition a write-once routing artifact needs
    a canary for at 100 TB."""
    from pyspark_kmeans_spark.operators.checks import (
        q_codebook_check,
        routing_balance,
    )
    from pyspark_kmeans_spark.operators.similarity import (
        ensure_codebook_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_emb = emb.count()
    row = q_codebook_check(spark, sf_dir).first()
    assert row["n_vectors"] == n_emb
    assert row["n_cells"] == 16
    assert row["balance_ok"]

    centroids = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    drifted = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(1000.0))
    )
    drow = routing_balance(drifted, centroids).first()
    assert drow["n_vectors"] == n_emb
    assert not drow["balance_ok"]


def test_refresh_codebook_rebuilds_and_invalidates_session_memo(
    spark, sf_dir
):
    """The monitor->refit loop: refresh_codebook_table must actually
    rebuild the artifact AND drop the session memo, so post-refresh reads
    see the refitted centroids.  The memo poisoning here simulates the
    stale-cache failure mode directly: if refresh forgot to invalidate,
    ensure would keep returning the poisoned values."""
    from pyspark_kmeans_spark.functions import warehouse_memo
    from pyspark_kmeans_spark.operators.similarity import (
        ensure_codebook_table,
        refresh_codebook_table,
    )

    honest = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    # Poison the memo entry for this artifact (prove ensure reads it),
    # deriving the key exactly as the production code does.
    import os

    from pyspark_kmeans_spark.operators.similarity import IVF_BATCH_MOD
    from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, bucketed_name

    path = os.path.join(
        _WAREHOUSE,
        bucketed_name(
            f"ivf_codebook_m{IVF_BATCH_MOD}_s1", sf_dir, n_buckets=16
        ),
    )
    key = (spark.sparkContext.applicationId, path)
    assert key in warehouse_memo._MEMO
    stamp, _, counts = warehouse_memo._MEMO[key]
    warehouse_memo._MEMO[key] = (
        stamp, [[0.0] * 64 for _ in range(16)], counts
    )
    assert ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1) == [
        [0.0] * 64 for _ in range(16)
    ]
    # Refresh refits over the same corpus (deterministic seed -> same
    # centroids) and must clear the poisoned entry.
    refreshed = refresh_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    assert refreshed == honest
    assert ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1) == honest


def test_drift_loop_end_to_end_check_flips_then_refresh_heals(
    spark, tmp_path, tmp_sf
):
    """The full 100 TB drift loop on a scratch sf_dir: fit the codebook on
    the original corpus, mutate the corpus in place (the production
    scenario — the table grows/shifts under a write-once artifact), watch
    codebook_check flip red, refresh, watch it heal.  Every step runs the
    REGISTERED query, not a test-only primitive."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from pyspark_kmeans_spark.operators.checks import q_codebook_check
    from pyspark_kmeans_spark.operators.similarity import (
        ensure_codebook_table,
        refresh_codebook_table,
    )

    sf = "/root/testdata/sf0.001"
    # testdata tables are single parquet FILES; Spark writes directories —
    # load_table reads either shape.
    shutil.copy(f"{sf}/embeddings.parquet", f"{tmp_sf}/embeddings.parquet")
    # Day 0: codebook fitted on the original corpus; check is green.
    ensure_codebook_table(spark, tmp_sf, n_cells=16, seed=1)
    assert q_codebook_check(spark, tmp_sf).first()["balance_ok"]

    # The corpus drifts IN PLACE under the write-once artifact: a strong
    # new common direction (x[0] += 50) concentrates STALE routing into
    # ~2 cells (measured max/mean 15.3 vs the 8.0 limit) while the
    # residual structure survives in unit space, so a REFIT balances it
    # again (measured 2.4) — drift a refit can actually heal, unlike a
    # uniform shift that collapses all unit vectors onto one direction.
    drifted = (
        spark.read.parquet(f"{tmp_sf}/embeddings.parquet")
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x + F.lit(50.0)).otherwise(x),
            ).cast("array<float>"),
        )
    )
    drifted.write.mode("overwrite").parquet(str(tmp_path / "drifted.parquet"))
    os.remove(f"{tmp_sf}/embeddings.parquet")
    shutil.copytree(
        str(tmp_path / "drifted.parquet"), f"{tmp_sf}/embeddings.parquet"
    )
    row = q_codebook_check(spark, tmp_sf).first()
    assert not row["balance_ok"], "stale codebook must flag drifted corpus"

    # Remediation: refit over the current corpus; the check heals.
    refresh_codebook_table(spark, tmp_sf, n_cells=16, seed=1)
    assert q_codebook_check(spark, tmp_sf).first()["balance_ok"]


def test_relative_drift_gate_catches_what_absolute_gate_misses(
    spark, tmp_path, tmp_sf
):
    """VERDICT r7 missing #4: the absolute IVF_SKEW_LIMIT (8.0) only
    catches severe collapse.  Build a 16-blob corpus whose fit is
    perfectly balanced (fit ratio 1.0: 16 unit basis-vector blobs, 20
    vectors each, uniformly split 80/20), then drift 25% of the mass
    into blob 0 IN PLACE: current ratio 5.0 still passes the absolute
    gate, but is 5× the artifact's fit-time ratio — only the new
    relative gate (IVF_REL_DRIFT_LIMIT = 3.0) fires."""
    import shutil

    from pyspark_kmeans_spark.operators.checks import q_codebook_check
    from pyspark_kmeans_spark.operators.similarity import (
        ensure_codebook_stats,
    )

    dim = 64

    def blob_vec(b):
        v = [0.0] * dim
        v[b] = 1.0
        return v

    def write_embeddings(rows):
        stage = str(tmp_path / "stage_emb")
        shutil.rmtree(stage, ignore_errors=True)
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.parquet(stage)
        shutil.rmtree(f"{tmp_sf}/embeddings.parquet", ignore_errors=True)
        shutil.copytree(stage, f"{tmp_sf}/embeddings.parquet")

    write_embeddings([(i, blob_vec(i % 16)) for i in range(320)])
    # Day 0: balanced fit (each blob contributes exactly 16 vectors to
    # the 80% fit split — 16*1 ≡ 1 mod 5 walks every residue class).
    _, counts = ensure_codebook_stats(spark, tmp_sf)
    fit_ratio = max(counts) * len(counts) / sum(counts)
    assert fit_ratio < 1.5, counts
    row = q_codebook_check(spark, tmp_sf).first()
    assert row["balance_ok"] and row["balance_vs_fit_ok"]

    # Moderate drift: blobs 1-4's mass re-routes to blob 0 (cell gets
    # 100 of 320 → ratio 5.0 — under the absolute 8.0, 5× the fit).
    write_embeddings(
        [(i, blob_vec(0 if i % 16 in (1, 2, 3, 4) else i % 16))
         for i in range(320)]
    )
    row = q_codebook_check(spark, tmp_sf).first()
    assert row["balance_ok"], "absolute gate must MISS moderate drift"
    assert not row["balance_vs_fit_ok"], (
        "relative gate must CATCH a 5x-vs-fit degradation"
    )


def test_incremental_semantic_kept_corpus_precedence_and_greedy(spark):
    """The incremental SemDeDup rule, planted: a batch vector near a
    CORPUS vector is dropped even though its id is SMALLER than the
    corpus doc's (corpus precedence is positional, not id-based); within
    the batch the greedy lowest-id one-hop rule applies; vectors in a
    cell with no near neighbor survive."""
    from pyspark.sql import functions as F

    from pyspark_kmeans_spark.operators.similarity import (
        incremental_semantic_kept,
    )

    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    corpus = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    batch = spark.createDataFrame(
        [
            # ~= the corpus vector: dropped by corpus precedence (id 1 < 100)
            (1, [0.999, 0.01, 0.0, 0.0]),
            # alone with id 3 in cell 1: kept (no corpus member there)
            (2, [0.0, 1.0, 0.0, 0.0]),
            # near batch id 2 (smaller id): dropped by the greedy rule
            (3, [0.0, 0.999, 0.02, 0.0]),
            # cell 0 but cosine 0.8 < 0.95 to everything: kept
            (4, [0.8, 0.0, 0.6, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    kept = {
        r["vec_id"]
        for r in incremental_semantic_kept(
            corpus, batch, centroids, threshold=0.95
        ).collect()
    }
    assert kept == {2, 4}
    # An empty corpus degrades to pure within-batch greedy SemDeDup.
    kept2 = {
        r["vec_id"]
        for r in incremental_semantic_kept(
            corpus.filter(F.lit(False)), batch, centroids, threshold=0.95
        ).collect()
    }
    assert kept2 == {1, 2, 4}


def test_codebook_update_check_green_and_reclaims_scratch(spark):
    """The registered driver row for the mini-batch update (VERDICT r7
    missing #2): zero closed-form mismatches on the honest corpus, and
    both the scratch tree and the scratch-keyed warehouse artifact are
    reclaimed (the update runs against a COPY — the shared sf codebook
    must be untouched)."""
    import glob
    import os
    import tempfile

    from pyspark_kmeans_spark.operators.checks import q_codebook_update_check

    sf = "/root/testdata/sf0.001"
    row = q_codebook_update_check(spark, sf).first()
    assert row["n_batch"] == 100  # 500 vectors, vec_id % 5 == 0
    assert row["n_cells"] == 16
    assert row["n_centroid_mismatch"] == 0
    assert row["n_count_mismatch"] == 0
    app = spark.sparkContext.applicationId
    assert not glob.glob(
        os.path.join(tempfile.gettempdir(), f"codebook_update_check_*_{app}")
    )
    assert not glob.glob("spark-warehouse/ivf_codebook_*_bucketed_sf_*")


def test_update_codebook_minibatch_matches_closed_form(spark, tmp_sf):
    """The mini-batch update step, pinned against a Python mirror: route
    each batch point to its nearest persisted centroid in unit space,
    fold c' = (n*c + sum_u)/(n + m) per cell, leave untouched cells
    byte-identical and increment per-cell populations — then the memo
    invalidation must make ensure_* return the UPDATED centroids."""
    import math
    import os

    from pyspark_kmeans_spark.operators.similarity import (
        ensure_codebook_table,
        update_codebook_table,
    )
    from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, bucketed_name

    # Two tight clusters around e0 and e1; corpus split (vec_id % 5 != 0)
    # covers both; the batch (vec_id % 5 == 0) sits near cluster e0.
    rows = []
    for i in range(1, 9):
        rows.append((i if i % 5 else i + 100, [1.0, 0.05 * i, 0.0, 0.0], 0))
    for i in range(1, 9):
        rows.append(
            (200 + (i if i % 5 else i + 50), [0.05 * i, 1.0, 0.0, 0.0], 1)
        )
    rows += [(5, [1.0, 0.3, 0.0, 0.0], 0), (10, [1.0, 0.4, 0.0, 0.0], 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    emb.write.parquet(f"{tmp_sf}/embeddings.parquet")

    before = ensure_codebook_table(spark, tmp_sf, n_cells=2, seed=1)
    path = os.path.join(
        _WAREHOUSE, bucketed_name("ivf_codebook_m5_s1", tmp_sf, n_buckets=2)
    )
    stored = sorted(
        spark.read.parquet(path).collect(), key=lambda r: r["cell"]
    )
    counts = [int(r["n"]) for r in stored]
    assert sum(counts) == 14  # fit split size

    batch_rows = [r for r in rows if r[0] % 5 == 0]
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<float>, label int"
    )
    got = update_codebook_table(spark, tmp_sf, batch, n_cells=2, seed=1)

    # Python mirror.  Batch values live as float32 in Spark (the
    # embedding column type) before the double-math unit division — the
    # mirror must round-trip through float32 too or 0.3-style values
    # diverge at the 1e-8 level.
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    def unit(v):
        nrm = math.sqrt(sum(x * x for x in v))
        return [x / nrm for x in v]

    folds = {c: [0, [0.0] * 4] for c in range(2)}
    for _, v, _lbl in batch_rows:
        u = unit([f32(x) for x in v])
        cell = min(
            range(2),
            key=lambda c: sum((u[i] - before[c][i]) ** 2 for i in range(4)),
        )
        folds[cell][0] += 1
        folds[cell][1] = [a + b for a, b in zip(folds[cell][1], u)]
    for c in range(2):
        m, s = folds[c]
        n = counts[c]
        want = (
            before[c]
            if m == 0
            else [(n * before[c][i] + s[i]) / (n + m) for i in range(4)]
        )
        assert all(abs(g - w) < 1e-9 for g, w in zip(got[c], want)), c
    # Populations advanced by the batch size; ensure() sees the update.
    after = sorted(spark.read.parquet(path).collect(), key=lambda r: r["cell"])
    assert sum(int(r["n"]) for r in after) == 14 + len(batch_rows)
    assert ensure_codebook_table(spark, tmp_sf, n_cells=2, seed=1) == got


def test_pq_encode_is_exact_argmin_and_deterministic(spark):
    """pq_encode assigns each subspace its TRUE argmin centroid (hand
    codebooks, unit-space check in pure python) and is a deterministic
    pure function of the data (two runs bit-equal)."""
    from pyspark_kmeans_spark.operators.similarity import pq_encode

    # 4-dim vectors, m=2 subspaces of 2 dims, k=2 codes per subspace.
    books = [
        [[1.0, 0.0], [0.0, 1.0]],
        [[0.7, 0.7], [-0.7, 0.7]],
    ]
    rows = [
        (0, [10.0, 0.1, 3.0, 3.0]),   # s0→code 0, s1→code 0
        (1, [0.1, 5.0, -2.0, 2.0]),   # s0→code 1, s1→code 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert got == {0: [0, 0], 1: [1, 1]}
    again = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert got == again


def test_pq_topk_finds_exact_duplicate_first(spark):
    """An exact-duplicate vector must survive ADC candidate selection and
    land at rank 1 with cosine 1.0 after the exact re-rank — quantization
    may cost recall on hard neighbors, never on an identical one (it
    shares every subspace code with the probe)."""
    import random

    from pyspark_kmeans_spark.operators.similarity import pq_encode, pq_topk

    rng = random.Random(7)
    dim, m = 8, 4
    base = [rng.gauss(0, 1) for _ in range(dim)]
    rows = [(0, base), (1, list(base))] + [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # hand codebooks: k=4 random unit-ish centers per 2-dim subspace
    books = [
        [[rng.gauss(0, 1) for _ in range(dim // m)] for _ in range(4)]
        for _ in range(m)
    ]
    probe = df.filter(F.col("vec_id") == 0)
    enc = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    assert enc[0] == enc[1], "identical vectors must share every code"
    top = pq_topk(df, probe, books, k=3, refine=4).collect()
    first = [r for r in top if r["rank"] == 1][0]
    assert first["neighbor_id"] == 1 and first["cosine"] == 1.0


def test_ivfpq_equals_cosine_topk_when_nothing_pruned(spark):
    """With n_probe_cells == n_cells the cell routing prunes nothing, and
    with refine·k ≥ N the ADC selection keeps every candidate, so
    residual IVFADC must produce BIT-IDENTICAL output to brute-force
    cosine_topk (both rank the exact rounded cosine through _rank_topk)
    — pinning that the composition changes the candidate set only,
    never the final scoring."""
    import random

    from pyspark_kmeans_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_topk,
        pq_index_frame,
    )

    rng = random.Random(29)
    dim, m, n = 8, 4, 60
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = [
        [[rng.gauss(0, 1) for _ in range(dim // m)] for _ in range(4)]
        for _ in range(m)
    ]
    centroids = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(3)]
    probes = df.filter(F.col("vec_id") % 10 == 0)
    k = 3
    want = sorted(
        tuple(r) for r in cosine_topk(df, probes, k=k).collect()
    )
    got = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            df, probes, centroids, books, k=k, n_probe_cells=3,
            refine=n // k, index=pq_index_frame(df, centroids, books),
        ).collect()
    )
    assert got == want


def test_ivfpq_recall_check_green_at_sf0001(spark):
    """The registered gate holds at sf0.001 (round 12: measured recall
    0.924 with residual encoding + 8-cell multi-probe vs the 0.85 floor)
    — the same invariant the driver hash pins at sf0.01."""
    from pyspark_kmeans_spark.operators.checks import q_ivfpq_recall_check

    row = q_ivfpq_recall_check(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_exact_pairs"] > 0
    assert row["ivfpq_recall_ok"] is True


def test_residual_ivfpq_finds_exact_duplicate_first(spark):
    """Residual IVFADC (codes over unit − centroid(cell), ADC score
    q·c + LUT sum): an exact duplicate shares its probe's cell AND
    residual codes, so it survives routing + ADC selection and lands at
    rank 1 with cosine 1.0 after the exact re-rank — quantization may
    cost recall on hard neighbors, never on an identical one."""
    import random

    from pyspark_kmeans_spark.operators.similarity import (
        ivf_pq_topk,
        pq_index_frame,
    )

    rng = random.Random(13)
    dim, m = 8, 4
    base = [rng.gauss(0, 1) for _ in range(dim)]
    rows = [(0, base), (1, list(base))] + [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(2, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = [
        [[rng.gauss(0, 1) for _ in range(dim // m)] for _ in range(4)]
        for _ in range(m)
    ]
    centroids = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    probe = df.filter(F.col("vec_id") == 0)
    top = ivf_pq_topk(
        df, probe, centroids, books, k=3, n_probe_cells=1, refine=4,
        index=pq_index_frame(df, centroids, books),
    ).collect()
    first = [r for r in top if r["rank"] == 1][0]
    assert first["neighbor_id"] == 1 and first["cosine"] == 1.0


def test_residual_index_frame_codes_are_argmin_over_residual(spark):
    """pq_index_frame assigns each subspace the TRUE
    argmin centroid of the RESIDUAL (unit − nearest IVF centroid) —
    hand-computed on literal vectors, pinning both the staged cell
    lookup and that the subtraction happens before slicing."""
    from pyspark_kmeans_spark.operators.similarity import pq_index_frame

    # 4-dim, m=2; two IVF cells on the first axis sign.
    centroids = [[0.9, 0.1, 0.0, 0.0], [-0.9, -0.1, 0.0, 0.0]]
    books = [
        [[0.0, 0.0], [0.5, 0.5]],   # subspace 0 codebook
        [[0.0, 0.0], [-0.5, 0.5]],  # subspace 1 codebook
    ]
    import math

    v = [1.0, 1.0, -1.0, 1.0]
    n = math.sqrt(sum(x * x for x in v))
    u = [x / n for x in v]
    # nearest cell: cell 0 (positive axis); residual = u - centroids[0]
    r = [u[i] - centroids[0][i] for i in range(4)]

    def argmin(sl, book):
        d = [sum((a - b) ** 2 for a, b in zip(sl, c)) for c in book]
        return d.index(min(d))

    want = [argmin(r[0:2], books[0]), argmin(r[2:4], books[1])]
    df = spark.createDataFrame(
        [(7, v)], "vec_id long, embedding array<float>"
    )
    got = pq_index_frame(df, centroids, books).collect()[0]
    assert got["cell"] == 0
    assert list(got["codes"]) == want


# slow (30 s): builds a full PQ index from scratch; fold==rebuild is
# driver-gated every round (pq_index_update_check).
@pytest.mark.slow
def test_pq_index_table_matches_direct_and_indexed_query(spark, tmp_sf):
    """The persisted IVFADC index equals the direct pq_index_frame
    computation over the residual codebooks row-for-row, and ivf_pq_topk
    over the artifact is bit-identical to ivf_pq_topk over that direct
    frame — persistence is pure layout, never semantics."""
    import shutil

    from pyspark_kmeans_spark.operators.similarity import (
        _probes,
        ensure_codebook_table,
        ensure_pq_index_table,
        ensure_residual_pq_codebook,
        ivf_pq_topk,
        pq_index_frame,
    )

    sf = "/root/testdata/sf0.001"
    shutil.copy(f"{sf}/embeddings.parquet", f"{tmp_sf}/embeddings.parquet")
    emb = spark.read.parquet(f"{tmp_sf}/embeddings.parquet")
    centroids = ensure_codebook_table(spark, tmp_sf, n_cells=16, seed=1)
    books = ensure_residual_pq_codebook(spark, tmp_sf)
    idx = ensure_pq_index_table(spark, tmp_sf)
    direct = pq_index_frame(emb, centroids, books)
    want_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in direct.collect()
    )
    got_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in idx.collect()
    )
    assert got_rows == want_rows
    probes = _probes(emb)
    want = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb, probes, centroids, books, k=5, index=direct
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb, probes, centroids, books, k=5, index=idx
        ).collect()
    )
    assert got == want


# slow (25 s): runs the priced pq_index_update_check gate end to end —
# the driver re-runs it at sf0.01 every round.
@pytest.mark.slow
def test_pq_index_update_check_all_zero(spark):
    """The registered fold==rebuild gate (VERDICT r11 next-round #3):
    the scratch lifecycle — build on the 75% split, fold the 25% batch
    via the registered append_pq_index (residual, staged-commit) —
    equals a full rebuild over the union, row-for-row, with SQL-anchored
    counts."""
    from pyspark_kmeans_spark.operators.checks import q_pq_index_update_check

    row = q_pq_index_update_check(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_batch"] > 0
    assert row["n_index"] == 500  # every embeddings row, exactly once
    assert row["n_missing"] == 0
    assert row["n_extra"] == 0
    assert row["n_mismatch"] == 0


# slow (23 s): PQ index build + append fold (fit-priced).
@pytest.mark.slow
def test_pq_index_append_folds_batch(spark, tmp_sf):
    """append_pq_index routes+encodes ONLY the batch against the persisted
    codebooks and the appended artifact (visible through a fresh ensure —
    the memo is invalidated) equals index(corpus) ∪ index(batch) computed
    directly; exactly-once is the caller's contract."""
    import shutil

    from pyspark.sql import functions as F

    from pyspark_kmeans_spark.operators.similarity import (
        append_pq_index,
        ensure_codebook_table,
        ensure_pq_index_table,
        ensure_residual_pq_codebook,
        pq_index_frame,
    )

    sf = "/root/testdata/sf0.001"
    shutil.copy(f"{sf}/embeddings.parquet", f"{tmp_sf}/embeddings.parquet")
    emb = spark.read.parquet(f"{tmp_sf}/embeddings.parquet")
    ensure_pq_index_table(spark, tmp_sf)
    batch = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    append_pq_index(spark, tmp_sf, batch)
    centroids = ensure_codebook_table(spark, tmp_sf, n_cells=16, seed=1)
    books = ensure_residual_pq_codebook(spark, tmp_sf)
    want = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in pq_index_frame(emb, centroids, books)
        .unionByName(pq_index_frame(batch, centroids, books))
        .collect()
    )
    got = sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in ensure_pq_index_table(spark, tmp_sf).collect()
    )
    assert got == want
