"""Similarity search over the `embeddings` table (north-star §7.5).

Two paths:

 - **Brute-force cosine top-k** (the baseline / oracle): probes × corpus
   cross join with the probe side broadcast, dot/norm via JVM array
   expressions (F.zip_with + F.aggregate in double — no Python per row).
   O(|probes|·N·dim): right when |probes| is small; N scales out linearly
   with partitions because each corpus partition scores independently.
 - **Hyperplane-LSH bucketed top-k** (the scale path): sign-bit cell id
   from `n_planes` fixed random hyperplanes; probes only search their own
   cell → candidate set shrinks ~2^n_planes×.  Approximate vs brute force
   (recall pinned in tests/test_similarity.py) but fully DETERMINISTIC:
   the planes are seeded plan literals, so the query has an exact DuckDB
   oracle with the same plane arrays embedded in the SQL.

Determinism: cosine is computed in double with a fixed left-to-right fold
and rounded to 6 decimals; ranking orders by (rounded cosine DESC, vec_id)
so ties are stable and the DuckDB oracle ranks identically.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_kmeans_spark.functions.persist import (
    registered_persist,
    release_persisted,
)
from pyspark_kmeans_spark.functions.warehouse_memo import (
    artifact_path,
    ensure_artifact,
    fold_artifact,
    memo_get,
    memo_invalidate,
)
from pyspark_kmeans_spark.sources.tables import load_table, spread_small_scan

if TYPE_CHECKING:
    from pyspark.ml.clustering import KMeansModel

PROBE_MODULUS = 10  # vec_id % 10 == 0 → 10% of vectors are probes


def _as_double(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dlit_sql(vals) -> str:
    """SQL text of a double literal / (nested) double-array literal."""
    if isinstance(vals, (list, tuple)):
        return "array(" + ",".join(_dlit_sql(v) for v in vals) + ")"
    v = float(vals)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite plan literal: {vals!r}")
    return repr(v) + "D"


def _array_lit(vals) -> F.Column:
    """Plan-literal double array (arbitrarily nested) as ONE parsed SQL
    expression (round 13, guide §7.3 — planning time as the bottleneck).

    The per-element ``F.array(*[F.lit(v) ...])`` spelling costs one py4j
    round-trip per element, all on the DRIVER before any job runs: a PQ
    codebook (m·k·dsub ≈ 16k doubles) measured **14.3 s** of pure plan
    construction per query, the 32 LSH hyperplanes ~1.4 s per lsh_cells
    call.  One F.expr over a repr-formatted SQL array literal is a single
    py4j call and parses in ~2-30 ms (measured 75-550×).  repr(float)
    round-trips exactly (shortest-repr guarantee), so the parsed Literal
    is bit-identical to the per-element spelling after constant folding —
    verified hex-identical on hyperplanes and a full PQ book; the
    constant-folded final plan is unchanged.  Raises on non-finite values
    (SQL has no inf/nan double literal) — model parameters are finite by
    construction."""
    return F.expr(_dlit_sql(vals))


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def with_unit_vectors(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Add `vec` (double array) and `norm` columns — compute norms once,
    not once per pair.  (`vec` itself is NOT normalized; divide by `norm`
    where unit geometry is needed, as ivf_topk does for cell routing.)"""
    vec = _as_double(F.col(emb_col))
    return df.withColumn("vec", vec).withColumn("norm", _norm(F.col("vec")))


def _cosine() -> F.Column:
    """The determinism contract, single-sourced (module docstring): cosine
    over the (pvec, pnorm) probe and (vec, norm) corpus columns in double
    with a fixed fold, rounded to 6 decimals.  A function, not a module
    constant — building a Column requires an active session."""
    return F.round(_dot("pvec", "vec") / (F.col("pnorm") * F.col("norm")), 6)


def _cosine_unit() -> F.Column:
    """The UNIT-SPACE spelling of the rounded-cosine contract: dot of the
    (punit, unit_vec) pre-normalized columns ivf_assign(emit_unit=True)
    emits — no norms, no division, one array fold.  Used by the
    incremental-SemDeDup path and its driver-hash twin (both the SAME
    spelling, so they cannot diverge on ulps); kept separate from
    _cosine because pre- vs post-division arithmetic can differ in the
    last ulp and each consumer pair must be internally consistent."""
    return F.round(_dot("punit", "unit_vec"), 6)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(probe_id, neighbor_id, cosine) → top-k per probe with stable rank.

    Scale note: the window shuffles every scored candidate and sorts each
    probe's full candidate set in one task.  For the bucketed paths the
    candidate set is already pruned (N·L/2^m or N·n_probe_cells/n_cells
    per probe); for brute force at very large N the single-task sort is
    the bottleneck — the fix at that scale is a per-shard pre-top-k
    (rank within (probe, shard), filter ≤ k, then this global rank; any
    global top-k row is top-k in its shard, so the output is identical)."""
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "rank", "cosine")
    )


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: (probe_id, neighbor_id, rank, cosine).

    The probe side is broadcast — the corpus never shuffles, so the scoring
    join is map-side at any corpus size.  The broadcast is inherent to
    brute force (every corpus partition must see every probe): |probes|
    must fit in a broadcast (~low millions of rows); a bigger probe set
    belongs to lsh_topk / ivf_topk, or the blocked equi-join shape of
    cosine_near_dup_pairs.
    """
    # spread_small_scan (round 12): the scoring join is map-side over the
    # CORPUS partitioning — a single-file corpus scan serializes the whole
    # |corpus|×|probes| cosine evaluation onto one task.  Per-row exact
    # arithmetic + a total-order rank window → partitioning-independent
    # output; no-op at scale (sources/tables.py).
    c = with_unit_vectors(spread_small_scan(corpus)).select(
        F.col(id_col).alias("neighbor_id"), "vec", "norm"
    )
    p = with_unit_vectors(probes).select(
        F.col(id_col).alias("probe_id"),
        F.col("vec").alias("pvec"),
        F.col("norm").alias("pnorm"),
    )
    scored = (
        c.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", _cosine().alias("cosine"))
    )
    return _rank_topk(scored, k)


def _hyperplanes(n: int, dim: int, seed: int = 11) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n)]


def lsh_cells(
    df: DataFrame,
    *,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exploded (id, vec, norm, table, cell): sign-bit cell per hash table.

    Multi-table OR-construction: a single table of sign bits has poor
    recall for moderate-similarity neighbors (measured 4% on random 64-dim
    data); with L tables a neighbor is found if ANY table collides →
    recall = 1-(1-p^m)^L.  Hyperplanes are plan literals — identical on
    every executor, no closure shipping.

    `dim` is validated against the actual vectors (one limit-1 action): a
    mismatch would zip NULL-padded planes into NULL cell ids, the cell
    equi-join would never match, and the caller would get a silently empty
    result instead of this loud failure.
    """
    first = df.select(F.size(F.col("embedding")).alias("_d")).first()
    if first is not None and first["_d"] != dim:
        raise ValueError(
            f"lsh_cells: vectors are {first['_d']}-dimensional but dim={dim} "
            "hyperplanes were requested — pass the matching dim"
        )
    planes = _hyperplanes(n_tables * n_planes, dim, seed)
    # spread_small_scan (round 12): the L·m hyperplane dot products are
    # per-row map work over the scan partitioning — one task on a
    # single-file input.  Sign-bit cells are per-row exact arithmetic →
    # partitioning-independent; no-op at scale (sources/tables.py).
    out = with_unit_vectors(spread_small_scan(df))
    cells = []
    for t in range(n_tables):
        cell = F.lit(0)
        for j in range(n_planes):
            lit_plane = _array_lit(planes[t * n_planes + j])
            bit = (_dot("vec", lit_plane) >= 0).cast("int")
            cell = cell + F.shiftleft(bit, j)
        cells.append(F.struct(F.lit(t).alias("table"), cell.alias("cell")))
    return out.select(
        F.col(id_col), "vec", "norm", F.explode(F.array(*cells)).alias("tc")
    ).select(id_col, "vec", "norm", "tc.table", "tc.cell")


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    *,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    probes_broadcastable: bool = True,
) -> DataFrame:
    """Bucketed approximate top-k: probes score only candidates sharing an
    LSH cell in ≥1 table.  Equi-join on (table, cell) — shuffle-partitioned,
    no cross product; per-probe candidate count ≈ N·L/2^m, not N.

    The cell join and the pair dedup run SLIM — (id, table, cell) rows,
    ~16 bytes — and the dim-sized vectors are attached only AFTER the
    grouped dedup: with L tables a colliding pair appears up to L times,
    so carrying vectors through the join+dedup shuffles up to L× the
    vector volume for nothing.  The probe side of the attach is |probes|
    rows → broadcast; the corpus side attaches each vector once per
    distinct colliding neighbor (see the grouped-attach comment below)."""
    c = lsh_cells(
        corpus, n_tables=n_tables, n_planes=n_planes, dim=dim, id_col=id_col
    )
    p = lsh_cells(
        probes, n_tables=n_tables, n_planes=n_planes, dim=dim, id_col=id_col
    )
    p_cells = p.select(F.col(id_col).alias("probe_id"), "table", "cell")
    if not probes_broadcastable:
        # The slim probe-cell frame is |probes|·L rows — small-probe runs
        # broadcast it (good); a corpus-sized probe set must not.
        p_cells = p_cells.hint("shuffle_hash")
    # Grouped two-level attach (round 13 — the dedup._verify_jaccard
    # rewrite applied to the vector attach): ONE groupBy(neighbor_id)
    # with map-side partial collect_set replaces the per-pair
    # dropDuplicates exchange AND the corpus-vector join's re-exchange
    # (the groupBy output is already hash-partitioned on neighbor_id).
    # Each corpus vector attaches once per DISTINCT colliding neighbor,
    # the probe set explodes partition-locally, and when the probe side
    # broadcasts (the small-probe default) the per-pair row never
    # crosses another exchange at all.  Per-group memory is bounded:
    # a neighbor's probe-partner count is ≤ |probes| by construction.
    grp = (
        c.select(F.col(id_col).alias("neighbor_id"), "table", "cell")
        .join(
            p_cells,
            on=["table", "cell"],
        )
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .groupBy("neighbor_id")
        .agg(F.collect_set("probe_id").alias("_ps"))
    )
    # The probe-vector attach is an EQUI-join on probe_id — no forced
    # broadcast: the probe set is a caller-sized knob (the registered query
    # uses 10% of the corpus), and a forced broadcast of 10% of a 100 TB
    # corpus's vectors dies at the broadcast limit.  AQE broadcasts it
    # when it is actually small and shuffle-joins otherwise.
    #
    # `probes_broadcastable=False` additionally pins BOTH attach joins to
    # shuffled-hash: the `pairs` frame is explode+dedup-derived, so its
    # STATIC size estimate is garbage and Catalyst can plan a broadcast of
    # an unboundedly large side (the failure bench_scale.py reproduced on
    # the dedup path at a 64x corpus).  Scale callers with probe sets too
    # big to broadcast set it False; the default keeps the small-probe
    # plan (probe-side AQE broadcast) intact.
    corpus_vecs = with_unit_vectors(corpus).select(
        F.col(id_col).alias("neighbor_id"), "vec", "norm"
    )
    probe_vecs = with_unit_vectors(probes).select(
        F.col(id_col).alias("probe_id"),
        F.col("vec").alias("pvec"),
        F.col("norm").alias("pnorm"),
    )
    if not probes_broadcastable:
        corpus_vecs = corpus_vecs.hint("shuffle_hash")
        probe_vecs = probe_vecs.hint("shuffle_hash")
    candidates = (
        grp.join(corpus_vecs, on="neighbor_id")
        .select(
            "neighbor_id", "vec", "norm", F.explode("_ps").alias("probe_id")
        )
        .join(probe_vecs, on="probe_id")
    )
    scored = candidates.select(
        "probe_id", "neighbor_id", _cosine().alias("cosine")
    )
    return _rank_topk(scored, k)


def _kmeans_cells(
    corpus: DataFrame,
    n_cells: int,
    seed: int,
    id_col: str,
    model: KMeansModel | None = None,
):
    """Fit unit-space k-means cells and assign every corpus row.

    Returns (assigned, model): assigned is (id_col, vec, norm, cell).
    Unit space (vec/norm) because the consumers' metric is cosine —
    clustering raw vectors separates same-direction/different-magnitude
    pairs into different cells.  With a fitted `model` (the persisted IVF
    model, ensure_ivf_model) there is no fit and the corpus is assigned in
    one pass; otherwise the featurized frame is registered-persisted (fit
    iterates over it; the registry frees it when the next query runs).
    Shared by ivf_topk and semantic_dedup."""
    from pyspark.ml.functions import array_to_vector

    from pyspark_kmeans_spark.ml.kmeans import fit_kmeans

    unit = F.transform("vec", lambda x: x / F.col("norm"))
    featurized = with_unit_vectors(corpus).withColumn("_fv", array_to_vector(unit))
    if model is None:
        featurized = registered_persist(featurized)
        model = fit_kmeans(featurized, n_cells, seed=seed, features_col="_fv")
    assigned = model.transform(featurized).select(
        F.col(id_col), "vec", "norm", F.col("prediction").alias("cell")
    )
    return assigned, model


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    *,
    n_cells: int = 16,
    n_probe_cells: int = 4,
    seed: int = 1,
    id_col: str = "vec_id",
    model: KMeansModel | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    k-means cells, search only each probe's `n_probe_cells` nearest cells.

    The cells come from `model` when it is given (a KMeansModel fitted in
    unit space, as ensure_ivf_model persists it; `n_cells` and `seed` are
    then the model's), else from a seeded refit over `corpus`.  Either
    way the corpus rows take their cells from `model.transform`.

    Unlike hyperplane LSH, the cells adapt to the data distribution (MLlib
    k-means over the corpus), which buys much higher recall per candidate
    scanned on clustered embeddings.  At scale: centroids are tiny and
    broadcast; the corpus is assigned once (one pass) and the probe-cell
    join is an equi-join on cell id — shuffle-partitioned, no cross
    product.  Candidate fraction ≈ n_probe_cells / n_cells.

    Cells are built and routed in UNIT space (vectors divided by their
    norm) because the final metric is cosine: clustering raw vectors
    separates same-direction/different-magnitude pairs into different
    cells, routing a probe away from exactly the high-cosine neighbors
    the query exists to find.

    `n_cells` also bounds the candidate join's parallelism (the join key
    has n_cells distinct values, each holding ~N/n_cells corpus vectors):
    the default 16 fits the test corpus; a production corpus sizes
    n_cells ~ √N (the standard IVF rule), which simultaneously restores
    join parallelism and per-cell scan cost.
    """
    cells, model = _kmeans_cells(corpus, n_cells, seed, id_col, model)
    assigned = cells.select(
        F.col(id_col).alias("neighbor_id"), "vec", "norm", "cell"
    )

    # Each probe's n_probe_cells nearest centroids, by L2 over plan-literal
    # centroid arrays (centroid count is small by construction) — distances
    # taken from the probe's UNIT vector, matching the unit-space cells.
    centroids = [c.tolist() for c in model.clusterCenters()]
    p = with_unit_vectors(probes).select(
        F.col(id_col).alias("probe_id"),
        F.col("vec").alias("pvec"),
        F.col("norm").alias("pnorm"),
        F.transform("vec", lambda x: x / F.col("norm")).alias("_puvec"),
    )
    dists = _cell_dists("_puvec", centroids)
    probe_cells = p.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(dists), 1, n_probe_cells), lambda s: s["cell"]
            )
        ),
    )

    scored = (
        assigned.join(probe_cells, on="cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", _cosine().alias("cosine"))
    )
    return _rank_topk(scored, k)


def ivf_assign(
    batch: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    emit_unit: bool = False,
) -> DataFrame:
    """Incremental IVF index maintenance: route a NEW batch of vectors to
    their nearest persisted centroid — the ingestion path of an ANN index
    (append (id, cell) rows to the cell table; the centroids are NOT
    refit per batch, exactly as build_signature_table ingests new docs
    without re-signing the corpus).

    Pure map-side work: the centroids are plan literals (an IVF codebook
    is small by construction — √N cells for the standard sizing), so the
    batch is scanned once with zero shuffle and zero driver round-trips.
    Routing happens in UNIT space to match `_kmeans_cells`; the returned
    `cell` agrees exactly with what `model.transform` would assign
    (argmin L2 over the same centroids — pinned in
    tests/test_similarity.py).  `emit_unit=True` additionally returns the
    unit vector as `unit_vec` so consumers that need both (the mini-batch
    codebook update) stay single-scan instead of re-normalizing and
    joining back."""
    p = with_unit_vectors(batch).select(
        F.col(id_col),
        F.transform("vec", lambda x: x / F.col("norm")).alias("_uvec"),
    )
    dists = _cell_dists("_uvec", centroids)
    best = F.element_at(F.array_sort(dists), 1)
    cols = [
        F.col(id_col),
        best["cell"].alias("cell"),
        F.round(F.sqrt(best["d"]), 6).alias("l2_to_centroid"),
    ]
    if emit_unit:
        cols.append(F.col("_uvec").alias("unit_vec"))
    return p.select(*cols)


def ensure_ivf_model(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 16,
    seed: int = 1,
    id_col: str = "vec_id",
) -> KMeansModel:
    """Write-once persisted IVF k-means model over the WHOLE embeddings
    table: the `_kmeans_cells` fit ivf_topk would run, saved once with
    MLlib's own writer (as kmeans_scan saves its models) and loaded with
    load_kmeans_model thereafter; the session memo keeps the loaded model.
    This is the reference's fit-once, load-for-every-transform lesson
    (utils/kmeans_utils.py:107,133-143) applied to ann_ivf_topk, which
    used to refit on every call.

    MLlib's save leaves no top-level commit marker; ensure_artifact writes
    it once the save returns, so a save torn by a crash is refit on the
    next call.  The name carries n_cells, seed and the embeddings file
    listing (artifact_path's `sources`), so a parameter change or an
    in-place rewrite of the source fits a new model instead of serving
    the old cells."""
    from pyspark_kmeans_spark.ml.kmeans import load_kmeans_model

    def write(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        _, model = _kmeans_cells(emb, n_cells, seed, id_col)
        model.write().overwrite().save(path)

    path = artifact_path(
        f"ivf_model_s{seed}", sf_dir, n_cells, sources=("embeddings",)
    )
    return ensure_artifact(spark, path, write, load_kmeans_model)


IVF_BATCH_MOD = 5  # vec_id % 5 == 0 → 20% of vectors are the new batch


def ensure_codebook_table(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 16,
    seed: int = 1,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Write-once persisted IVF codebook: fit k-means ONCE per
    (sf_dir, n_cells, seed, batch_mod) over the corpus split of the
    embeddings table, persist the centroids as parquet rows, and return
    them (ordered by cell) as plain lists on every later call.

    This is the reference's own S4/S5 lesson (utils/kmeans_utils.py:107,
    133-143: persist the fitted model once, load it for every later
    transform) applied to the IVF codebook — before round 6 the two
    ingestion queries (`ann_ivf_assign`, `daily_ingest_lsh`) refit
    k-means over the CORPUS embeddings on every run, which at 100 TB
    dwarfs the batch-sized work they exist to do.  Every parameter that
    changes the fit is part of the cache name (the ensure_signature_table
    contract at dedup.py: num_hashes AND seed), so a parameter change
    rebuilds instead of silently reusing a stale codebook.

    The returned centroids are exact: clusterCenters() float64 values
    round-trip losslessly through parquet doubles, so routing against the
    persisted codebook equals routing against the freshly-fitted one
    (pinned in tests/test_similarity.py).  The read-back is O(n_cells)
    rows — a codebook is model-sized by construction (√N cells for the
    standard sizing), bounded at any corpus scale.

    NOTE: the first call per parameter set runs the fit + a parquet write
    eagerly (a construction-time job, like ensure_signature_table); later
    calls in the same session return a memoized copy (the 16-row
    collect() measured 155 ms/call at sf0.1 — VERDICT r6 item 5), and a
    fresh session costs one O(n_cells) parquet read.
    """
    return _ensure_codebook_rows(
        spark, sf_dir, n_cells=n_cells, seed=seed, batch_mod=batch_mod,
        id_col=id_col,
    )[0]


def _ensure_codebook_rows(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int,
    seed: int,
    batch_mod: int,
    id_col: str,
) -> tuple[list[list[float]], list[int] | None]:
    """Shared ensure body: (centroids, per-cell populations) — counts are
    None for a pre-round-7 artifact without the `n` column.  Both public
    faces (ensure_codebook_table, ensure_codebook_stats) delegate here so
    neither reaches into the memo tuple by position."""
    path = _codebook_path(sf_dir, n_cells=n_cells, seed=seed, batch_mod=batch_mod)

    def _stamp() -> tuple | None:
        # Content stamp for cross-process staleness: sorted
        # (name, size, mtime_ns) over every entry in the artifact dir.
        # A bare commit-marker mtime is not enough on filesystems with coarse
        # (1 s) granularity — a rewrite landing in the same second as the
        # memoized stamp would serve stale centroids forever (ADVICE r7
        # #4).  Spark overwrites generate fresh UUID part-file names, so
        # any in-place rewrite changes this stamp regardless of clock
        # resolution.  Still a handful of local stats — no Spark job.
        try:
            return tuple(
                sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in os.scandir(path)
                )
            )
        except OSError:
            return None

    # Cross-process refresh visibility: another application's
    # refresh/update rewrites the artifact in place; memo_invalidate only
    # reaches THIS process, so a memo hit re-validates against the
    # directory content stamp.  A changed or missing listing drops the
    # entry and falls through to a fresh read; a None stamp (dir absent
    # at memo time) never matches.
    cached = memo_get(spark, path)
    if cached is not None and (cached[0] is None or cached[0] != _stamp()):
        memo_invalidate(spark, path)

    def write(path: str) -> None:
        corpus = load_table(spark, sf_dir, "embeddings").filter(
            F.col(id_col) % batch_mod != 0
        )
        _, model = _kmeans_cells(corpus, n_cells, seed, id_col)
        # per-cell populations (model.summary over the training data) are
        # persisted alongside the centroids — they are the running weights
        # update_codebook_table's mini-batch step folds new batches into.
        sizes = list(model.summary.clusterSizes)
        rows = [
            (i, [float(v) for v in c], int(sizes[i]))
            for i, c in enumerate(model.clusterCenters())
        ]
        spark.createDataFrame(
            rows, "cell int, centroid array<double>, n long"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    def read(path: str) -> tuple:
        # Stamp BEFORE the read: if another process rewrites the artifact
        # between the read and a stamp-after, the memo would pair the NEW
        # listing with the OLD centroids and the staleness check could
        # never fire again.  Stamping first makes that race converge: the
        # rewrite changes the listing vs the stored stamp, so the next
        # call re-reads.
        stamp_before = _stamp()
        stored = sorted(
            spark.read.parquet(path).collect(), key=lambda r: r["cell"]
        )
        # Per-cell training populations ride along (None for a
        # pre-round-7 artifact without the `n` column —
        # ensure_codebook_stats raises on those; refresh once to upgrade).
        counts = (
            [int(r["n"]) for r in stored]
            if "n" in stored[0].asDict()
            else None
        )
        return stamp_before, [list(r["centroid"]) for r in stored], counts

    _, centroids, counts = ensure_artifact(spark, path, write, read)
    # fresh copies: callers must not be able to mutate the memo
    return (
        [list(c) for c in centroids],
        list(counts) if counts is not None else None,
    )


def _codebook_path(sf_dir: str, *, n_cells: int, seed: int, batch_mod: int) -> str:
    return artifact_path(f"ivf_codebook_m{batch_mod}_s{seed}", sf_dir, n_cells)


def ensure_codebook_stats(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 16,
    seed: int = 1,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> tuple[list[list[float]], list[int]]:
    """Centroids PLUS the artifact's per-cell training populations — the
    fit-time mass distribution the RELATIVE drift gate compares current
    routing against (VERDICT r7 missing #4: the absolute IVF_SKEW_LIMIT
    only catches severe collapse; a day-0 artifact that degrades 2.8→6.5
    passed silently because nothing recorded what balance looked like at
    fit time).  The populations are exactly model.summary.clusterSizes at
    fit time, folded forward by update_codebook_table's mini-batch
    counts, so they always describe the mass the CURRENT centroids were
    trained on.  Same memo/staleness semantics as ensure_codebook_table
    (both are thin faces of _ensure_codebook_rows); raises for a
    pre-round-7 artifact without the `n` column — run
    refresh_codebook_table once to upgrade (the fit is seeded, so the
    refit reproduces the same centroids)."""
    centroids, counts = _ensure_codebook_rows(
        spark, sf_dir, n_cells=n_cells, seed=seed, batch_mod=batch_mod,
        id_col=id_col,
    )
    if counts is None:
        raise ValueError(
            f"codebook for {sf_dir} (n_cells={n_cells}, seed={seed}) "
            "predates per-cell populations; run refresh_codebook_table "
            "once to upgrade the artifact"
        )
    return centroids, counts


def refresh_codebook_table(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 16,
    seed: int = 1,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Drift remediation for the write-once codebook: refit over the
    CURRENT corpus split and overwrite the persisted artifact in place —
    the action `codebook_check`'s balance gate exists to trigger.  At
    100 TB the loop is: ingest runs `codebook_check` as a cheap canary;
    when `balance_ok` flips, the operator schedules this refit (a full
    k-means over the corpus — priced like the day-0 build) instead of
    every query paying for drift forever.

    Deliberately a SEPARATE entry point from ensure_codebook_table: the
    registered ingestion queries stay zero-iterative-fit-per-run (the
    monkeypatch-pinned property in tests/test_similarity.py) and a refit
    only ever happens by explicit operator/check decision.  Invalidates
    BOTH session caches a drifted-in-place corpus can poison:

    - the warehouse memo (so this session re-reads the refitted values),
    - Spark's own CacheManager/file-index entries under `sf_dir` via
      refreshByPath — refresh is called precisely BECAUSE the corpus
      changed under the artifact, and a persisted frame from an earlier
      fit (e.g. _kmeans_cells' registered_persist) matches the new fit's
      logical plan and would silently feed it the PRE-drift data (caught
      by the end-to-end drift test: the 'refit' reproduced the day-0
      centroids byte-for-byte)."""
    import shutil

    path = _codebook_path(sf_dir, n_cells=n_cells, seed=seed, batch_mod=batch_mod)
    shutil.rmtree(path, ignore_errors=True)
    memo_invalidate(spark, path)
    spark.catalog.refreshByPath(sf_dir)
    return ensure_codebook_table(
        spark,
        sf_dir,
        n_cells=n_cells,
        seed=seed,
        batch_mod=batch_mod,
        id_col=id_col,
    )


def update_codebook_table(
    spark: SparkSession,
    sf_dir: str,
    batch: DataFrame,
    *,
    n_cells: int = 16,
    seed: int = 1,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Mini-batch codebook maintenance — the middle path of the lifecycle
    ensure (day-0 fit) → codebook_check (drift canary) → THIS (cheap
    incremental update) → refresh (full refit, the last resort).

    The streaming-k-means update step: route the accepted batch against
    the persisted centroids (map-side, zero shuffle beyond one
    n_cells-group aggregate), then fold each cell's batch mass into its
    running mean — c' = (n·c + Σu) / (n + m) with the per-cell population
    n persisted at fit time and u the unit-normalized batch vectors
    (routing space, matching _kmeans_cells).  One batch-linear pass, no
    iteration, no corpus read: at 100 TB this runs per accepted batch at
    the cost of the routing the ingest already does, keeping centroids
    tracking slow drift so the expensive full refit stays rare.

    Exactly-once is the CALLER's contract, as for the kept/signature
    artifacts: apply each accepted batch once (a replayed application
    double-weights the batch).  The per-cell math runs driver-side over
    n_cells rows — model-sized by construction, like the codebook read
    itself.  Raises on a pre-round-7 artifact without the `n` column
    (refresh first).  Overwrites the artifact and invalidates the session
    memo; returns the updated centroids (ordered by cell)."""
    # The current centroids and populations come from the ensure memo
    # (stamp-checked, so a rewrite by another process is re-read): at
    # most one O(n_cells) read per update, none on a memo hit.
    centroids, counts = ensure_codebook_stats(
        spark, sf_dir, n_cells=n_cells, seed=seed, batch_mod=batch_mod,
        id_col=id_col,
    )
    path = _codebook_path(sf_dir, n_cells=n_cells, seed=seed, batch_mod=batch_mod)
    dim = len(centroids[0])

    routed = ivf_assign(batch, centroids, id_col=id_col, emit_unit=True)
    # One n_cells-group aggregate over the SINGLE routing scan (emit_unit
    # carries the unit vector out of ivf_assign, so there is no second
    # normalization pass and no join): per-cell batch count + element-wise
    # sum (dim bounded F.sum columns — JVM-side, no explode shuffle).
    agg = routed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_m"),
        *[F.sum(F.col("unit_vec")[i]).alias(f"_s{i}") for i in range(dim)],
    )
    by_cell = {r["cell"]: r for r in agg.collect()}  # ≤ n_cells rows
    rows = []
    for cell, (c, n) in enumerate(zip(centroids, counts)):
        hit = by_cell.get(cell)
        if hit is None:
            rows.append((cell, c, n))
            continue
        m = int(hit["_m"])
        c_new = [
            (n * c[i] + float(hit[f"_s{i}"])) / (n + m) for i in range(dim)
        ]
        rows.append((cell, c_new, n + m))
    spark.createDataFrame(
        rows, "cell int, centroid array<double>, n long"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    memo_invalidate(spark, path)
    spark.catalog.refreshByPath(path)
    return [r[1] for r in rows]


def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-ingestion query: the 20% batch routed map-side against the
    PERSISTED codebook (ensure_codebook_table — fitted once per scale
    factor over the 80% corpus, read thereafter; pre-round-6 this query
    refit k-means over the corpus on every run).  rows-only (k-means
    centroids are iterative); routing==transform consistency against the
    persisted codebook is pinned in tests."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % IVF_BATCH_MOD == 0)
    centroids = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    return ivf_assign(batch, centroids)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    *,
    n_cells: int = 16,
    seed: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    embedding clusters.  K-means partitions the corpus in UNIT space; only
    WITHIN-cluster pairs are scored (the paper's core trick — semantic
    duplicates land in the same cluster, so the quadratic is bounded by
    cluster size, not corpus size); any row with cosine ≥ threshold to a
    smaller-id row in its cluster is dropped (greedy lowest-id keeper, the
    same one-hop rule as dedup.near_dedup_kept).

    Returns (id, cell, kept) for every corpus row — kept=false rows are
    the semantic duplicates.  At 100 TB: centroids broadcast, assignment
    is one map-side pass, the pair join is an equi-join on cell; size
    n_cells ~ N/target_cluster_size so per-cell candidate volume
    (~(N/n_cells)²) stays bounded — the knob the paper itself tunes (its
    production runs use tens of thousands of clusters).
    """
    assigned, _ = _kmeans_cells(corpus, n_cells, seed, id_col)
    # Slim candidate join (id, cell), vectors attached after — the same
    # ship-arrays-last shape as lsh_topk; scoring only a < b halves work.
    a = assigned.select(F.col(id_col).alias("_ida"), "cell")
    b = assigned.select(F.col(id_col).alias("_idb"), "cell")
    pairs = a.join(b, on="cell").filter(F.col("_ida") < F.col("_idb"))
    scored = (
        pairs.join(
            assigned.select(
                F.col(id_col).alias("_ida"),
                F.col("vec").alias("pvec"),
                F.col("norm").alias("pnorm"),
            ),
            on="_ida",
        )
        .join(
            assigned.select(F.col(id_col).alias("_idb"), "vec", "norm"),
            on="_idb",
        )
        .select("_ida", "_idb", _cosine().alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    dropped = scored.select(F.col("_idb").alias(id_col)).distinct()
    return assigned.select(id_col, "cell").join(
        dropped.withColumn("_d", F.lit(1)), on=id_col, how="left"
    ).select(
        id_col, "cell", F.col("_d").isNull().alias("kept")
    )


# Same working point as embedding_near_dups: the synthetic embeddings are
# well-spread (max pairwise cosine ≈ 0.51 at sf0.01), so the paper's
# ≈0.95 near-identical threshold would drop nothing — 0.35 exercises the
# drop path with a few-percent duplicate rate.
SEMDEDUP_THRESHOLD = 0.35


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (no_oracle: k-means cells are
    engine-specific; invariants — kept is the greedy min-id rule given the
    cells, and recall vs within-cell brute force — are pinned in
    tests/test_similarity.py)."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    # X1-style partition control (same rationale as q_kmeans_centers): the
    # test corpus is thousands of rows, so letting every k-means iteration
    # schedule 32 near-empty tasks dominates wall-clock; a production run
    # sizes partitions to the corpus instead.
    return semantic_dedup(emb.coalesce(8), SEMDEDUP_THRESHOLD)


def routed_side(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    alias: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """One persisted, FORCED (alias, cell, unit_vec) routing projection —
    the shared side-preparation of `incremental_semantic_kept` and its
    driver-hash twin (`checks.q_incremental_semdedup_check`), single-
    sourced so rule and audit can never route differently.

    Persist + count are load-bearing: the ivf_assign projection (a
    16-struct argmin per row) would otherwise be COLLAPSED into the cell
    join by Catalyst and re-evaluated once per candidate PAIR — measured
    12.6 s vs 1.0 s for the routing pass itself at sf0.1.  One bounded
    cached frame per side, the minhash_lsh_pairs token-frame pattern."""
    routed = registered_persist(
        ivf_assign(df, centroids, id_col=id_col, emit_unit=True).select(
            F.col(id_col).alias(alias), "cell", "unit_vec"
        )
    )
    routed.count()
    return routed


def incremental_semantic_kept(
    corpus: DataFrame,
    batch: DataFrame,
    centroids: list[list[float]],
    *,
    threshold: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch-only SemDeDup against an accepted corpus (round 8) — the
    SEMANTIC member of the incremental ingest trio, completing the loop
    the daily flagship already runs for exact digests
    (`ingest.ensure_digest_table`) and MinHash-LSH
    (`dedup.incremental_kept_against`): only the BATCH is scored, the
    corpus appears solely as same-cell candidates, and nothing refits.

    Routing is one map-side pass per side against the broadcast literal
    codebook (the persisted `ensure_codebook_table` artifact — the same
    routing `ann_ivf_assign` trusts); only same-cell pairs are scored
    (the SemDeDup bound: semantic duplicates land in the same cell, so
    the candidate volume is |batch_cell|x|corpus_cell| per cell, tuned by
    n_cells — never corpus²).  A batch vector is dropped iff

     - cosine ≥ threshold to ANY corpus member of its cell (CORPUS
       PRECEDENCE — an accepted document always wins, regardless of id:
       the incremental_kept_against contract), or
     - cosine ≥ threshold to a SMALLER-ID batch member of its cell (the
       same one-hop greedy lowest-id rule as `semantic_dedup`).

    Cosine uses the unit-space spelling of the rounded contract
    (_cosine_unit — identical in this path and the driver-hash twin, so
    they cannot diverge on ulps).  Routing and normalization come out of
    ONE projection per side (ivf_assign(emit_unit=True) — no
    unit-vector/cell join, one scan per side; the first spelling paid
    two scans plus an id-join per side and tripled the stage count).
    Returns the kept batch ids."""
    routed_batch = routed_side(batch, centroids, alias="_idb", id_col=id_col)
    probe = routed_batch.select(
        "_idb", "cell", F.col("unit_vec").alias("punit")
    )
    # Broadcast the BATCH side everywhere: the batch is the bounded side
    # by the ingest contract (a daily slice vs the accumulated corpus),
    # so both candidate joins run map-side over the corpus scan — no
    # corpus shuffle, the incremental_kept_against shape.  The dropped
    # set (≤ batch) broadcasts into the anti-join for the same reason.
    # CEILING: a batch too large to broadcast (≫ executor memory of unit
    # vectors) breaks the contract — the fallback is replacing the three
    # F.broadcast hints with shuffle_hash on (cell) / (id), paying one
    # corpus shuffle; genuine-4x measurement (BASELINE.md round 9) shows
    # the bound does not bind at a 4x batch.
    drop_vs_corpus = (
        routed_side(corpus, centroids, alias="_idc", id_col=id_col)
        .join(F.broadcast(probe), on="cell")
        .filter(_cosine_unit() >= F.lit(threshold))
        .select(F.col("_idb").alias(id_col))
    )
    drop_vs_batch = (
        routed_batch.withColumnRenamed("_idb", "_ida")
        .join(F.broadcast(probe), on="cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(_cosine_unit() >= F.lit(threshold))
        .select(F.col("_idb").alias(id_col))
    )
    dropped = drop_vs_corpus.unionByName(drop_vs_batch).distinct()
    return batch.select(id_col).join(
        F.broadcast(dropped), on=id_col, how="left_anti"
    )


def q_dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup over the 20% batch split against the 80%
    corpus, routed by the PERSISTED codebook (zero iterative fits per
    run — the ann_ivf_assign contract).  rows-only: the codebook cells
    are engine-specific; the greedy rule given the routing is
    driver-hashed by `incremental_semdedup_check`."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % IVF_BATCH_MOD == 0)
    corpus = emb.filter(F.col("vec_id") % IVF_BATCH_MOD != 0)
    centroids = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    return incremental_semantic_kept(
        corpus, batch, centroids, threshold=SEMDEDUP_THRESHOLD
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    *,
    id_col: str = "vec_id",
    probes: DataFrame | None = None,
    probe_blocks: int = 8,
    corpus_blocks: int = 8,
) -> DataFrame:
    """EXACT embedding-cosine pairs via a blocked bipartite equi-join — no
    broadcast, no nested-loop join.

    `probes` bounds the O(|probes|·N) compute: pass an explicit probe
    DataFrame (same schema as `df`) to score only those rows against the
    corpus — the knob a scale caller uses to keep the exact path affordable
    (VERDICT r2 item 5).  Default keeps the registered-query semantics:
    rows with id % PROBE_MODULUS == 0.

    Exact all-pairs at a low threshold is inherently O(|probes|·N) compute
    (at cosine 0.35 no LSH family prunes without losing recall — the
    similarity gap is too small; high-threshold near-dup belongs to the
    MinHash/SimHash paths in operators/dedup.py).  What CAN scale is the
    memory/shuffle shape: hash probes into `probe_blocks` and the corpus
    into `corpus_blocks`, replicate each probe row across the corpus
    blocks and each corpus row across the probe blocks, and equi-join on
    the (probe_block, corpus_block) key.  Every (probe, corpus) pair meets
    exactly once; each task scores one block-pair, so per-task memory is
    |probes|/probe_blocks + N/corpus_blocks — bounded by sizing the block
    counts to the data (vs the previous BroadcastNestedLoopJoin whose
    broadcast side was 10% of the corpus: unbounded).  Shuffle volume is
    N·probe_blocks + |probes|·corpus_blocks ≈ O(N·√N) with √N-ish blocks.
    Plan shape (equi-join, no BNLJ/cartesian) is pinned in test_plans.py.
    """
    if probes is None:
        probes = df.filter(F.col(id_col) % PROBE_MODULUS == 0)
    # Pair semantics: every (probe, non-probe) match is reported regardless
    # of id order — `doc_a < doc_b` alone would silently drop a probe's
    # matches to SMALLER corpus ids, halving recall for explicit-probes
    # callers.  The `<` rule applies only between two probes, where the
    # mirrored pair would otherwise be reported twice.  Probe membership on
    # the corpus side comes from a broadcast id-only semi-flag join (ids
    # are small by the definition of the probes knob).
    probe_ids = F.broadcast(
        probes.select(F.col(id_col).alias("doc_b"))
        .distinct()
        .withColumn("_bp", F.lit(1))
    )
    # Hash-based block ids: id % B would alias with the probe modulus
    # (multiples of 10 hit only gcd-many residues mod B).
    a = (
        with_unit_vectors(probes)
        .select(
            F.col(id_col).alias("doc_a"),
            F.col("vec").alias("va"),
            F.col("norm").alias("na"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(probe_blocks)).alias("_pb"),
        )
        .withColumn("_cb", F.explode(F.array(*[F.lit(i) for i in range(corpus_blocks)])))
    )
    b = (
        with_unit_vectors(df)
        .select(
            F.col(id_col).alias("doc_b"),
            F.col("vec").alias("vb"),
            F.col("norm").alias("nb"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(corpus_blocks)).alias("_cb"),
        )
        .join(probe_ids, on="doc_b", how="left")
        .withColumn("_pb", F.explode(F.array(*[F.lit(i) for i in range(probe_blocks)])))
    )
    cos = F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
    keep = (F.col("doc_a") != F.col("doc_b")) & (
        F.col("_bp").isNull() | (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        a.join(b, on=["_pb", "_cb"])
        .filter(keep)
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------------------
# Product quantization (round 10): the memory-bound ANN scale path
# --------------------------------------------------------------------------

# 64-dim vectors → 16 × 4-dim subspaces, 16 centroids each: 4 bits per
# subspace = 8 B/vector (32× compression).  Parameters were swept on the
# fixture embeddings (near-random 64-dim — the HARD case for PQ):
# (m=4, refine=4) → recall@5 0.30; (8, 8) → 0.64; (16, 16) → 0.93 at
# sf0.001 / 0.98 at sf0.01.  Finer subspaces buy ADC fidelity much
# faster than more re-rank candidates buy recall.
PQ_SUBSPACES = 16
PQ_CODES = 16
PQ_SEED = 1
PQ_REFINE = 16  # ADC candidates per final top-k slot before exact re-rank
# Registered IVFADC path (round 12): residual encoding + multi-probe —
# the two standard recall levers of Jégou TPAMI 2011 §V.  8 of 16 cells
# at test scale looks like half the corpus, but n_probe is a FIXED COUNT
# while production n_cells ~ √N, so the probed fraction shrinks with N
# (8/√N); the exponent benches confirm the scan stays sub-linear.
IVFPQ_PROBE_CELLS = 8


def ensure_pq_codebook(
    spark: SparkSession,
    sf_dir: str,
    *,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODES,
    seed: int = PQ_SEED,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Write-once per-subspace PQ codebooks: [m][k][dim/m] doubles.

    IVF bounds how MUCH of the corpus a probe scores; PQ bounds what each
    scored vector COSTS — a 64-dim float vector (256 B) becomes m=16
    4-bit codes (8 B), so the scoring working set shrinks ~32× and the
    candidate join ships ids+codes instead of raw vectors.  That is the
    regime that matters at 10^9+ vectors, where the vectors no longer
    fit executor memory but the codes do (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    Fit: k-means per UNIT-SPACE subspace slice over the corpus split
    (consumers' metric is cosine — the ivf codebook lesson), seeded per
    subspace, persisted as (subspace, code, centroid) rows under the
    same write-once/memoized contract as ensure_codebook_table.  No
    in-place rewrite path exists, so the memo needs no content stamp
    (the ensure_pairs_table rule)."""
    path = artifact_path(f"pq_codebook_m{m}_k{k}_s{seed}_bm{batch_mod}", sf_dir)

    def build_u() -> DataFrame:
        return with_unit_vectors(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col(id_col) % batch_mod != 0
            )
        ).select(F.transform("vec", lambda x: x / F.col("norm")).alias("_u"))

    return _ensure_pq_books(spark, path, m=m, k=k, seed=seed, build_u=build_u)


def ensure_residual_pq_codebook(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 16,
    ivf_seed: int = 1,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODES,
    seed: int = PQ_SEED,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Write-once RESIDUAL PQ codebooks — the full IVFADC quantizer shape
    (Jégou et al., TPAMI 2011 §V): codebooks fit on x − centroid(cell(x))
    over the corpus split, not on the raw unit vectors.

    Why residuals: the coarse (IVF) quantizer already explains most of
    each vector's energy; encoding what REMAINS concentrates the product
    quantizer's dynamic range on the within-cell variation, which is the
    part ADC ordering actually discriminates on.  Measured at sf0.001
    this is one of the two levers (with multi-probe) that lift IVFADC
    recall@5 from the 0.72 of round 11 to production grade — VERDICT r11
    next-round #1.

    The IVF geometry is part of the quantizer, so n_cells AND ivf_seed
    join the artifact name (a codebook fit on residuals of a different
    routing is silently wrong while every shape still typechecks) — the
    ensure_signature_table naming contract."""
    centroids = ensure_codebook_table(
        spark, sf_dir, n_cells=n_cells, seed=ivf_seed, batch_mod=batch_mod,
        id_col=id_col,
    )
    path = artifact_path(
        f"pq_resbook_c{n_cells}_is{ivf_seed}_m{m}_k{k}_s{seed}_bm{batch_mod}",
        sf_dir,
    )

    def build_u() -> DataFrame:
        unit = F.transform("vec", lambda x: x / F.col("norm"))
        base = with_unit_vectors(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col(id_col) % batch_mod != 0
            )
        ).select(unit.alias("_u"))
        return base.select(_residual(F.col("_u"), centroids).alias("_u"))

    return _ensure_pq_books(spark, path, m=m, k=k, seed=seed, build_u=build_u)


def _ensure_pq_books(
    spark: SparkSession,
    path: str,
    *,
    m: int,
    k: int,
    seed: int,
    build_u: Callable[[], DataFrame],
) -> list[list[list[float]]]:
    """Shared ensure body for per-subspace codebooks (raw-unit and
    residual faces): `ensure_artifact` over a fit of `build_u()`'s `_u`
    projection → O(m·k) read-back.  The projection is persisted ONCE
    before the subspace loop (ADVICE r10 #2): each fit below only needs
    its dim/m slice, but without this the full corpus would be re-scanned
    once per subspace — m=16 full passes for a one-time artifact build
    whose cost scales with corpus size."""

    def write(path: str) -> None:
        corpus = registered_persist(build_u())
        first = corpus.select(F.size("_u").alias("_d")).first()
        dim = int(first["_d"]) if first else 0
        if dim % m != 0:
            raise ValueError(f"pq: dim {dim} not divisible by m={m}")
        sub = dim // m
        from pyspark.ml.functions import array_to_vector

        from pyspark_kmeans_spark.ml.kmeans import fit_kmeans

        rows = []
        for s in range(m):
            # slice for subspace s (1-based F.slice)
            sl = F.slice(F.col("_u"), s * sub + 1, sub)
            feat = registered_persist(
                corpus.select(array_to_vector(sl).alias("_fv"))
            )
            model = fit_kmeans(feat, k, seed=seed * 100 + s, features_col="_fv")
            rows += [
                (s, c, [float(v) for v in center])
                for c, center in enumerate(model.clusterCenters())
            ]
        release_persisted()
        spark.createDataFrame(
            rows, "subspace int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(path)

    def read(path: str) -> list[list[list[float]]]:
        books: dict[int, dict[int, list[float]]] = {}
        for r in spark.read.parquet(path).collect():
            books.setdefault(r["subspace"], {})[r["code"]] = list(r["centroid"])
        return [[books[s][c] for c in sorted(books[s])] for s in sorted(books)]

    # fresh copies: callers must not be able to mutate the memo
    return [
        [list(c) for c in sub]
        for sub in ensure_artifact(spark, path, write, read)
    ]


def _pq_codes(unit, codebooks: list[list[list[float]]]) -> F.Column:
    """codes array<int> over a UNIT-vector column expression: per-subspace
    argmin centroid — the PQ compression expression, pure JVM.

    The codebooks are plan literals (m·k·(dim/m) = dim·k doubles ≈ 1,024
    values at the defaults — model-sized, never corpus-sized), so
    encoding is a zero-shuffle map: per subspace an array of
    (squared-distance, code) structs folds through array_min, whose
    struct ordering (distance first, code tie-break) makes the argmin
    deterministic across engines and partitionings."""
    sub = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        sl = F.slice(unit, s * sub + 1, sub)
        # ONE higher-order transform over the k-centroid literal array —
        # not k separate fold subtrees.  The first spelling expanded to
        # m·k aggregate branches (256 at the defaults), whose whole-stage
        # codegen COMPILE cost dominated the query (~10 s for 500 rows);
        # this tree is O(m) aggregate nodes and compiles in milliseconds.
        book_lit = _array_lit(book)
        cands = F.transform(
            book_lit,
            lambda center, i: F.struct(
                F.aggregate(
                    F.zip_with(sl, center, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("code"),
            ),
        )
        codes.append(F.array_min(cands)["code"])
    return F.array(*codes)


def _pq_lut(unit, codebooks: list[list[list[float]]]) -> F.Column:
    """Per-probe ADC lookup table: m×k array of subspace dot products of
    the probe's UNIT vector against every codebook centroid.  Table work
    is dim·k per probe — corpus-independent.  One transform per subspace
    over the k-centroid literal array (the pq_encode codegen lesson:
    O(m) fold nodes, not O(m·k))."""
    sub = len(codebooks[0][0])
    return F.array(
        *[
            F.transform(
                _array_lit(book),
                lambda center: F.aggregate(
                    F.zip_with(
                        F.slice(unit, s * sub + 1, sub),
                        center,
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
            for s, book in enumerate(codebooks)
        ]
    )


def _adc(m: int) -> F.Column:
    """Approximate inner product from (codes, _lut) columns: m element_at
    lookups + a fold — the ADC scoring expression."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(1), F.lit(m)),
            lambda code, s: F.element_at(
                F.element_at(F.col("_lut"), s.cast("int")), code + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
) -> DataFrame:
    """Stage 2 shared by the PQ paths: (probe_id, neighbor_id) survivors
    join back to their raw vectors (a semi-join-sized equi-join on the
    id) and the final top-k uses the engine's exact rounded-cosine
    contract, so output values are bit-comparable with cosine_topk —
    quantization costs recall only, never score fidelity."""
    c = with_unit_vectors(corpus).select(
        F.col(id_col).alias("neighbor_id"), "vec", "norm"
    )
    pv = with_unit_vectors(probes).select(
        F.col(id_col).alias("probe_id"),
        F.col("vec").alias("pvec"),
        F.col("norm").alias("pnorm"),
    )
    scored = (
        cand.join(c, on="neighbor_id")
        .join(F.broadcast(pv), on="probe_id")
        .select("probe_id", "neighbor_id", _cosine().alias("cosine"))
    )
    return _rank_topk(scored, k)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>): per-subspace argmin centroid over the UNIT
    vector — the PQ compression step (see _pq_codes)."""
    unit = F.transform("vec", lambda x: x / F.col("norm"))
    return with_unit_vectors(df).select(
        F.col(id_col), _pq_codes(unit, codebooks).alias("codes")
    )


def _pq_index_path(
    sf_dir: str,
    *,
    n_cells: int,
    ivf_seed: int,
    m: int,
    k: int,
    seed: int,
    batch_mod: int,
) -> str:
    # EVERY parameter that changes index content is in the name (the
    # ensure_signature_table contract): both codebooks' geometry and both
    # fit seeds — a mismatch routes/encodes against the wrong centroids
    # while every downstream shape still typechecks.  The `res` tag names
    # the encoding target (residuals, Jégou §V).
    return artifact_path(
        f"pq_index_res{n_cells}_is{ivf_seed}_m{m}_k{k}_s{seed}_bm{batch_mod}",
        sf_dir,
    )


def ensure_pq_index_table(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int = 16,
    ivf_seed: int = 1,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODES,
    seed: int = PQ_SEED,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> DataFrame:
    """The PERSISTED IVFADC index: (id, cell, codes) over the full
    embeddings table, built once per (sf_dir, parameters) and read
    thereafter — the ingestion-job contract of ensure_signature_table
    applied to ANN.  At 10^9+ vectors this artifact is the whole point
    of PQ (8 B of codes per vector lives where 256 B of floats cannot),
    and the search query pays only the probe side + the ADC join, never
    a corpus encode.

    Build composes the two persisted codebook artifacts (IVF centroids
    for the cell; RESIDUAL subspace codebooks, ensure_residual_pq_codebook,
    for the codes) in the single zero-shuffle pq_index_frame scan.
    `append_pq_index` folds accepted batches in (exactly-once is the
    caller's contract, as for every artifact fold); it invalidates the
    session memo + Spark's file index under the path, so this handle is
    stamp-free only within the single-writer ingest contract the
    signature table also assumes."""
    path = _pq_index_path(
        sf_dir,
        n_cells=n_cells,
        ivf_seed=ivf_seed,
        m=m,
        k=k,
        seed=seed,
        batch_mod=batch_mod,
    )

    def write(path: str) -> None:
        centroids, books = _pq_artifacts(
            spark, sf_dir, n_cells=n_cells, ivf_seed=ivf_seed, m=m, k=k,
            seed=seed, batch_mod=batch_mod, id_col=id_col,
        )
        pq_index_frame(
            load_table(spark, sf_dir, "embeddings"),
            centroids,
            books,
            id_col=id_col,
        ).write.mode("overwrite").parquet(path)

    return ensure_artifact(spark, path, write)


def _pq_artifacts(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_cells: int,
    ivf_seed: int,
    m: int,
    k: int,
    seed: int,
    batch_mod: int,
    id_col: str,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """(IVF centroids, residual PQ codebooks) of one index path —
    single-sourced so the build and the fold cannot pick different
    codebooks for the same index path."""
    centroids = ensure_codebook_table(
        spark, sf_dir, n_cells=n_cells, seed=ivf_seed, batch_mod=batch_mod,
        id_col=id_col,
    )
    books = ensure_residual_pq_codebook(
        spark, sf_dir, n_cells=n_cells, ivf_seed=ivf_seed, m=m, k=k,
        seed=seed, batch_mod=batch_mod, id_col=id_col,
    )
    return centroids, books


def append_pq_index(
    spark: SparkSession,
    sf_dir: str,
    batch: DataFrame,
    *,
    n_cells: int = 16,
    ivf_seed: int = 1,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODES,
    seed: int = PQ_SEED,
    batch_mod: int = IVF_BATCH_MOD,
    id_col: str = "vec_id",
) -> None:
    """Incremental IVFADC index maintenance: route + encode an accepted
    batch against the PERSISTED codebooks (one zero-shuffle batch-sized
    scan — the ivf_assign ingestion shape with codes alongside) and
    fold it into the index artifact.  Exactly-once is the CALLER's
    contract (a replayed batch duplicates index rows, which inflates
    candidate sets but never corrupts scores — duplicates carry the same
    codes).  The fold is a staged commit (`fold_artifact`), which also
    invalidates the session memo and Spark's cached file listing so
    later ensure() reads see the appended rows."""
    path = _pq_index_path(
        sf_dir,
        n_cells=n_cells,
        ivf_seed=ivf_seed,
        m=m,
        k=k,
        seed=seed,
        batch_mod=batch_mod,
    )
    ensure_pq_index_table(
        spark, sf_dir, n_cells=n_cells, ivf_seed=ivf_seed, m=m, k=k,
        seed=seed, batch_mod=batch_mod, id_col=id_col,
    )
    centroids, books = _pq_artifacts(
        spark, sf_dir, n_cells=n_cells, ivf_seed=ivf_seed, m=m, k=k,
        seed=seed, batch_mod=batch_mod, id_col=id_col,
    )
    fold_artifact(
        spark, path, pq_index_frame(batch, centroids, books, id_col=id_col)
    )


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    *,
    refine: int = PQ_REFINE,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k with exact re-rank: (probe_id, neighbor_id, rank, cosine).

    Stage 1 (ADC, approximate): each probe precomputes its m×k lookup
    table of subspace dots against the literal codebooks — table work is
    |probes|·dim·k, corpus-independent — and the scoring join ships only
    (id, m codes) per corpus row.  Per candidate pair the approximate
    inner product is m element_at lookups + a sum: ~4× less arithmetic
    and ~32× less corpus bytes through the join than brute force (the
    byte ratio is the one that matters at 10^9 vectors).  The
    probe side (rows + LUTs) is broadcast exactly like cosine_topk — the
    corpus never shuffles.

    Stage 2 (re-rank, exact): the refine·k ADC survivors per probe join
    back to their raw vectors (a semi-join-sized equi-join on the id) and
    the final top-k uses the engine's exact rounded-cosine contract, so
    output values are bit-comparable with cosine_topk — quantization
    costs recall only, never score fidelity.  refine·k trades recall vs
    re-rank cost; recall@5 is floor-pinned by checks.pq_recall_check.

    SCALE ROLE (round 11): this is the ADC CORRECTNESS BASELINE, not the
    scale path — the candidate stage still enumerates probes×corpus (the
    cosine_topk shape with cheaper pairs), so the pair count is quadratic
    regardless of per-pair cost (VERDICT r10 "What's wrong" #1).  The
    production composition is ivf_pq_topk (IVFADC): IVF cell routing
    bounds WHICH corpus rows a probe scores, PQ bounds what each costs."""
    m = len(codebooks)
    punit = F.transform("vec", lambda x: x / F.col("norm"))
    p = with_unit_vectors(probes).select(
        F.col(id_col).alias("probe_id"),
        _pq_lut(punit, codebooks).alias("_lut"),
    )
    enc = pq_encode(corpus, codebooks, id_col=id_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("_adc"), F.asc("neighbor_id")
    )
    cand = (
        enc.join(F.broadcast(p), F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", _adc(m).alias("_adc"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= refine * k)
        .select("probe_id", "neighbor_id")
    )
    return _exact_rerank(cand, corpus, probes, k, id_col)


def _cell_dists(unit, centroids: list[list[float]]) -> F.Column:
    """Array of (squared-L2, cell) structs of a UNIT-vector column against
    the literal IVF centroids — argmin via element_at(array_sort, 1),
    n-nearest via slice(array_sort, 1, n).  The one IVF routing
    expression: ivf_topk, ivf_assign and the IVFADC index builder and
    probe router all call it."""
    return F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        unit,
                        _array_lit(c),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )


def _residual(unit, centroids: list[list[float]]) -> F.Column:
    """unit − centroid(argmin-L2 cell): the IVFADC encoding target.  Both
    the routing and the subtraction are pure JVM array expressions over
    the plan-literal codebook — zero shuffle, zero Python per row."""
    cell = F.element_at(F.array_sort(_cell_dists(unit, centroids)), 1)["cell"]
    return F.zip_with(
        unit,
        F.element_at(_array_lit(centroids), cell + 1),
        lambda x, y: x - y,
    )


def pq_index_frame(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """The IVFADC index map, ONE scan: (id, cell, codes) — argmin-L2 IVF
    cell of the UNIT vector + per-subspace PQ codes of its residual,
    both from plan-literal artifacts, zero shuffle.  This frame is what
    ensure_pq_index_table persists (and append_pq_index appends) — the
    ingestion-side composition of the registered ivf_assign and
    pq_encode shapes.

    The codes cover unit − centroid(cell), the full Jégou IVFADC
    quantizer: pass codebooks fit by ensure_residual_pq_codebook
    (raw-unit codebooks applied to residuals are silently wrong while
    every shape typechecks).  The cell is computed once and reused for
    the subtraction (a staged projection, still one scan / zero
    shuffle)."""
    unit = F.transform("vec", lambda x: x / F.col("norm"))
    base = with_unit_vectors(corpus).select(
        F.col(id_col),
        unit.alias("_u"),
        F.element_at(F.array_sort(_cell_dists(unit, centroids)), 1)[
            "cell"
        ].alias("cell"),
    )
    target = F.zip_with(
        "_u",
        F.element_at(_array_lit(centroids), F.col("cell") + 1),
        lambda x, y: x - y,
    )
    return base.select(
        F.col(id_col), "cell", _pq_codes(target, codebooks).alias("codes")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    *,
    n_probe_cells: int = 4,
    refine: int = PQ_REFINE,
    id_col: str = "vec_id",
    index: DataFrame,
) -> DataFrame:
    """IVFADC (Jégou et al., TPAMI 2011 §V): the composition of the two
    persisted ANN artifacts — IVF cell routing bounds WHICH corpus rows a
    probe scores (candidates ≈ N·n_probe_cells/n_cells, never N), PQ
    codes bound what each scored row COSTS (8 B of codes through the
    join, not 256 B of floats).  This removes the probes×corpus candidate
    shape that keeps plain pq_topk a correctness baseline only (VERDICT
    r10 next-round #1 — the only scale-killer left in a registered plan).

    Plan shape:
      1. Corpus index: (id, cell, codes) — the PERSISTED artifact
         (ensure_pq_index_table), so the registered query pays only the
         probe side + the ADC join, never a corpus encode.  Tests pass a
         pq_index_frame of their own corpus in its place.
      2. Probe routing: each probe precomputes its m×k ADC lookup table
         (dim·k work, corpus-independent) and explodes to its
         n_probe_cells nearest cells — |probes|·n_probe_cells rows,
         broadcast with the LUTs riding along.
      3. Candidate scoring: EQUI-join on cell (map-side under the
         broadcast — the corpus never shuffles for scoring), ADC score
         via LUT lookups, per-probe top refine·k by a window over the
         PRUNED candidate set (N·n_probe_cells/n_cells rows per probe —
         the ivf_topk candidate volume at ~1/32 the bytes).
      4. Exact re-rank (_exact_rerank): survivors fetch raw vectors by
         equi-join; output scores are bit-comparable with cosine_topk.

    n_cells sizes like ivf_topk (√N at production — balances per-cell
    scan cost and cell-join parallelism); m·k sizes like pq_topk.
    Recall is bounded above by the IVF routing's own recall (a neighbor
    outside the probed cells is never ADC-scored) and floor-pinned by
    checks.ivfpq_recall_check.

    The index is RESIDUAL-encoded (Jégou §V): q·x ≈ q·c(cell) + q·r̂
    where the second term is the per-subspace LUT sum over residual
    codebooks and the first rides the probe's own routing — each probed
    cell's struct already carries d = |q−c|² = 1 + |c|² − 2 q·c, so
    q·c = (1 + |c|² − d)/2 with |c|² a plan literal.  Zero extra work
    per candidate; the offset is per (probe, cell), computed once in the
    broadcast probe frame."""
    m = len(codebooks)
    unit = F.transform("vec", lambda x: x / F.col("norm"))
    enc = index.select(F.col(id_col).alias("neighbor_id"), "cell", "codes")
    routed = with_unit_vectors(probes).select(
        F.col(id_col).alias("probe_id"),
        _pq_lut(unit, codebooks).alias("_lut"),
        F.explode(
            F.slice(
                F.array_sort(_cell_dists(unit, centroids)), 1, n_probe_cells
            )
        ).alias("_rc"),
    )
    cn2 = F.array(*[F.lit(float(sum(v * v for v in c))) for c in centroids])
    p = routed.select(
        "probe_id",
        "_lut",
        F.col("_rc")["cell"].alias("cell"),
        (
            (
                F.lit(1.0)
                + F.element_at(cn2, F.col("_rc")["cell"] + 1)
                - F.col("_rc")["d"]
            )
            / F.lit(2.0)
        ).alias("_qc"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("_adc"), F.asc("neighbor_id")
    )
    cand = (
        enc.join(F.broadcast(p), on="cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id", "neighbor_id", (F.col("_qc") + _adc(m)).alias("_adc")
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= refine * k)
        .select("probe_id", "neighbor_id")
    )
    return _exact_rerank(cand, corpus, probes, k, id_col)


# --------------------------------------------------------------------------
# Query registry
# --------------------------------------------------------------------------


def _probes(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") % PROBE_MODULUS == 0)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _probes(emb), k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, _probes(emb), k=5)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    release_persisted()
    return cosine_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k of every probe over the whole embeddings table, its cells
    from the persisted k-means model (ensure_ivf_model: fitted once per
    embeddings listing, loaded thereafter), so a call runs no fit.  The
    rows equal ivf_topk's with a refit (pinned in tests/test_similarity.py);
    `ann_recall_check` keeps the refit as its independent reference."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _probes(emb), k=5, model=ensure_ivf_model(spark, sf_dir))


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k against the persisted PQ codebook (rows-only: the
    k-means subspace fits aren't SQL-expressible; recall floor-pinned by
    the driver-hashed twin `pq_recall_check`, exact re-rank keeps the
    cosine column bit-comparable with `ann_topk_cosine`).  The ADC
    correctness baseline — `ann_ivfpq_topk` is the scale path."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    books = ensure_pq_codebook(spark, sf_dir)
    return pq_topk(emb, _probes(emb), books, k=5)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k against ALL THREE persisted artifacts — the IVF
    codebook routes probes, the RESIDUAL PQ codebooks build probe LUTs,
    and the corpus side reads the PERSISTED (id, cell, codes) index
    (ensure_pq_index_table — written once at ingest, folded per batch),
    so the query pays probe routing + the ADC join only, never a corpus
    encode.  Round 12: residual encoding + multi-probe
    (IVFPQ_PROBE_CELLS) — the two Jégou §V recall levers, lifting
    recall@5 to production grade (VERDICT r11 next-round #1).  The
    production ANN scale path (rows-only: the artifacts are k-means
    fits; recall floor-pinned by the driver-hashed twin
    `ivfpq_recall_check`, which audits THIS indexed path against live
    exact top-k — a stale or torn index drops recall and goes red; exact
    re-rank keeps the cosine column bit-comparable with
    `ann_topk_cosine`)."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    books = ensure_residual_pq_codebook(spark, sf_dir)
    idx = ensure_pq_index_table(spark, sf_dir)
    return ivf_pq_topk(
        emb,
        _probes(emb),
        centroids,
        books,
        k=5,
        n_probe_cells=IVFPQ_PROBE_CELLS,
        index=idx,
    )


def q_embedding_lang_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: embeddings ⋈ documents on id, per-language vector
    count + mean L2 norm.  The norm is rounded to 6 decimals per vector
    BEFORE the decimal-sum mean so the group aggregate is order-independent
    and bit-identical across engines.  One equi-join shuffle on the id +
    one bounded-key agg — linear at any corpus size."""
    from pyspark_kmeans_spark.functions.exact import exact_avg

    release_persisted()
    emb = with_unit_vectors(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select("lang", F.round("norm", 6).alias("_nrm"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(exact_avg("_nrm"), 6).alias("mean_norm"),
        )
    )


QUANT_LEVELS = 127.0  # int8 symmetric range


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric scalar quantization fidelity, per vector: maxabs
    scale (|x|max/127), then round-half-up-to-grid reconstruction error
    (MSE + worst-element error).  The quantizer uses floor(x/s + 0.5) —
    a rounding definition both engines implement bit-identically — so the
    whole query is deterministic IEEE double arithmetic: one scan, zero
    shuffle, linear in vectors.  This is the fidelity-report stage of an
    embedding-compression pipeline (the compressed table itself is the
    same expression minus the error columns)."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("_e"))
    scale = F.array_max(F.transform("_e", lambda x: F.abs(x))) / F.lit(QUANT_LEVELS)
    df = df.withColumn("_s", scale)

    def _deq(x):
        # An all-zero vector has scale 0; its quantization is exact by
        # definition (every element is already on the grid).  The guard
        # matters under ANSI mode, where a plain x/0 aborts the job.
        return F.when(
            F.col("_s") > 0, F.floor(x / F.col("_s") + F.lit(0.5)) * F.col("_s")
        ).otherwise(F.lit(0.0))

    sq_err = F.transform("_e", lambda x: (x - _deq(x)) * (x - _deq(x)))
    abs_err = F.transform("_e", lambda x: F.abs(x - _deq(x)))
    mse = (
        F.aggregate(sq_err, F.lit(0.0), lambda a, x: a + x)
        / F.size("_e").cast("double")
    )
    return df.select(
        "vec_id",
        "label",
        F.round("_s", 9).alias("scale"),
        F.round(mse, 12).alias("mse"),
        F.round(F.array_max(abs_err), 9).alias("max_abs_err"),
    )


MATRYOSHKA_DIMS = (8, 16, 32)


def q_embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation fidelity: per label, the mean fraction of L2
    norm retained by the first 8/16/32 of 64 dims — the report that decides
    how far an MRL-trained embedding column can be truncated for cheap
    first-stage retrieval.  Per-vector fractions are exact double folds
    rounded to 6 decimals BEFORE the exact DECIMAL mean, so the per-label
    aggregate is order-independent.  One scan + one bounded-key agg."""
    from pyspark_kmeans_spark.functions.exact import exact_avg

    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select("label", _as_double(F.col("embedding")).alias("_e"))

    def _energy(col):
        return F.aggregate(
            F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )

    df = df.withColumn("_full", _energy(F.col("_e")))
    for d in MATRYOSHKA_DIMS:
        # try_divide: an all-zero vector has zero total energy — its
        # retention fraction is undefined (NULL, skipped by the mean),
        # and a plain 0/0 would abort the job under ANSI mode.
        df = df.withColumn(
            f"_f{d}",
            F.round(
                F.sqrt(
                    F.try_divide(_energy(F.slice("_e", 1, d)), F.col("_full"))
                ),
                6,
            ),
        )
    return df.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.round(exact_avg(f"_f{d}"), 6).alias(f"mean_frac_{d}")
            for d in MATRYOSHKA_DIMS
        ],
    )


HYBRID_KEYWORD = "dup"  # ~5% of docs at sweep SFs — a selective predicate
HYBRID_MAX_SURVIVORS = 200_000  # brute-force stage is probes×survivors


def hybrid_topk(
    emb: DataFrame,
    docs: DataFrame,
    keyword: str,
    *,
    k: int = 5,
    max_survivors: int | None = HYBRID_MAX_SURVIVORS,
) -> DataFrame:
    """Filtered vector search — the hybrid keyword+vector retrieval
    pattern every vector store struggles with.  PRE-filtering is the
    correct strategy when the predicate is selective: the keyword match
    restricts the corpus FIRST (predicate pushed to the documents scan,
    id semi-join prunes the embedding side), then exact cosine top-k runs
    over the surviving candidates — recall is exact over the filtered
    set by construction, unlike post-filtering an ANN result (which
    silently under-fills k when the filter is selective).  At 100 TB the
    same shape holds with the IVF/LSH candidate stage replacing brute
    force once the filtered set is itself huge.

    The brute-force stage TRUSTS the predicate to be selective, so
    `max_survivors` makes that trust explicit (VERDICT r4 item 5): a
    bounded eager count (`limit(max+1).count()` — scans only until the
    bound is exceeded, never the full corpus) raises loudly when a
    non-selective keyword would silently degrade the plan to full
    probes×corpus — the same loud-failure convention as the dedup block
    and convergence guards.  Callers with a known-huge filtered set pass
    None and switch to the IVF/LSH candidate stage instead.
    """
    keep = docs.filter(F.col("text").contains(keyword)).select(
        F.col("doc_id").alias("vec_id")
    )
    corpus = emb.join(keep, on="vec_id", how="left_semi")
    if max_survivors is not None:
        n = corpus.limit(max_survivors + 1).count()
        if n > max_survivors:
            raise ValueError(
                f"hybrid_topk: keyword {keyword!r} keeps more than "
                f"max_survivors={max_survivors} embeddings — the predicate "
                "is not selective enough for the brute-force stage; use the "
                "IVF/LSH candidate path (ivf_topk/lsh_topk over the "
                "filtered set) or raise the bound explicitly"
            )
    return cosine_topk(corpus, _probes(emb), k=k)


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered hybrid keyword+vector retrieval (see hybrid_topk)."""
    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return hybrid_topk(emb, docs, HYBRID_KEYWORD, k=5)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ann_topk_cosine": q_ann_topk,
    "hybrid_search": q_hybrid_search,
    "embedding_quantize": q_embedding_quantize,
    "embedding_matryoshka": q_embedding_matryoshka,
    "embedding_lang_norms": q_embedding_lang_norms,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivf_assign": q_ann_ivf_assign,
    "embedding_near_dups": q_embedding_near_dups,
    "dedup_semantic": q_dedup_semantic,
    "dedup_semantic_incremental": q_dedup_semantic_incremental,
}

_COS_SQL = (
    "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
)

ORACLES: dict[str, str] = {
    "hybrid_search": f"""
        WITH keep AS (
            SELECT doc_id FROM documents WHERE text LIKE '%{HYBRID_KEYWORD}%'
        ), scored AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   ROUND({_COS_SQL}, 6) AS cosine
            FROM embeddings a
            JOIN embeddings b ON a.vec_id != b.vec_id
            JOIN keep ON b.vec_id = keep.doc_id
            WHERE a.vec_id % {PROBE_MODULUS} = 0
        ), ranked AS (
            SELECT probe_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC
                   ) AS INT) AS rank
            FROM scored
        )
        SELECT probe_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
    """,
    "embedding_quantize": """
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), s AS (
            SELECT vec_id, label, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
            FROM e
        )
        SELECT vec_id, label,
               ROUND(sc, 9) AS scale,
               ROUND(list_aggregate(
                   list_transform(v, x ->
                       (x - CASE WHEN sc > 0 THEN floor(x / sc + 0.5) * sc ELSE 0.0 END)
                     * (x - CASE WHEN sc > 0 THEN floor(x / sc + 0.5) * sc ELSE 0.0 END)),
                   'sum') / len(v), 12) AS mse,
               ROUND(list_max(
                   list_transform(v, x ->
                       abs(x - CASE WHEN sc > 0 THEN floor(x / sc + 0.5) * sc ELSE 0.0 END))
               ), 9) AS max_abs_err
        FROM s
    """,
    "embedding_matryoshka": """
        WITH e AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ), f AS (
            SELECT label,
                   ROUND(sqrt(list_aggregate(list_transform(v[1:8],  x -> x*x), 'sum')
                       / NULLIF(list_aggregate(list_transform(v, x -> x*x), 'sum'), 0)), 6) AS f8,
                   ROUND(sqrt(list_aggregate(list_transform(v[1:16], x -> x*x), 'sum')
                       / NULLIF(list_aggregate(list_transform(v, x -> x*x), 'sum'), 0)), 6) AS f16,
                   ROUND(sqrt(list_aggregate(list_transform(v[1:32], x -> x*x), 'sum')
                       / NULLIF(list_aggregate(list_transform(v, x -> x*x), 'sum'), 0)), 6) AS f32
            FROM e
        )
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(CAST(SUM(CAST(f8  AS DECIMAL(18,6))) AS DOUBLE) / COUNT(f8),  6) AS mean_frac_8,
               ROUND(CAST(SUM(CAST(f16 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(f16), 6) AS mean_frac_16,
               ROUND(CAST(SUM(CAST(f32 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(f32), 6) AS mean_frac_32
        FROM f GROUP BY label
    """,
    "embedding_lang_norms": """
        WITH n AS (
            SELECT e.vec_id, d.lang,
                   ROUND(sqrt(list_aggregate(
                       list_transform(CAST(e.embedding AS DOUBLE[]), x -> x*x),
                       'sum')), 6) AS nrm
            FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        )
        SELECT lang, COUNT(*) AS n_vecs,
               ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_norm
        FROM n GROUP BY lang
    """,
    "ann_topk_cosine": f"""
        WITH scored AS (
            SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                   ROUND({_COS_SQL}, 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
            WHERE a.vec_id % {PROBE_MODULUS} = 0
        ), ranked AS (
            SELECT probe_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC
                   ) AS INT) AS rank
            FROM scored
        )
        SELECT probe_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
    """,
    # Every (probe, non-probe) match regardless of id order; the a<b rule
    # applies only between two probes (where the mirrored pair would be
    # double-reported) — matching cosine_near_dup_pairs.
    "embedding_near_dups": f"""
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, ROUND({_COS_SQL}, 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id % {PROBE_MODULUS} = 0
          AND (b.vec_id % {PROBE_MODULUS} != 0 OR a.vec_id < b.vec_id)
          AND ROUND({_COS_SQL}, 6) >= 0.35
    """,
}


def _lsh_topk_oracle_sql(
    *, n_tables: int = 8, n_planes: int = 4, dim: int = 64, seed: int = 11, k: int = 5
) -> str:
    """DuckDB oracle for q_ann_lsh_topk.  The hyperplanes are deterministic
    plan literals (seeded, engine-independent), so the 'approximate' query
    is in fact fully SQL-expressible: embed the same plane arrays in the
    SQL, recompute the sign-bit cells, and replicate the cell equi-join +
    pair dedup + rounded-cosine ranking.  Sign decisions compare a dot
    product to 0.0 with no rounding guard; both engines sum left-to-right
    in double and the margin on real data is ~1e-1, so agreement is
    structural, and a disagreement would fail the hash check loudly."""
    planes = _hyperplanes(n_tables * n_planes, dim, seed)

    def lit(vec: list[float]) -> str:
        return "[" + ", ".join(repr(v) for v in vec) + "]"

    entries = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {lit(planes[t * n_planes + j])})"
            f" >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )
        entries.append(f"SELECT vec_id, {t} AS tbl, {bits} AS cell FROM cells")
    entries_sql = "\n            UNION ALL ".join(entries)
    return f"""
        WITH cells AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), entries AS (
            {entries_sql}
        ), pairs AS (
            SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
            FROM entries p JOIN entries c ON p.tbl = c.tbl AND p.cell = c.cell
            WHERE p.vec_id % {PROBE_MODULUS} = 0 AND p.vec_id != c.vec_id
        ), scored AS (
            SELECT probe_id, neighbor_id,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM pairs
            JOIN cells a ON a.vec_id = probe_id
            JOIN cells b ON b.vec_id = neighbor_id
        ), ranked AS (
            SELECT probe_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id ASC
                   ) AS INT) AS rank
            FROM scored
        )
        SELECT probe_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
    """


ORACLES["ann_lsh_topk"] = _lsh_topk_oracle_sql()
