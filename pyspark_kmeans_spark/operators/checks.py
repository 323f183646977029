"""Driver-hash-checkable invariant twins for the non-SQL-expressible
query families (VERDICT r2 item 7, carried to r4).

The sketch / LSH / iterative-ML queries are rows-only in the driver sweep
because their *values* are engine-specific.  Their CORRECTNESS CLAIMS are
not: "the HLL estimate is within 3×rsd of exact", "LSH recall over the
exact pair set is ≥ 0.95", "every k-means point sits in its nearest
cluster".  Each query here re-states one of those claims as a DataFrame
whose columns are (a) exactly SQL-computable quantities and (b) booleans
asserting the invariant — so the DuckDB oracle can reproduce the whole
row and the driver's value-hash check pins the claim, not just a row
count.  If a sketch drifts out of bounds or LSH recall collapses, the
hash goes red in CORRECTNESS_r{N}.json instead of only in local tests.

`embedding_pca2_exact` is the exception: a genuinely value-checkable PCA.
The 2×2 covariance eigenproblem has a closed form, so computing it from
exact DECIMAL moments makes even the eigenvalues bit-identical to the
oracle — the cross-check for the iterative 64-dim `embedding_pca_variance`.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_kmeans_spark.functions.exact import decimal_sum
from pyspark_kmeans_spark.functions.warehouse_gc import drop_artifacts
from pyspark_kmeans_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@contextmanager
def _scratch_corpus(
    spark: SparkSession, check: str, sf_dir: str
) -> Iterator[tuple[str, str]]:
    """(root, scratch_sf) for a check that runs a lifecycle against
    scratch data instead of the shared `sf_dir` artifacts: an empty tree
    under the temp dir, keyed by the applicationId so concurrent sessions
    stay apart, with `root/sf` as the scratch corpus dir.

    The tree is wiped on entry (a stale tree — a stream checkpoint, a
    committed artifact input — would make the lifecycle under test a
    silent no-op) and, with every warehouse artifact built from the
    scratch corpus, on EVERY exit path: a timeout or fold failure must
    not leak a corpus copy per session into the temp dir, nor a memo
    entry over deleted parquet into a same-session retry."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join(
        tempfile.gettempdir(),
        f"{check}_{sf_tag}_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(root, ignore_errors=True)
    scratch_sf = os.path.join(root, "sf")
    try:
        os.makedirs(scratch_sf)
        yield root, scratch_sf
    finally:
        shutil.rmtree(root, ignore_errors=True)
        drop_artifacts(spark, scratch_sf)


def _over_cap_witness(docs: DataFrame) -> DataFrame:
    """1-row `n_over_cap_buckets`: how many (band, bucket) groups exceed
    the LSH bucket cap under the DEFAULT banding.  The scale-bound witness
    for every zero pinned conditionally on "no bucket past the cap"
    (lsh_twowave_check, keep_best_lsh_check): a red hash with a nonzero
    count here is the documented flood bound firing, not a regression.
    Parameters come from operators/dedup.py's shared constants — the same
    names the pair stages default to — so witness and pair stage cannot
    diverge (ADVICE r7 #3).  Cost: one signature+banding pass and a
    groupBy count over bucket keys; no pair expansion."""
    from pyspark_kmeans_spark.operators.dedup import (
        LSH_BANDS,
        LSH_BUCKET_CAP,
        LSH_NUM_HASHES,
        LSH_SEED,
        _sig_col,
        band_entries_from_sig,
        hashed_tokens_col,
    )

    return (
        band_entries_from_sig(
            docs.select(
                "doc_id",
                _sig_col(
                    hashed_tokens_col("text"),
                    num_hashes=LSH_NUM_HASHES,
                    seed=LSH_SEED,
                ).alias("sig"),
            ),
            bands=LSH_BANDS,
            rows_per_band=LSH_NUM_HASHES // LSH_BANDS,
            id_col="doc_id",
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_b"))
        .filter(F.col("_b") > LSH_BUCKET_CAP)
        .agg(F.count(F.lit(1)).alias("n_over_cap_buckets"))
    )


def q_approx_aggs_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `approx_aggs` (rows-only): per return flag,
    the exact distinct/median plus booleans asserting the sketch estimates
    are in bounds (HLL rsd 0.05 → 3×rsd; percentile_approx accuracy 10000
    → 1%).  The oracle computes the exact columns and literal TRUEs, so a
    sketch regression flips the driver hash red."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "_approx_median"
        ),
        F.expr("percentile(l_extendedprice, 0.5)").alias("_exact_median"),
    )
    err_parts = F.abs(F.col("_approx_parts") - F.col("exact_parts")) / F.col(
        "exact_parts"
    )
    err_median = F.abs(F.col("_approx_median") - F.col("_exact_median")) / F.col(
        "_exact_median"
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        F.round("_exact_median", 6).alias("exact_median_price"),
        (err_parts <= 0.15).alias("parts_in_bounds"),
        (err_median <= 0.01).alias("median_in_bounds"),
    )


def q_distinct_rollup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `event_distinct_rollup`: weekly distinct
    users per event type from MERGED daily HLL sketches, asserted within
    3×rsd of the exact weekly distinct.  Exact columns (exact weekly
    distinct, days merged) + the in-bounds boolean are all the oracle
    needs; the sketch estimate itself stays in the rows-only twin."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("_day")
    ).agg(F.hll_sketch_agg("user_id").alias("_sk"))
    weekly_approx = daily.groupBy(
        "event_type", F.date_trunc("week", "_day").alias("_week")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_approx"),
        F.count(F.lit(1)).alias("n_days_merged"),
    )
    weekly_exact = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("_week")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    rel_err = F.abs(F.col("_approx") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return (
        weekly_approx.join(weekly_exact, on=["event_type", "_week"])
        .select(
            "event_type",
            F.unix_micros("_week").alias("week_us"),
            "n_days_merged",
            "exact_users",
            (rel_err <= 0.05).alias("in_bounds"),
        )
    )


LSH_RECALL_FLOOR = 0.95  # tests pin ≥0.98 at sf0.001; driver floor has margin


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable LSH quality gate: recall of the banded-MinHash pair
    set against the exact-Jaccard pair set (threshold 0.9, the same truth
    the `dedup_jaccard_pairs` oracle checks).  Output: the exact pair
    count (SQL-computable) and `recall_ok` — |LSH ∩ exact| ≥ 0.95·|exact|.
    The oracle reproduces the count and expects TRUE, so an LSH parameter
    or hashing regression turns a driver hash red, not just a local test.

    Plan: the exact side is the O(block²) oracle path (bounded blocks —
    fine at sweep SF); the LSH side is the production pipeline; the
    intersection is a semi-join on the (doc_a, doc_b) key.
    """
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
        release_persisted,
    )

    release_persisted()
    docs = _t(spark, sf_dir, "documents")
    # the exact frame feeds both the semi-join and the count — persist so
    # pair mining runs once (graph.py's measured multi-arm recompute cost)
    exact = registered_persist(
        jaccard_pairs(docs, threshold=0.9).select("doc_a", "doc_b")
    )
    lsh = minhash_lsh_pairs(docs, threshold=0.9).select("doc_a", "doc_b")
    hits = exact.join(lsh, on=["doc_a", "doc_b"], how="left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_hit = hits.agg(F.count(F.lit(1)).alias("_n_hit"))
    return n_exact.crossJoin(n_hit).select(  # 1-row × 1-row, bounded
        "n_exact_pairs",
        (
            F.col("_n_hit")
            >= F.lit(LSH_RECALL_FLOOR) * F.col("n_exact_pairs")
        ).alias("recall_ok"),
    )


SIMHASH_MAX_HAMMING = 3
SIMHASH_COMPLETE_FLOOR = 0.99  # pigeonhole says 1.0; margin for bucket-cap drops
SIMHASH_JACCARD_FLOOR = 0.05  # measured 0.100/0.104 at sf0.01/sf0.001


def q_dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable SimHash quality gate — closes the last near-dup
    family member with neither an oracle nor a recall twin (VERDICT r4
    item 4).  Two booleans the driver hash pins:

    - `hamming_complete_ok`: the quarter-banded candidate pipeline
      (simhash_pairs) recovers ≥0.99 of the BRUTE-FORCE Hamming-ball pair
      set — the pigeonhole completeness claim the banding makes (any pair
      with Hamming ≤ 3 over 64 bits agrees exactly on ≥1 of the 4 16-bit
      quarters, so the true recall is 1.0 modulo bucket-cap drops).  The
      brute-force side is the within-lang O(block²) popcount, so a lang
      block above 50,000 rows raises instead of running.
    - `jaccard_floor_ok`: recall vs the exact 0.9-Jaccard pair set stays
      above a measured breakage floor (SimHash's Hamming-3 ball is a much
      tighter — cosine-like — bar than Jaccard 0.9, so the measured recall
      is ~0.10; the floor catches a hashing/banding regression sending it
      to ~0, not a semantics claim).

    `n_exact_pairs` (the 0.9-Jaccard pair count) is the SQL-computable
    anchor the oracle reproduces alongside literal TRUEs.
    """
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.dedup import (
        jaccard_pairs,
        release_persisted,
        simhash,
        simhash_pairs,
    )

    release_persisted()
    docs = _t(spark, sf_dir, "documents")
    sh = registered_persist(
        simhash(docs).join(docs.select("doc_id", "lang"), on="doc_id")
    )
    # The brute-force side below is O(block²): refuse an oversized block
    # loudly instead of launching a silent quadratic job.
    biggest = sh.groupBy("lang").count().agg(F.max("count")).first()[0]
    if biggest is not None and biggest > 50_000:
        raise ValueError(
            f"dedup_simhash_recall: largest lang block holds {biggest} rows "
            "> 50000; the brute-force Hamming side is O(block²)"
        )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("_sa"),
        F.col("lang").alias("_l"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("_sb"),
        F.col("lang").alias("_l"),
    )
    truth = registered_persist(
        a.join(b, on="_l")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
            <= SIMHASH_MAX_HAMMING
        )
        .select("doc_a", "doc_b")
    )
    banded = registered_persist(
        simhash_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING).select(
            "doc_a", "doc_b"
        )
    )
    exact = registered_persist(
        jaccard_pairs(docs, threshold=0.9).select("doc_a", "doc_b")
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("_n_truth"))
    n_complete = truth.join(
        banded, on=["doc_a", "doc_b"], how="left_semi"
    ).agg(F.count(F.lit(1)).alias("_n_complete"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_jac_hit = exact.join(
        banded, on=["doc_a", "doc_b"], how="left_semi"
    ).agg(F.count(F.lit(1)).alias("_n_jac"))
    return (
        n_exact.crossJoin(n_truth)  # 1-row × 1-row scalars, bounded
        .crossJoin(n_complete)
        .crossJoin(n_jac_hit)
        .select(
            "n_exact_pairs",
            (
                F.col("_n_complete")
                >= F.lit(SIMHASH_COMPLETE_FLOOR) * F.col("_n_truth")
            ).alias("hamming_complete_ok"),
            (
                F.col("_n_jac")
                >= F.lit(SIMHASH_JACCARD_FLOOR) * F.col("n_exact_pairs")
            ).alias("jaccard_floor_ok"),
        )
    )


IVF_RECALL_FLOOR = 0.6  # measured 0.74-0.76 at sf0.001/sf0.01
LSH_TOPK_RECALL_FLOOR = 0.55  # measured 0.67 at both SFs
ANN_CHECK_K = 5  # shared by the Spark side and the oracle's pair count


def q_ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable ANN quality gate: recall@5 of the two approximate
    top-k paths (IVF cells, hyperplane LSH) against the brute-force exact
    top-k, asserted above measured-with-margin floors.  The exact pair
    count is SQL-computable (5 per probe); the recall booleans are what
    the driver hash pins — an IVF codebook or LSH banding regression goes
    red in the sweep.  The IVF side refits k-means here instead of loading
    the persisted model `ann_ivf_topk` reads, so it stays an independent
    reference for that artifact."""
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.similarity import (
        _probes,
        cosine_topk,
        ivf_topk,
        lsh_topk,
        release_persisted,
    )

    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(emb)
    key = ["probe_id", "neighbor_id"]
    # three consumers (two semi-joins + the count): persist the exact
    # top-k so the brute-force scoring pass runs once
    exact = registered_persist(
        cosine_topk(emb, probes, k=ANN_CHECK_K).select(*key)
    )
    ivf_hits = exact.join(
        ivf_topk(emb, probes, k=ANN_CHECK_K).select(*key),
        on=key,
        how="left_semi",
    ).agg(F.count(F.lit(1)).alias("_ivf"))
    lsh_hits = exact.join(
        lsh_topk(emb, probes, k=ANN_CHECK_K).select(*key),
        on=key,
        how="left_semi",
    ).agg(F.count(F.lit(1)).alias("_lsh"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    return (
        n_exact.crossJoin(ivf_hits)  # 1-row × 1-row, bounded
        .crossJoin(lsh_hits)
        .select(
            "n_exact_pairs",
            (
                F.col("_ivf")
                >= F.lit(IVF_RECALL_FLOOR) * F.col("n_exact_pairs")
            ).alias("ivf_recall_ok"),
            (
                F.col("_lsh")
                >= F.lit(LSH_TOPK_RECALL_FLOOR) * F.col("n_exact_pairs")
            ).alias("lsh_recall_ok"),
        )
    )


PQ_RECALL_FLOOR = 0.8  # measured 0.93 (sf0.001) / 0.98 (sf0.01); margin below


def q_pq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable PQ quality gate (the ann_recall_check pattern):
    recall@5 of the ADC+re-rank path (`ann_pq_topk`) against brute-force
    exact top-k, asserted above a measured-with-margin floor.  A subspace
    codebook regression (bad fit, stale artifact, encode/LUT index skew —
    the off-by-one class 1-based F.slice/element_at invite) goes red in
    the driver sweep."""
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.similarity import (
        _probes,
        cosine_topk,
        ensure_pq_codebook,
        pq_topk,
        release_persisted,
    )

    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(emb)
    key = ["probe_id", "neighbor_id"]
    exact = registered_persist(
        cosine_topk(emb, probes, k=ANN_CHECK_K).select(*key)
    )
    books = ensure_pq_codebook(spark, sf_dir)
    pq_hits = exact.join(
        pq_topk(emb, probes, books, k=ANN_CHECK_K).select(*key),
        on=key,
        how="left_semi",
    ).agg(F.count(F.lit(1)).alias("_pq"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    return (
        n_exact.crossJoin(pq_hits)  # 1-row × 1-row, bounded
        .select(
            "n_exact_pairs",
            (
                F.col("_pq")
                >= F.lit(PQ_RECALL_FLOOR) * F.col("n_exact_pairs")
            ).alias("pq_recall_ok"),
        )
    )


IVFPQ_RECALL_FLOOR = 0.85  # round 12 (residual encoding + multi-probe,
# the Jégou §V levers): measured 0.924 at BOTH sf0.001 and sf0.01 (the
# two small SFs share the same 500-vector embeddings table), up from
# 0.72/0.708 with raw-unit codes and n_probe=4.  Decomposition at
# n_probe=8: routing costs ~0.05 (all-cells probe reads 0.976, the
# ADC+refine ceiling), quantization the rest; deterministic seeded
# artifacts make the measurement exact, so 0.85 is real margin.


def q_ivfpq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable IVFADC quality gate (the pq_recall_check pattern):
    recall@5 of the composed cell-routed ADC path (`ann_ivfpq_topk` — the
    INDEXED RESIDUAL form with multi-probe, reading the persisted
    (id, cell, codes) artifact the registered query reads) against
    brute-force exact top-k over the LIVE table, asserted above a
    measured-with-margin floor.  A regression in ANY of the three
    persisted artifacts (IVF codebook drift mis-routing probes, residual
    PQ codebook skew corrupting ADC order, a stale or torn index missing
    corpus rows) or in the composition itself (cell-join key mismatch
    would silently empty the candidate set; a dropped q·c offset
    scrambles cross-cell ADC order) goes red in the driver sweep."""
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.similarity import (
        IVFPQ_PROBE_CELLS,
        _probes,
        cosine_topk,
        ensure_codebook_table,
        ensure_pq_index_table,
        ensure_residual_pq_codebook,
        ivf_pq_topk,
        release_persisted,
    )

    release_persisted()
    emb = load_table(spark, sf_dir, "embeddings")
    probes = _probes(emb)
    key = ["probe_id", "neighbor_id"]
    exact = registered_persist(
        cosine_topk(emb, probes, k=ANN_CHECK_K).select(*key)
    )
    centroids = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    books = ensure_residual_pq_codebook(spark, sf_dir)
    idx = ensure_pq_index_table(spark, sf_dir)
    hits = exact.join(
        ivf_pq_topk(
            emb,
            probes,
            centroids,
            books,
            k=ANN_CHECK_K,
            n_probe_cells=IVFPQ_PROBE_CELLS,
            index=idx,
        ).select(*key),
        on=key,
        how="left_semi",
    ).agg(F.count(F.lit(1)).alias("_ivfpq"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    return (
        n_exact.crossJoin(hits)  # 1-row × 1-row, bounded
        .select(
            "n_exact_pairs",
            (
                F.col("_ivfpq")
                >= F.lit(IVFPQ_RECALL_FLOOR) * F.col("n_exact_pairs")
            ).alias("ivfpq_recall_ok"),
        )
    )


KMEANS_CHECK_K = 8


def q_kmeans_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable k-means postconditions on the embeddings table
    (k=8, seed=1 — the `kmeans_embedding_clusters` fit): every vector is
    assigned to its NEAREST center (the defining invariant of a converged
    Lloyd assignment step) and all k clusters are non-empty.  The oracle
    reproduces the row count and expects zeros/TRUE.

    The nearest-center audit stays JVM-side: centers become a broadcast
    k-row frame; squared distance is F.aggregate over F.zip_with (no
    Python UDF).  MLlib's predict uses a different float formula
    (||a||²+||b||²−2a·b with cached norms) than this plain Σ(x−y)² fold,
    so near-equidistant centers could disagree in the last ulps — a
    vector counts as mismatched only when its predicted center is worse
    than the nearest by more than a relative epsilon, which pins the true
    invariant without ulp flakiness."""
    from pyspark.ml.functions import array_to_vector

    from pyspark_kmeans_spark.ml.kmeans import fit_kmeans

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector("embedding")
    )
    model = fit_kmeans(emb, KMEANS_CHECK_K, seed=1)
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cid int, center array<double>",
    )
    assigned = model.transform(emb).select("vec_id", "prediction", "embedding")
    sq_dist = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("center"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dists = (
        assigned.crossJoin(F.broadcast(centers))  # N×k, k bounded
        .select("vec_id", "prediction", "cid", sq_dist.alias("_d"))
        .groupBy("vec_id", "prediction")
        .agg(
            F.min("_d").alias("_d_min"),
            F.min(
                F.when(F.col("cid") == F.col("prediction"), F.col("_d"))
            ).alias("_d_pred"),
        )
    )
    eps = F.lit(1e-9) * (F.lit(1.0) + F.col("_d_min"))
    return dists.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("prediction").alias("n_clusters"),
        F.sum(
            F.when(F.col("_d_pred") > F.col("_d_min") + eps, 1).otherwise(0)
        ).alias("n_assign_mismatch"),
    )


def q_embedding_pca2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-D PCA over the first two embedding dimensions — the
    value-checkable cross-check for the iterative 64-dim PCA
    (`embedding_pca_variance`, rows-only).  The 2×2 covariance
    eigenproblem is closed-form:  λ = ((a+c) ± sqrt((a−c)² + 4b²)) / 2.

    Determinism: per-row moment terms (x, y, x², y², xy) are rounded to 6
    decimals BEFORE the DECIMAL sum (the embedding_lang_norms pattern), so
    the population covariance entries — and therefore the eigenvalues and
    explained-variance ratios — are bit-identical to the oracle's.
    One scan, one 1-row aggregate; O(1) output."""
    emb = _t(spark, sf_dir, "embeddings")
    x = F.col("embedding")[0].cast("double")
    y = F.col("embedding")[1].cast("double")
    terms = emb.select(
        F.round(x, 6).alias("_x"),
        F.round(y, 6).alias("_y"),
        F.round(x * x, 6).alias("_xx"),
        F.round(y * y, 6).alias("_yy"),
        F.round(x * y, 6).alias("_xy"),
    )
    m = terms.agg(
        F.count(F.lit(1)).alias("_n"),
        decimal_sum("_x").alias("_sx"),
        decimal_sum("_y").alias("_sy"),
        decimal_sum("_xx").alias("_sxx"),
        decimal_sum("_yy").alias("_syy"),
        decimal_sum("_xy").alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    a = (F.col("_sxx") - F.col("_sx") * F.col("_sx") / n) / n
    c = (F.col("_syy") - F.col("_sy") * F.col("_sy") / n) / n
    b = (F.col("_sxy") - F.col("_sx") * F.col("_sy") / n) / n
    disc = F.sqrt((a - c) * (a - c) + F.lit(4.0) * b * b)
    l1 = ((a + c) + disc) / F.lit(2.0)
    l2 = ((a + c) - disc) / F.lit(2.0)
    pairs = F.array(
        F.struct(F.lit(1).alias("component"), l1.alias("eigenvalue")),
        F.struct(F.lit(2).alias("component"), l2.alias("eigenvalue")),
    )
    e = m.select(F.explode(pairs).alias("_e"), (l1 + l2).alias("_tot"))
    return e.select(
        F.col("_e.component").alias("component"),
        F.round(F.col("_e.eigenvalue"), 6).alias("eigenvalue"),
        F.round(F.col("_e.eigenvalue") / F.col("_tot"), 6).alias(
            "explained_ratio"
        ),
    )


def q_semdedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `dedup_semantic` (rows-only: k-means cells
    are engine-specific).  Given the engine's OWN cell assignment, the
    kept flag is fully determined by the paper's greedy rule — a row is
    dropped iff a smaller-id row in its cell has cosine ≥ threshold — so
    the twin re-derives the expected drop set with an independent
    aggregate shape (per-row bool_or instead of semantic_dedup's
    distinct-losers anti-join) and counts disagreements.  The oracle
    reproduces the corpus row count and expects zero mismatches, turning
    a greedy-rule or cosine-contract regression into a red driver hash.

    Plan: the within-cell pair join is the same equi-join on cell that
    semantic_dedup itself is bounded by (n_cells is the paper's scale
    knob); cosine uses the module's single-sourced rounded contract so
    the rule and the audit can never diverge on ulps."""
    from pyspark_kmeans_spark.functions.persist import (
        registered_persist,
        release_persisted,
    )
    from pyspark_kmeans_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        _cosine,
        semantic_dedup,
        with_unit_vectors,
    )

    release_persisted()
    emb = _t(spark, sf_dir, "embeddings")
    # Same working point as the registered query (coalesce: X1-style
    # partition control for the tiny sweep corpus).
    result = registered_persist(
        semantic_dedup(emb.coalesce(8), SEMDEDUP_THRESHOLD)
    )
    vecs = with_unit_vectors(emb).select("vec_id", "vec", "norm")
    withv = registered_persist(result.select("vec_id", "cell").join(vecs, on="vec_id"))
    a = withv.select(
        F.col("vec_id").alias("_ida"),
        "cell",
        F.col("vec").alias("pvec"),
        F.col("norm").alias("pnorm"),
    )
    b = withv.select(F.col("vec_id").alias("_idb"), "cell", "vec", "norm")
    expected_drop = (
        a.join(b, on="cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .groupBy("_idb")
        .agg(
            F.max(
                (_cosine() >= F.lit(SEMDEDUP_THRESHOLD)).cast("int")
            ).alias("_drop")
        )
        .filter(F.col("_drop") == 1)
        .select(F.col("_idb").alias("vec_id"), F.col("_drop"))
    )
    audited = result.join(expected_drop, on="vec_id", how="left")
    return audited.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(
            F.when(
                F.col("kept") == F.col("_drop").isNull(), 0
            ).otherwise(1)
        ).alias("n_kept_mismatch"),
    )


def q_bpe_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `bpe_merges` (rows-only: iterative,
    data-dependent control flow).  The FIRST merge, though, is a pure
    relational fact — the deterministic argmax (count desc, pair asc)
    over character-pair frequencies weighted by word frequency — so the
    oracle computes it outright: (first_left, first_right, first_count)
    are real cross-engine values, not literals.  `n_distinct_words`
    anchors the corpus; `merges_wellformed_ok` pins the driver-side model
    invariants (contiguous ranks 1..N, exactly N_MERGES rows, and every
    multi-char merge part is the product of an earlier merge — the
    property that makes a merge list applicable at all).

    The merge list is model-sized (O(N_MERGES), like k-means centers), so
    auditing it driver-side is bounded at any corpus scale."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.bpe import N_MERGES, bpe_merges

    release_persisted()
    docs = _t(spark, sf_dir, "documents")
    merges = bpe_merges(docs, n_merges=N_MERGES)
    known: set[str] = set()
    wellformed = len(merges) == N_MERGES and [
        r for r, _, _, _ in merges
    ] == list(range(1, len(merges) + 1))
    for _, left, right, cnt in merges:
        for part in (left, right):
            if len(part) > 1 and part not in known:
                wellformed = False
        if cnt <= 0:
            wellformed = False
        known.add(left + right)
    n_words = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .select("w")
        .distinct()
        .count()
    )
    first = merges[0]
    return spark.createDataFrame(
        [(n_words, first[1], first[2], first[3], bool(wellformed))],
        "n_distinct_words long, first_left string, first_right string, "
        "first_count long, merges_wellformed_ok boolean",
    )


def q_incremental_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `dedup_incremental_lsh` (rows-only:
    xxhash64-based kept set).  Pins the PRODUCTION-ARTIFACT contract the
    persisted path rests on: the signature-table spelling
    (ensure_signature_table → incremental_kept_against — what the
    registered query and the daily-ingest flagship run) keeps EXACTLY the
    same batch docs as the self-contained LSH spelling that re-signs the
    corpus inline.  A stale, truncated, or parameter-mismatched warehouse
    table — the failure class write-once artifacts add — turns the driver
    hash red instead of only a local test.  `n_batch` anchors the split
    (the oracle recomputes it from the interpolated batch modulus).

    Plan: one left join of the two kept marks onto the batch frame, one
    aggregate — no crossJoin; cost is two batch-sized LSH probes (the
    corpus side is read from parquet in the table path and re-signed once
    in the self-contained path, both linear)."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.dedup import (
        INCREMENTAL_BATCH_MOD,
        ensure_signature_table,
        incremental_kept_against,
        lsh_incremental_kept,
    )

    release_persisted()
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD != 0)
    via_table = incremental_kept_against(
        ensure_signature_table(spark, sf_dir), new, threshold=0.9
    ).select("doc_id", F.lit(1).alias("_kt"))
    self_contained = lsh_incremental_kept(
        new, corpus, threshold=0.9
    ).select("doc_id", F.lit(1).alias("_ks"))
    audited = (
        new.select("doc_id")
        .join(via_table, on="doc_id", how="left")
        .join(self_contained, on="doc_id", how="left")
    )
    return audited.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(
            F.when(
                F.coalesce(F.col("_kt"), F.lit(0))
                == F.coalesce(F.col("_ks"), F.lit(0)),
                0,
            ).otherwise(1)
        ).alias("n_kept_mismatch"),
    )


def q_lsh_twowave_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `dedup_lsh_kept` (rows-only: xxhash64-based
    kept set).  Pins the round-5 TWO-WAVE rewrite of the heaviest headline
    query: the kept set from `lsh_near_dedup_kept` (the two verify
    waves of `dedup._two_wave_kept`, shared with
    `incremental_kept_against`) must equal the kept set derived from
    the pair-set spelling (`minhash_lsh_pairs`
    losers removed) — the docstring claim for corpora where no bucket
    exceeds the cap, previously pinned only in tests/test_dedup.py.
    `n_docs` anchors the corpus (the oracle recomputes it); a zero
    `n_kept_mismatch` is the driver-hashed equality.

    SCALE BOUND (ADVICE r6 #2): the equality is CONDITIONAL — it holds
    exactly when no (band, bucket) group exceeds the 5000-member cap
    (minhash_lsh_pairs skips oversized buckets while the two-wave path
    still dedups them, by design).  On a boilerplate-flooded corpus the
    invariant legitimately breaks with no code defect, so the check also
    emits `n_over_cap_buckets` (same signature params as both spellings:
    num_hashes=64, bands=8, seed=7, cap 5000): a red hash with a nonzero
    over-cap count is the documented scale bound firing, not a semantic
    regression.  Costs one extra signature+banding pass (no pair
    expansion — a groupBy count over bucket keys).

    Plan: one left join of the two kept marks onto the doc-id frame, one
    aggregate — the incremental_lsh_check shape; cost is the two LSH
    passes themselves (both linear band-bucket plans) plus the bounded
    over-cap count."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.dedup import (
        lsh_near_dedup_kept,
        minhash_lsh_pairs,
    )

    release_persisted()
    docs = _t(spark, sf_dir, "documents")
    over_cap = _over_cap_witness(docs)
    two_wave = lsh_near_dedup_kept(docs, threshold=0.9).select(
        "doc_id", F.lit(1).alias("_kt")
    )
    pair_losers = (
        minhash_lsh_pairs(docs, threshold=0.9)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(1).alias("_lp"))
    )
    audited = (
        docs.select("doc_id")
        .join(two_wave, on="doc_id", how="left")
        .join(pair_losers, on="doc_id", how="left")
    )
    # pair-spelling kept ⇔ not a loser: _kt must equal 1 - _lp everywhere.
    audit = audited.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.coalesce(F.col("_kt"), F.lit(0))
                == F.lit(1) - F.coalesce(F.col("_lp"), F.lit(0)),
                0,
            ).otherwise(1)
        ).alias("n_kept_mismatch"),
    )
    # 1-row × 1-row crossJoin (the dedup_lsh_recall pattern).
    return audit.crossJoin(over_cap)


def q_daily_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `daily_ingest_lsh` (rows-only: xxhash LSH +
    iterative k-means codebook).  The production flagship's invariants —
    previously pinned only in tests/test_ingest.py — become driver-hashed
    counts:

    - `n_batch` / `n_kept_exact` anchor the split and the exact-digest
      dedup stage (the oracle replays both in SQL: md5 digests, corpus
      anti-join, lowest-id-per-digest winner).
    - `n_lsh_kept_not_in_exact` = 0: kept(LSH) ⊆ kept(exact-digest) at
      DOC level (identical text ⇒ identical token set ⇒ Jaccard 1.0 ≥
      threshold, so the LSH stage kills strictly more) — stronger than
      the per-lang-sum subset the pytest pins.
    - `n_total_mismatch` = 0: every (lang, total_docs) row the registered
      query emits equals the persisted corpus state + that lang's
      accepted-batch delta, recomputed independently here from the same
      primitives (`ensure_lang_stats_table` + the kept set).

    Plan: batch-sized joins plus one O(langs) merge — no corpus rescan
    beyond the two bounded persisted reads the flagship itself makes.  The
    three multiply-consumed frames (flagship output, both kept sets) are
    eagerly persisted: the final four-aggregate crossJoin would otherwise
    re-execute the flagship tail and the LSH anti-join once per consuming
    branch (measured 65 s → ~2x faster at sf0.1 with the persists)."""
    from pyspark_kmeans_spark.functions.persist import (
        registered_persist,
        release_persisted,
    )
    from pyspark_kmeans_spark.operators.dedup import (
        ensure_signature_table,
        incremental_kept_against,
    )
    from pyspark_kmeans_spark.operators.ingest import (
        DAILY_BATCH_MOD,
        ensure_digest_table,
        ensure_lang_stats_table,
        q_daily_ingest_lsh,
    )

    release_persisted()
    # The flagship FIRST: it calls release_persisted() itself, which would
    # otherwise drop the eager persists incremental_kept_against registers
    # below (lineage would silently recompute them at action time).
    emitted = registered_persist(
        q_daily_ingest_lsh(spark, sf_dir)
        .select("lang", "total_docs", "total_tokens")
        .distinct()
    )
    emitted.count()
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % DAILY_BATCH_MOD == 0)
    # Exact-digest kept set, re-derived with a window keeper (independent
    # of the aggregate keeper the flagships share).
    fresh = batch.select(
        "doc_id", "lang", F.md5("text").alias("digest")
    ).join(ensure_digest_table(spark, sf_dir), on="digest", how="left_anti")
    kept_exact = registered_persist(
        fresh.withColumn(
            "_min", F.min("doc_id").over(Window.partitionBy("digest"))
        )
        .filter(F.col("doc_id") == F.col("_min"))
        .select("doc_id")
    )
    # Forcing count: kept_exact feeds three branches of the final
    # crossJoin (n_kept_exact, the subset anti-join, delta→expected);
    # without the eager count the cache can populate mid-action and the
    # digest anti-join partially re-executes (ADVICE r6 #3 — emitted and
    # kept_lsh already had theirs).
    kept_exact.count()
    # LSH kept set (the daily_ingest_lsh stage-1 spelling).
    kept_lsh = registered_persist(
        incremental_kept_against(
            ensure_signature_table(spark, sf_dir), batch, threshold=0.9
        ).select("doc_id")
    )
    kept_lsh.count()
    n_batch = batch.agg(F.count(F.lit(1)).alias("n_batch"))
    n_kept_exact = kept_exact.agg(F.count(F.lit(1)).alias("n_kept_exact"))
    n_subset_viol = kept_lsh.join(
        kept_exact, on="doc_id", how="left_anti"
    ).agg(F.count(F.lit(1)).alias("n_lsh_kept_not_in_exact"))
    # Independent recompute of the post-ingest per-lang totals and a
    # zero-mismatch join against what the registered flagship emits.
    delta = (
        batch.join(kept_lsh, on="doc_id", how="left_semi")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
    )
    expected = (
        ensure_lang_stats_table(spark, sf_dir)
        .unionByName(delta)
        .groupBy("lang")
        .agg(
            F.sum("n_docs").alias("_ed"),
            F.sum("n_tokens").cast("bigint").alias("_et"),
        )
        .withColumnRenamed("lang", "_el")
    )
    # Null-safe: the flagship reports a NULL-lang group like any other.
    n_total_mismatch = (
        emitted.join(
            F.broadcast(expected),
            on=F.col("lang").eqNullSafe(F.col("_el")),
            how="left",
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("total_docs") == F.col("_ed"))
                    & (F.col("total_tokens") == F.col("_et")),
                    0,
                ).otherwise(1)
            ).alias("n_total_mismatch")
        )
    )
    # Four 1-row aggregates — bounded crossJoins (the dedup_lsh_recall
    # pattern).
    return (
        n_batch.crossJoin(n_kept_exact)
        .crossJoin(n_subset_viol)
        .crossJoin(n_total_mismatch)
    )


def q_keep_best_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash gate linking the quality-aware keeper's SCALE path to
    its oracle path: the keeper set from the LSH component graph
    (`lsh_near_dup_clusters` ∘ `keep_best_kept`) must be a SUBSET of the
    keeper set from the exact blocked graph (the `dedup_keep_best`
    registered query, fully oracle-checked).

    Why subset and not equality: LSH sees strictly MORE true edges than
    the lang-blocked exact graph (cross-lang duplicates), so it can only
    MERGE exact clusters — and a merged cluster's quality-argmax is
    always one of the merged exact clusters' own keepers (each exact
    loser is dominated by its own cluster's keeper, which is present in
    the merged set; swallowed exact singletons were exact-kept too).  The
    containment can only break if LSH MISSES an exact edge and splits a
    cluster, promoting an exact loser — per-edge recall ≈0.989 makes this
    the regression this gate exists to catch (zero misses on the
    testdata corpus, pinned by tests/test_dedup.py's cluster-containment
    test; this makes it a driver row).

    Plan: both sides are the linear clustering pipelines this module
    already ships plus two bounded window argmaxes; the audit is one
    left-anti join and two 1-row aggregates (bounded crossJoin, the
    dedup_lsh_recall pattern)."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.dedup import (
        jaccard_pairs,
        keep_best_kept,
        lsh_near_dup_clusters,
        near_dup_clusters,
    )

    release_persisted()
    docs = _t(spark, sf_dir, "documents")
    kept_exact = keep_best_kept(
        docs, near_dup_clusters(jaccard_pairs(docs, 0.9))
    )
    kept_lsh = keep_best_kept(
        docs,
        lsh_near_dup_clusters(docs, threshold=0.9).select(
            "doc_id", "cluster_id"
        ),
    )
    # The lsh_twowave_check witness pattern: a second miss source besides
    # banding recall is the bucket cap dropping a hot bucket's edges —
    # emit the over-cap count (shared-constant params, identical to
    # lsh_near_dup_clusters' pair stage) so a red row on a flooded corpus
    # is attributable to the documented cap.
    over_cap = _over_cap_witness(docs)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    viol = kept_lsh.join(kept_exact, on="doc_id", how="left_anti").agg(
        F.count(F.lit(1)).alias("n_lsh_kept_not_in_exact")
    )
    return n_docs.crossJoin(viol).crossJoin(over_cap)


def q_streaming_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash gate for the streaming ingestion-dedup loop
    (streaming/dedup_ingest.py — previously the only module with no
    driver-visible row; VERDICT r6 stretch item 7).  Replays the
    documents table as a bounded 3-file stream (one micro-batch per
    residue class of doc_id % 3) through the REAL Structured Streaming
    job — foreachBatch, parquet signature state, per-batch overwrite
    dirs, checkpoint — then re-derives the kept set by folding the batch
    primitives (`incremental_kept_against` + `build_signature_table`)
    over the same slices in the stream's own processing order:

    - `n_docs` anchors the corpus (oracle recomputes it);
      `n_batches` = 3 pins that every micro-batch committed.
    - `n_kept_mismatch` = 0: the streamed kept set equals the batch fold
      — the stream==batch contract tests/test_streaming_dedup_ingest.py
      pins, now driver-hashed.
    - compaction contract (VERDICT r7 missing #3 — crash-safety-critical
      and previously pytest-only): `compact_signature_state(up_to=2)`
      runs mid-replay against the stream's own state;
      `n_compacted_dirs` = 2 pins that both sub-checkpoint batch dirs
      merged, `n_compaction_mismatch` = 0 driver-hashes state-read
      equality across compaction AND across an idempotent re-run
      (count + bit_xor(xxhash64) digest of the full signature rows,
      taken before/after/after-rerun), `n_recompact_victims` = 0 pins
      the re-run as pure no-op GC.

    The stream runs against session-scoped scratch dirs
    (`_scratch_corpus`, wiped per call: a stale checkpoint would silently
    mark the input as already processed and yield an empty run).
    Bounded driver reads: one `first()` per
    batch directory to recover the processing order.  Cost is the 3
    batch-sized LSH dedups the loop itself runs — batch-linear, the
    daily_ingest_check class of gate query."""
    import glob

    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.dedup import (
        build_signature_table,
        incremental_kept_against,
    )
    from pyspark_kmeans_spark.streaming.dedup_ingest import dedup_ingest_stream

    release_persisted()
    docs = _t(spark, sf_dir, "documents")
    with _scratch_corpus(spark, "streaming_ingest_check", sf_dir) as (root, _):
        input_dir = os.path.join(root, "in")
        os.makedirs(input_dir)
        for i in range(3):
            stage = os.path.join(root, f"stage{i}")
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(stage)
            part = glob.glob(f"{stage}/part-*.parquet")[0]
            shutil.move(part, f"{input_dir}/batch{i}.parquet")
        kept_dir = os.path.join(root, "kept")
        stream = dedup_ingest_stream(
            spark,
            input_dir,
            state_dir=os.path.join(root, "state"),
            kept_dir=kept_dir,
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        # A timed-out stream must fail LOUDLY: proceeding with however many
        # batches committed would read as a stream!=batch semantic mismatch
        # (or crash on an empty kept dir) instead of the timeout it is.
        if not stream.awaitTermination(600):
            stream.stop()
            raise RuntimeError(
                "streaming_ingest_check: stream did not finish within 600 s"
            )

        # Compaction contract, driver-hashed on the stream's own state
        # (the dirs compaction deletes are scratch files, so the digests
        # must materialize eagerly — bounded: one 2-column aggregate per
        # digest, three digests total).
        from pyspark_kmeans_spark.streaming.dedup_ingest import (
            compact_signature_state,
            read_signature_state,
        )

        state_dir = os.path.join(root, "state")

        def state_digest() -> tuple:
            r = (
                read_signature_state(spark, state_dir)
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.expr("bit_xor(xxhash64(doc_id, sig))").alias("_h"),
                )
                .first()
            )
            return (r["_n"], r["_h"])

        d_before = state_digest()
        n_compacted = compact_signature_state(spark, state_dir, up_to=2)
        d_after = state_digest()
        n_recompact = compact_signature_state(spark, state_dir, up_to=2)
        d_rerun = state_digest()
        n_compaction_mismatch = int(not (d_before == d_after == d_rerun))

        # Recover each micro-batch's residue class (slices are disjoint, so
        # any single kept id identifies its slice) — one 1-row read per
        # batch.  Tolerant of a zero-kept batch (a legitimate outcome if a
        # residue slice is entirely duplicates of earlier state — ADVICE
        # r7 #1): empties resolve by elimination against the known full
        # residue set, in batch order.  A zero-kept batch contributes no
        # signatures to state, so order among empties cannot change the
        # fold — and if the assignment were ever wrong anyway, the
        # n_kept_mismatch audit below goes red instead of this aborting.
        # Dirs sort by int(batch_id), not lexicographically (batch 10
        # must not land between 1 and 2).
        batch_paths = sorted(
            glob.glob(f"{kept_dir}/batch_id=*"),
            key=lambda p: int(p.rsplit("=", 1)[1]),
        )
        order: list[int | None] = []
        for path in batch_paths:
            row = spark.read.parquet(path).first()
            order.append(None if row is None else row["doc_id"] % 3)
        unseen = [r for r in range(3) if r not in order]
        order = [r if r is not None else unseen.pop(0) for r in order]
        # Batch-mode fold in the stream's processing order.  Each round's
        # kept_ids is persisted with a forcing count: the per-round
        # localCheckpoint below executes the LSH probe once while building
        # the next state, and the final audit aggregate would otherwise
        # execute every probe a SECOND time through the `folded` lineage.
        from pyspark_kmeans_spark.functions.persist import registered_persist

        state_df = build_signature_table(docs.limit(0))
        folded = None
        for res in order:
            batch = docs.filter(F.col("doc_id") % 3 == res)
            kept_ids = registered_persist(
                incremental_kept_against(state_df, batch).select("doc_id")
            )
            kept_ids.count()
            folded = kept_ids if folded is None else folded.unionByName(kept_ids)
            kept_docs = batch.join(kept_ids, on="doc_id", how="left_semi")
            state_df = state_df.unionByName(
                build_signature_table(kept_docs)
            ).localCheckpoint()

        streamed = (
            spark.read.parquet(f"{kept_dir}/batch_id=*")
            .select("doc_id", F.lit(1).alias("_ks"))
        )
        audited = (
            docs.select("doc_id")
            .join(streamed, on="doc_id", how="left")
            .join(
                folded.select("doc_id", F.lit(1).alias("_kb")),
                on="doc_id",
                how="left",
            )
        )
        result = audited.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.lit(len(order)).alias("n_batches"),
            F.sum(
                F.when(
                    F.coalesce(F.col("_ks"), F.lit(0))
                    == F.coalesce(F.col("_kb"), F.lit(0)),
                    0,
                ).otherwise(1)
            ).alias("n_kept_mismatch"),
            F.lit(n_compacted).alias("n_compacted_dirs"),
            F.lit(n_compaction_mismatch).cast("bigint").alias(
                "n_compaction_mismatch"
            ),
            F.lit(n_recompact).alias("n_recompact_victims"),
        )
        # Materialize the 1-row audit eagerly: the returned plan must
        # not depend on the scratch files _scratch_corpus deletes on exit.
        rows = result.collect()
        schema = result.schema
        return spark.createDataFrame(rows, schema)


# Max/mean cell-occupancy ratio above which the persisted IVF codebook is
# considered stale for the CURRENT corpus.  Measured honest values: 2.82
# at sf0.01 (400-vector fit split, noisy small cells), 1.29 at sf0.1; a
# fully-collapsed routing (every vector in one cell — the planted-drift
# test's shape) reads n_cells (=16).  8.0 sits well clear of both.
IVF_SKEW_LIMIT = 8.0

# RELATIVE drift gate (VERDICT r7 missing #4): the absolute limit only
# catches severe collapse — a codebook whose fit-time ratio was 1.3 can
# degrade to 6.5 (5× worse probe cost) and still pass 8.0.  The artifact
# records its per-cell training populations, so the check also gates
# current ratio ≤ 3× the FIT-TIME ratio.  Honest value ≈ 1.0 at every
# tested sf (the routed corpus is the fit split plus the 20% batch, so
# current ≈ fit); 3.0 leaves noise margin while firing long before the
# absolute gate when the fit was well balanced.
IVF_REL_DRIFT_LIMIT = 3.0


def q_codebook_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staleness/drift gate for the write-once IVF codebook (VERDICT r6
    item 3): route the CURRENT full embeddings table against the
    PERSISTED codebook (ensure_codebook_table — the artifact
    `ann_ivf_assign` / `daily_ingest_lsh` trust without refitting) and
    driver-hash a routing-balance invariant.

    A write-once codebook is right for the ingest contract, but at 100 TB
    a codebook fitted on day 0 drifts as the corpus grows: routing
    concentrates into few cells, IVF probe cost explodes, and nothing
    else in the pipeline notices — dedup's signature table is
    drift-insensitive, routing is not.  This is the reference's own S5
    load-then-VALIDATE lesson (utils/kmeans_utils.py:133-143 checks the
    persisted model before trusting it) applied to the routing artifact:

    - `n_vectors` anchors the corpus (oracle recomputes it) and proves
      every vector routed (sum of cell occupancies == corpus count).
    - `n_cells` pins the codebook size read back from the warehouse.
    - `balance_ok`: max cell occupancy ≤ IVF_SKEW_LIMIT × mean occupancy
      (mean over ALL n_cells, so vanished cells count against balance).
      A planted drift (embeddings shifted far outside the fitted space
      collapse into one cell) flips it — pinned in tests/test_similarity.py.
    - `balance_vs_fit_ok`: current ratio ≤ IVF_REL_DRIFT_LIMIT × the
      FIT-TIME ratio derived from the artifact's persisted per-cell
      populations — catches moderate degradation the absolute gate
      misses (a planted 1.0→5.5 drift passes 8.0 and flips this; pinned
      in tests/test_similarity.py).

    Plan: one map-side routing pass (broadcast 16-row codebook inside a
    literal array expression — no join, no shuffle beyond the 16-group
    aggregate), O(n_cells) driver read for the codebook.  Batch-linear at
    any corpus scale; at 100 TB this runs as the ingest job's cheap
    canary and its booleans decide when to pay for a refit."""
    from pyspark_kmeans_spark.operators.similarity import (
        ensure_codebook_stats,
    )

    centroids, fit_counts = ensure_codebook_stats(
        spark, sf_dir, n_cells=16, seed=1
    )
    return routing_balance(
        _t(spark, sf_dir, "embeddings"), centroids, fit_counts=fit_counts
    )


def routing_balance(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    fit_counts: list[int] | None = None,
) -> DataFrame:
    """(n_vectors, n_cells, balance_ok[, balance_vs_fit_ok]) for `emb`
    routed against a fixed codebook — the q_codebook_check body, factored
    so the planted-drift tests run the exact production aggregate over
    shifted embeddings.  `fit_counts` (the artifact's per-cell training
    populations) enables the relative gate; its max/mean ratio is a
    Python scalar — n_cells numbers, model-sized by construction."""
    from pyspark_kmeans_spark.operators.similarity import ivf_assign

    n_cells = len(centroids)
    occ = (
        ivf_assign(emb, centroids)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    cols = [
        F.sum("_n").cast("bigint").alias("n_vectors"),
        F.lit(n_cells).alias("n_cells"),
        (
            F.max("_n") * n_cells <= F.lit(IVF_SKEW_LIMIT) * F.sum("_n")
        ).alias("balance_ok"),
    ]
    if fit_counts is not None:
        fit_ratio = max(fit_counts) * len(fit_counts) / sum(fit_counts)
        cols.append(
            (
                F.max("_n") * n_cells
                <= F.lit(IVF_REL_DRIFT_LIMIT * fit_ratio) * F.sum("_n")
            ).alias("balance_vs_fit_ok")
        )
    return occ.agg(*cols)


def q_codebook_update_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash gate for the mini-batch codebook update — the middle
    path of the lifecycle (ensure → check → UPDATE → refresh) and the one
    round-7 addition with no driver row (VERDICT r7 missing #2: it
    mutates the shared warehouse artifact, so it cannot run against the
    sweep's codebook).  Runs the whole unit against a SCRATCH copy of the
    embeddings table (`_scratch_corpus`, which deletes the scratch tree
    and the scratch-keyed warehouse artifact on exit):

    - fit the day-0 codebook on the scratch corpus split,
    - fold the 20% batch via the REGISTERED `update_codebook_table`,
    - recompute the closed-form expectation c' = (n·c + Σu) / (n + m)
      as a SPARK expression (zip_with over the persisted pre-state joined
      to a per-cell batch aggregate — not the update's driver-side Python
      loop) and driver-hash a zero-mismatch comparison against what the
      update actually WROTE (read back from the artifact, so the
      persisted bytes are what's checked, not the return value).

    Columns: `n_batch` anchors the split (oracle recomputes it);
    `n_cells` pins the artifact size; `n_centroid_mismatch` = 0 counts
    (cell, dim) entries where |expected − written| > 1e-6 — the
    tolerance exists because the Σu aggregate executes twice (partial-sum
    order can differ at the last bit, ~1e-12 here) while any real fold
    defect moves centroids by the update magnitude (~1e-2);
    `n_count_mismatch` = 0 pins the population fold n + m exactly.

    Plan: one seeded fit on the scratch corpus (the priced construction
    job), one batch-linear routing pass per side, two O(n_cells) frames
    joined — nothing corpus-quadratic; the daily_ingest_check class of
    gate query."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.similarity import (
        IVF_BATCH_MOD,
        _codebook_path,
        ensure_codebook_stats,
        ivf_assign,
        update_codebook_table,
    )

    release_persisted()
    with _scratch_corpus(spark, "codebook_update_check", sf_dir) as (_, scratch_sf):
        # Tables come as single parquet FILES (the testdata layout) or
        # directories (what Spark itself writes; scratch corpora in
        # tests) — load_table reads both, so the copy must too.
        src = os.path.join(sf_dir, "embeddings.parquet")
        dst = os.path.join(scratch_sf, "embeddings.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
        pre_cents, pre_counts = ensure_codebook_stats(
            spark, scratch_sf, n_cells=16, seed=1
        )
        dim = len(pre_cents[0])
        batch = load_table(spark, scratch_sf, "embeddings").filter(
            F.col("vec_id") % IVF_BATCH_MOD == 0
        )
        # Independent expectation: per-cell batch mass as a Spark
        # aggregate, folded into the PRE-update persisted state with
        # array expressions (no driver-side arithmetic).
        pre = spark.createDataFrame(
            [
                (cell, c, int(n))
                for cell, (c, n) in enumerate(zip(pre_cents, pre_counts))
            ],
            "cell int, pre_centroid array<double>, pre_n long",
        )
        batch_agg = (
            ivf_assign(batch, pre_cents, emit_unit=True)
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("_m"),
                F.array(
                    *[F.sum(F.col("unit_vec")[i]) for i in range(dim)]
                ).alias("_s"),
            )
        )
        expected = pre.join(F.broadcast(batch_agg), on="cell", how="left").select(
            "cell",
            F.when(F.col("_m").isNull(), F.col("pre_centroid"))
            .otherwise(
                F.zip_with(
                    "pre_centroid",
                    "_s",
                    lambda c, s: (F.col("pre_n") * c + s)
                    / (F.col("pre_n") + F.col("_m")),
                )
            )
            .alias("exp_centroid"),
            (F.col("pre_n") + F.coalesce("_m", F.lit(0))).alias("exp_n"),
        )
        n_batch = batch.count()
        update_codebook_table(spark, scratch_sf, batch, n_cells=16, seed=1)
        written = spark.read.parquet(
            _codebook_path(scratch_sf, n_cells=16, seed=1, batch_mod=IVF_BATCH_MOD)
        )
        audit = expected.join(written, on="cell", how="full_outer")
        result = audit.agg(
            F.lit(n_batch).cast("bigint").alias("n_batch"),
            # real row count over the full-outer audit (a written/expected
            # cell-set divergence changes it); cast matches the oracle's
            # INTEGER literal
            F.count(F.lit(1)).cast("int").alias("n_cells"),
            # NULL-safe: zip_with null-pads a truncated array and a NULL
            # element yields a NULL diff, both of which a bare `d > 1e-6`
            # filter would silently DROP — so missing/NULL positions and
            # whole-side NULLs count as mismatches too (review finding:
            # a corrupt artifact must not hash green).
            F.sum(
                F.when(
                    F.col("exp_centroid").isNull()
                    | F.col("centroid").isNull()
                    | (F.size("exp_centroid") != F.size("centroid")),
                    F.lit(1),
                ).otherwise(
                    F.size(
                        F.filter(
                            F.zip_with(
                                "exp_centroid",
                                "centroid",
                                lambda a, b: F.abs(a - b),
                            ),
                            lambda d: d.isNull() | (d > 1e-6),
                        )
                    )
                )
            ).cast("bigint").alias("n_centroid_mismatch"),
            F.sum(
                F.when(F.col("exp_n") == F.col("n"), 0).otherwise(1)
            ).cast("bigint").alias("n_count_mismatch"),
        )
        # Materialize eagerly: the returned plan must not depend on the
        # scratch files _scratch_corpus deletes on exit.
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)


def q_incremental_semdedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `dedup_semantic_incremental` (rows-only:
    the persisted codebook's cells are engine-specific).  Given the
    codebook's OWN routing, the incremental kept set is fully determined
    by the greedy rule — a batch vector is dropped iff cosine ≥ threshold
    to a same-cell CORPUS member (corpus precedence) or to a SMALLER-ID
    same-cell batch member — so the twin re-derives the expected drop set
    with an independent aggregate shape (ONE unioned candidate frame +
    per-probe max, vs the registered query's two distinct anti-join
    branches; the q_semdedup_check pattern) and counts disagreements.
    `n_batch` anchors the split (the oracle recomputes it); a zero
    `n_kept_mismatch` is the driver-hashed greedy-rule equality.

    Plan: the same bounded cell equi-joins the registered query runs
    (|batch_cell|x|corpus_cell| per cell — the SemDeDup n_cells knob),
    one extra per-probe aggregate; cosine via the unit-space spelling of
    the rounded contract (_cosine_unit — the registered query's own) so
    rule and audit cannot diverge on ulps."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.similarity import (
        IVF_BATCH_MOD,
        SEMDEDUP_THRESHOLD,
        _cosine_unit,
        ensure_codebook_table,
        q_dedup_semantic_incremental,
        routed_side,
    )

    release_persisted()
    # Materialize the kept ID SET eagerly (bounded by the batch — the
    # same ingest-contract bound the registered query's broadcast(probe)
    # already relies on), then release the registered query's persisted
    # routed frames BEFORE the twin builds its own: otherwise two routed
    # copies of the corpus sit cached side by side for the whole check.
    kept_rows = [
        (r["vec_id"],)
        for r in q_dedup_semantic_incremental(spark, sf_dir).collect()
    ]
    release_persisted()
    kept = F.broadcast(
        spark.createDataFrame(kept_rows, "vec_id long").withColumn(
            "_k", F.lit(1)
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % IVF_BATCH_MOD == 0)
    corpus = emb.filter(F.col("vec_id") % IVF_BATCH_MOD != 0)
    centroids = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)

    # routed_side is the registered query's OWN side preparation
    # (similarity.routed_side — persisted+forced so the routing argmin
    # is evaluated once per row, single-sourced so rule and audit cannot
    # route differently).
    routed_batch = routed_side(batch, centroids, alias="_idb")
    probe = routed_batch.select(
        "_idb", "cell", F.col("unit_vec").alias("punit")
    )
    hit = (_cosine_unit() >= F.lit(SEMDEDUP_THRESHOLD)).cast("int").alias("_hit")
    # Batch side broadcast, as in the registered query (the bounded side
    # by the ingest contract — corpus stays map-side).
    scored_corpus = routed_side(corpus, centroids, alias="_idc").join(
        F.broadcast(probe), on="cell"
    ).select("_idb", hit)
    scored_batch = (
        routed_batch.withColumnRenamed("_idb", "_ida")
        .join(F.broadcast(probe), on="cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .select("_idb", hit)
    )
    expected_drop = (
        scored_corpus.unionByName(scored_batch)
        .groupBy("_idb")
        .agg(F.max("_hit").alias("_drop"))
        .filter(F.col("_drop") == 1)
        .select(F.col("_idb").alias("vec_id"), "_drop")
    )
    audited = (
        batch.select("vec_id")
        .join(kept, on="vec_id", how="left")
        .join(expected_drop, on="vec_id", how="left")
    )
    return audited.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(
            F.when(
                (F.coalesce(F.col("_k"), F.lit(0)) == 1)
                == F.col("_drop").isNull(),
                0,
            ).otherwise(1)
        ).alias("n_kept_mismatch"),
    )


# Driver-collect ceiling for the trio gate's batch marks (ADVICE r9 #2):
# 6 scalar columns × 2M rows ≈ low hundreds of MB — safe in a default 1g
# driver heap; anything larger must be audited at a smaller SF instead.
TRIO_MARKS_DRIVER_CAP = 2_000_000


def q_daily_ingest_semantic_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `daily_ingest_semantic` (rows-only: xxhash
    LSH + k-means-routed semantic stage).  The trio's interaction —
    precedence is the chain order, each stage consuming only the previous
    stage's survivors — becomes driver-hashed counts over the
    single-sourced `ingest.trio_stage_marks` frame:

    - `n_batch` / `n_kept_digest` anchor the split and the exact stage
      (the oracle replays md5 dedup in SQL).
    - `n_chain_violation` = 0: no doc is marked surviving stage N without
      surviving stage N-1 — the precedence order itself.
    - `n_lsh_chain_mismatch` = 0: the CHAINED stage-2 kept set equals
      kept(digest) ∩ kept(LSH over the FULL batch).  This equality is a
      theorem about the interaction, not a tautology: a digest-dropped
      doc always has an identical-text twin (a corpus member, or the
      lower-id digest keeper) whose token set — hence MinHash signature
      and Jaccard — is identical, so every LSH loss it caused is caused
      by its twin too.  Conditional on no over-cap bucket
      (`n_over_cap_buckets` — the lsh_twowave_check scale witness).
    - `n_semantic_mismatch` = 0: the chained stage-3 marks equal an
      INDEPENDENT re-derivation of the greedy rule on the same stage-2
      survivors (one unioned candidate frame + per-probe max — the
      incremental_semdedup_check aggregate shape, vs the flagship's two
      anti-join branches).

    Plan: batch-sized joins + one full-batch LSH probe + one bounded
    cell-join audit — the daily_ingest_check class of gate query."""
    from pyspark_kmeans_spark.functions.persist import (
        registered_persist,
        release_persisted,
    )
    from pyspark_kmeans_spark.operators.dedup import (
        ensure_signature_table,
        incremental_kept_against,
    )
    from pyspark_kmeans_spark.operators.ingest import (
        DAILY_BATCH_MOD,
        trio_stage_marks,
    )
    from pyspark_kmeans_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        _cosine_unit,
        ensure_codebook_table,
        routed_side,
    )
    from pyspark_kmeans_spark.session import clamp_plan_string_length

    # Defensive plan-string clamp for the audit side too (the trio chain
    # clamps inside trio_stage_marks; the audit stacks the full-batch LSH
    # probe + the semantic re-derivation on bounded-lineage inputs).
    clamp_plan_string_length(spark)
    release_persisted()
    # Materialize the marks EAGERLY as a local frame (batch-bounded by
    # the ingest contract — the incremental_semdedup_check collect
    # pattern) and release the trio chain's persists before building the
    # audit.  This also CUTS the audit's plan lineage at the marks: the
    # trio chain is the deepest plan in the engine (digest → two-wave
    # LSH → routed semantic → three joins), and stacking the full-batch
    # LSH probe + the semantic re-derivation + the witness cross on top
    # of it produced a plan tree whose AQE explain string alone
    # overflowed a default-size driver heap (found by the round-9
    # driver-sim verify — the tuned test session masked it).  Round 10
    # (ADVICE r9 #2): the collect is now CAPPED — driver memory for this
    # gate grows with batch size, so refuse loudly past the cap instead
    # of OOMing the driver; a batch that large should be gated at a
    # smaller audit SF (the bench GATES_SF tier), not collected.  A
    # localCheckpoint spelling (distributed marks, no collect) was tried
    # and reverted: its block-eviction failure mode is flakier than the
    # bounded collect the round-9 verify already proved at 181 queries.
    # Persist BEFORE the cap count (ADVICE r10 #1): the marks joins and
    # the stage-3 semantic scoring are not persisted inside
    # trio_stage_marks, so an unpersisted count() would execute the most
    # expensive part of this gate twice (once for the cap, once for the
    # collect).  The frame is batch-bounded by the ingest contract, so
    # the persist itself is cheap.
    marks_src = registered_persist(trio_stage_marks(spark, sf_dir))
    n_marks = marks_src.count()
    if n_marks > TRIO_MARKS_DRIVER_CAP:
        raise ValueError(
            f"daily_ingest_semantic_check: batch marks ({n_marks} rows) "
            f"exceed the driver collect cap ({TRIO_MARKS_DRIVER_CAP}); "
            "run this gate at a smaller sf_dir (bench GATES_SF tier)"
        )
    marks_rows = marks_src.collect()
    release_persisted()
    marks = registered_persist(
        spark.createDataFrame(marks_rows, marks_src.schema)
    )
    marks.count()
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % DAILY_BATCH_MOD == 0)
    # Full-batch LSH kept set — the interaction theorem's other side.
    lsh_full = incremental_kept_against(
        ensure_signature_table(spark, sf_dir), batch, threshold=0.9
    ).select("doc_id", F.lit(1).alias("_kf"))
    # Independent semantic re-derivation on the stage-2 survivors.
    emb = _t(spark, sf_dir, "embeddings")
    b2_emb = emb.join(
        marks.filter(F.col("_k2") == 1).select(
            F.col("doc_id").alias("vec_id")
        ),
        on="vec_id",
        how="left_semi",
    )
    centroids = ensure_codebook_table(spark, sf_dir, n_cells=16, seed=1)
    routed_b2 = routed_side(b2_emb, centroids, alias="_idb")
    probe = routed_b2.select("_idb", "cell", F.col("unit_vec").alias("punit"))
    cand = (
        routed_side(
            emb.filter(F.col("vec_id") % DAILY_BATCH_MOD != 0),
            centroids,
            alias="_ida",
        )
        .withColumn("_is_corpus", F.lit(1))
        .unionByName(
            routed_b2.withColumnRenamed("_idb", "_ida").withColumn(
                "_is_corpus", F.lit(0)
            )
        )
    )
    exp_drop = (
        cand.join(F.broadcast(probe), on="cell")
        .filter((F.col("_is_corpus") == 1) | (F.col("_ida") < F.col("_idb")))
        .withColumn(
            "_hit", (_cosine_unit() >= F.lit(SEMDEDUP_THRESHOLD)).cast("int")
        )
        .groupBy("_idb")
        .agg(F.max("_hit").alias("_mx"))
        .filter(F.col("_mx") == 1)
        .select(F.col("_idb").alias("doc_id"), F.lit(1).alias("_xd"))
    )
    audited = marks.join(lsh_full, on="doc_id", how="left").join(
        F.broadcast(exp_drop), on="doc_id", how="left"
    )
    k = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return audited.crossJoin(F.broadcast(_over_cap_witness(docs))).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.sum(k("_k1")).cast("bigint").alias("n_kept_digest"),
        F.sum(
            F.when(
                ((k("_k2") == 1) & F.col("_k1").isNull())
                | ((k("_k3") == 1) & F.col("_k2").isNull()),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_chain_violation"),
        F.sum(
            F.when(
                k("_k2") != F.least(k("_k1"), k("_kf")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_lsh_chain_mismatch"),
        # Agreement on a stage-2 survivor means kept (_k3=1) XOR
        # expected-drop (_xd=1) — so EQUALITY of the two marks is the
        # disagreement being counted.
        F.sum(
            F.when(
                (k("_k2") == 1) & (k("_k3") == k("_xd")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_semantic_mismatch"),
        # Round 12: the trio's ANN-index delta mark must cover EXACTLY
        # the accepted set — `_cell` (the doc's routed index cell,
        # computed against the persisted IVF + residual-PQ artifacts)
        # non-null ⇔ stage-3 survival.  A fold that loses accepted docs
        # or indexes rejected ones shows here, every sweep.
        F.sum(
            F.when(
                (k("_k3") == 1) != F.col("_cell").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_index_mark_mismatch"),
        F.max("n_over_cap_buckets").cast("bigint").alias("n_over_cap_buckets"),
    )


# The check's batch split — shared with the other incremental families
# (dedup.INCREMENTAL_BATCH_MOD): 20% batch, 80% corpus.
PAIRS_UPDATE_BATCH_MOD = 5


def q_pairs_update_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash gate for incremental pair-table maintenance
    (`graph.append_pairs_table`, VERDICT r8 missing #4): artifact-after-
    fold must equal a full re-mine on the union corpus row-for-row.

    Runs the whole lifecycle against a SCRATCH corpus
    (`_scratch_corpus`, which deletes the scratch tree and every
    scratch-keyed warehouse artifact on exit): write the 80% split as
    the scratch corpus, first-touch
    builds its pair table + prefix state, fold the 20% batch via the
    REGISTERED `append_pairs_table`, then full-outer-join the folded
    artifact against an inline full re-mine of the UNION corpus
    (`jaccard_pairs` over the raw table — the independent spelling: it
    orders tokens by union frequencies, the fold by the persisted corpus
    frequencies, so an ordering-dependence bug in the prefix lemma
    application cannot be mirrored).  Union == the full documents table,
    so the oracle re-mines in SQL and the row is fully hash-checked:
    `n_missing` = edges the fold failed to find (recall defect),
    `n_extra` = edges the fold invented or duplicated (precision/append
    defect) — both must be 0; `n_batch`/`n_pairs` anchor the split and
    the artifact size.

    Plan: the fold is the batch-linear path under test; the re-mine and
    the audit join are check-only costs (the codebook_update_check
    class: the gate pays for its own independent expectation)."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs
    from pyspark_kmeans_spark.operators.graph import (
        GRAPH_PAIR_THRESHOLD,
        append_pairs_table,
    )

    release_persisted()
    with _scratch_corpus(spark, "pairs_update_check", sf_dir) as (_, scratch_sf):
        docs = _t(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % PAIRS_UPDATE_BATCH_MOD != 0)
        batch = docs.filter(F.col("doc_id") % PAIRS_UPDATE_BATCH_MOD == 0)
        corpus.write.mode("overwrite").parquet(
            os.path.join(scratch_sf, "documents.parquet")
        )
        n_batch = batch.count()
        folded = append_pairs_table(spark, scratch_sf, batch)
        expected = jaccard_pairs(docs, threshold=GRAPH_PAIR_THRESHOLD).select(
            "doc_a", "doc_b", F.lit(1).alias("_e")
        )
        audit = folded.withColumn("_f", F.lit(1)).join(
            expected, on=["doc_a", "doc_b"], how="full_outer"
        )
        result = audit.agg(
            F.lit(n_batch).cast("bigint").alias("n_batch"),
            F.sum(F.coalesce("_f", F.lit(0))).cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("_f").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing"),
            F.sum(F.when(F.col("_e").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_extra"),
        )
        # Materialize eagerly: the returned plan must not depend on the
        # scratch files _scratch_corpus deletes on exit.
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)


PQ_INDEX_UPDATE_BATCH_MOD = 4  # vec_id % 4 == 0 → the 25% "new" batch;
# deliberately ≠ the codebook corpus split's IVF_BATCH_MOD=5 so the two
# moduli can't be conflated inside the scratch lifecycle.


def q_pq_index_update_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash gate for incremental IVFADC index maintenance
    (`similarity.append_pq_index`, VERDICT r11 next-round #3):
    artifact-after-fold must equal a full index rebuild over the union
    corpus row-for-row — (id, cell, codes) all three.

    Runs the whole lifecycle against a SCRATCH corpus
    (`_scratch_corpus`, which deletes the scratch tree and every
    scratch-keyed warehouse artifact on exit, staging dirs included):
    write the 75% split as the scratch embeddings
    table, first-touch builds its IVF codebook + RESIDUAL PQ codebooks +
    index (the registered round-12 encoding), fold the 25% batch via the
    REGISTERED `append_pq_index` (staged-commit part-file moves — a torn
    fold shows here as n_missing/n_extra, direct and every-sweep, where
    before round 12 it surfaced only as an indirect recall dip), then
    full-outer-join the folded artifact against an inline
    `pq_index_frame` rebuild of the UNION corpus using the SAME scratch
    artifacts.  Union == the full embeddings table, so `n_batch` and
    `n_index` are SQL-anchored: `n_missing` = rows the fold lost,
    `n_extra` = rows it invented/duplicated, `n_mismatch` = rows whose
    cell or codes drifted (a fold encoding against the wrong codebooks)
    — all must be 0.

    Plan: the fold is the batch-linear path under test; the rebuild and
    the audit join are check-only costs (the codebook_update_check
    class: the gate pays for its own independent expectation)."""
    from pyspark_kmeans_spark.functions.persist import release_persisted
    from pyspark_kmeans_spark.operators.similarity import (
        append_pq_index,
        ensure_codebook_table,
        ensure_pq_index_table,
        ensure_residual_pq_codebook,
        pq_index_frame,
    )

    release_persisted()
    with _scratch_corpus(spark, "pq_index_update_check", sf_dir) as (_, scratch_sf):
        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") % PQ_INDEX_UPDATE_BATCH_MOD != 0)
        batch = emb.filter(F.col("vec_id") % PQ_INDEX_UPDATE_BATCH_MOD == 0)
        corpus.write.mode("overwrite").parquet(
            os.path.join(scratch_sf, "embeddings.parquet")
        )
        n_batch = batch.count()
        ensure_pq_index_table(spark, scratch_sf)
        append_pq_index(spark, scratch_sf, batch)
        folded = ensure_pq_index_table(spark, scratch_sf)
        centroids = ensure_codebook_table(spark, scratch_sf, n_cells=16, seed=1)
        books = ensure_residual_pq_codebook(spark, scratch_sf)
        expected = pq_index_frame(emb, centroids, books).select(
            "vec_id",
            F.col("cell").alias("_ce"),
            F.col("codes").alias("_de"),
        )
        audit = folded.select(
            "vec_id", F.col("cell").alias("_cf"), F.col("codes").alias("_df")
        ).join(expected, on="vec_id", how="full_outer")
        result = audit.agg(
            F.lit(n_batch).cast("bigint").alias("n_batch"),
            F.sum(F.when(F.col("_cf").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_index"),
            F.sum(F.when(F.col("_cf").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing"),
            F.sum(F.when(F.col("_ce").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_extra"),
            F.sum(
                F.when(
                    F.col("_cf").isNotNull()
                    & F.col("_ce").isNotNull()
                    & (
                        (F.col("_cf") != F.col("_ce"))
                        | (F.col("_df") != F.col("_de"))
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_mismatch"),
        )
        # Materialize eagerly: the returned plan must not depend on the
        # scratch files _scratch_corpus deletes on exit.
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)


QUALITY_ACC_FLOOR = 0.9  # tests pin ≥0.95 at sf0.001; driver floor has margin


def q_quality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable twin of `quality_classifier` (rows-only: iterative
    LBFGS fit).  The separability claim the invariant test pins — the
    hashing-trick classifier learns the deterministic text-derived weak
    label — becomes a driver-hashable boolean: train-set accuracy ≥ 0.9.
    `n_docs` / `n_pos` anchor the corpus and the label itself (the oracle
    recomputes the token-membership label in SQL, so a tokenization drift
    between the label and the oracle's reading of it also goes red)."""
    from pyspark_kmeans_spark.ml.quality import (
        score_quality,
        train_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    label = F.array_contains(F.split(F.lower("text"), "\\s+"), "spark")
    model = train_quality_classifier(docs, label)
    scored = score_quality(model, docs)
    audited = scored.join(
        docs.select("doc_id", label.cast("int").alias("_y")), on="doc_id"
    )
    return audited.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_y").cast("bigint").alias("n_pos"),
        (
            F.avg(
                (F.col("predicted_label") == F.col("_y")).cast("double")
            )
            >= F.lit(QUALITY_ACC_FLOOR)
        ).alias("train_accuracy_ok"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "approx_aggs_check": q_approx_aggs_check,
    "distinct_rollup_check": q_distinct_rollup_check,
    "dedup_lsh_recall": q_dedup_lsh_recall,
    "dedup_simhash_recall": q_dedup_simhash_recall,
    "ann_recall_check": q_ann_recall_check,
    "pq_recall_check": q_pq_recall_check,
    "ivfpq_recall_check": q_ivfpq_recall_check,
    "kmeans_check": q_kmeans_check,
    "embedding_pca2_exact": q_embedding_pca2_exact,
    "semdedup_check": q_semdedup_check,
    "bpe_check": q_bpe_check,
    "quality_check": q_quality_check,
    "incremental_lsh_check": q_incremental_lsh_check,
    "lsh_twowave_check": q_lsh_twowave_check,
    "daily_ingest_check": q_daily_ingest_check,
    "codebook_check": q_codebook_check,
    "codebook_update_check": q_codebook_update_check,
    "incremental_semdedup_check": q_incremental_semdedup_check,
    "streaming_ingest_check": q_streaming_ingest_check,
    "keep_best_lsh_check": q_keep_best_lsh_check,
    "pairs_update_check": q_pairs_update_check,
    "pq_index_update_check": q_pq_index_update_check,
    "daily_ingest_semantic_check": q_daily_ingest_semantic_check,
}


ORACLES: dict[str, str] = {
    "approx_aggs_check": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 6)
                   AS exact_median_price,
               TRUE AS parts_in_bounds,
               TRUE AS median_in_bounds
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "distinct_rollup_check": """
        SELECT event_type,
               epoch_us(date_trunc('week', CAST(ts AS TIMESTAMP))) AS week_us,
               COUNT(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)))
                   AS n_days_merged,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS in_bounds
        FROM events
        GROUP BY 1, 2
    """,
    "dedup_lsh_recall": """
        WITH toks AS (
            SELECT doc_id, lang,
                   list_distinct(regexp_split_to_array(trim(text), '[ \\t\\n]+')) AS t
            FROM documents
        )
        SELECT COUNT(*) AS n_exact_pairs, TRUE AS recall_ok
        FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.t, b.t))) >= 0.9
    """,
    "dedup_simhash_recall": """
        WITH toks AS (
            SELECT doc_id, lang,
                   list_distinct(regexp_split_to_array(trim(text), '[ \\t\\n]+')) AS t
            FROM documents
        )
        SELECT COUNT(*) AS n_exact_pairs,
               TRUE AS hamming_complete_ok,
               TRUE AS jaccard_floor_ok
        FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.t, b.t))) >= 0.9
    """,
    "semdedup_check": """
        SELECT COUNT(*) AS n_vectors,
               CAST(0 AS BIGINT) AS n_kept_mismatch
        FROM embeddings
    """,
    # The first BPE merge is the argmax over word-frequency-weighted
    # adjacent character pairs — SQL-expressible, so the oracle computes
    # it for real (tie-break mirrors bpe.py: count desc, left asc,
    # right asc).  Token split matches the dedup oracles' convention.
    "bpe_check": r"""
        WITH words AS (
            SELECT w, COUNT(*) AS n_words
            FROM (SELECT unnest(regexp_split_to_array(trim(text),
                                                      '[ \t\n]+')) AS w
                  FROM documents)
            WHERE w <> ''
            GROUP BY w
        ),
        pairs AS (
            SELECT pr[1:1] AS left_sym, pr[2:] AS right_sym,
                   CAST(SUM(n_words) AS BIGINT) AS pair_count
            FROM (SELECT regexp_split_to_array(w, '') AS s, n_words
                  FROM words),
                 unnest([s[i] || s[i + 1]
                         for i in range(1, len(s))]) AS t(pr)
            GROUP BY 1, 2
        )
        SELECT (SELECT COUNT(*) FROM words) AS n_distinct_words,
               left_sym AS first_left,
               right_sym AS first_right,
               pair_count AS first_count,
               TRUE AS merges_wellformed_ok
        FROM pairs
        ORDER BY pair_count DESC, left_sym ASC, right_sym ASC
        LIMIT 1
    """,
    "quality_check": r"""
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN list_contains(
                        regexp_split_to_array(lower(text), '[ \t\n]+'),
                        'spark') THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               TRUE AS train_accuracy_ok
        FROM documents
    """,
    # constants interpolated from the same names the Spark side uses, so a
    # parameter change cannot silently de-sync the oracle
    "ann_recall_check": None,  # filled below (needs PROBE_MODULUS import)
    "kmeans_check": f"""
        SELECT COUNT(*) AS n_vectors,
               {KMEANS_CHECK_K} AS n_clusters,
               CAST(0 AS BIGINT) AS n_assign_mismatch
        FROM embeddings
    """,
    "embedding_pca2_exact": """
        WITH terms AS (
            SELECT ROUND(CAST(embedding[1] AS DOUBLE), 6) AS _x,
                   ROUND(CAST(embedding[2] AS DOUBLE), 6) AS _y,
                   ROUND(CAST(embedding[1] AS DOUBLE)
                         * CAST(embedding[1] AS DOUBLE), 6) AS _xx,
                   ROUND(CAST(embedding[2] AS DOUBLE)
                         * CAST(embedding[2] AS DOUBLE), 6) AS _yy,
                   ROUND(CAST(embedding[1] AS DOUBLE)
                         * CAST(embedding[2] AS DOUBLE), 6) AS _xy
            FROM embeddings
        ), m AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(_x  AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(_y  AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(_xx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(_yy AS DECIMAL(18,6))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(_xy AS DECIMAL(18,6))) AS DOUBLE) AS sxy
            FROM terms
        ), cov AS (
            SELECT (sxx - sx * sx / n) / n AS a,
                   (syy - sy * sy / n) / n AS c,
                   (sxy - sx * sy / n) / n AS b
            FROM m
        ), eig AS (
            SELECT ((a + c) + sqrt((a - c) * (a - c) + 4.0 * b * b)) / 2.0 AS l1,
                   ((a + c) - sqrt((a - c) * (a - c) + 4.0 * b * b)) / 2.0 AS l2
            FROM cov
        )
        SELECT 1 AS component, ROUND(l1, 6) AS eigenvalue,
               ROUND(l1 / (l1 + l2), 6) AS explained_ratio FROM eig
        UNION ALL
        SELECT 2 AS component, ROUND(l2, 6) AS eigenvalue,
               ROUND(l2 / (l1 + l2), 6) AS explained_ratio FROM eig
    """,
}


def _ann_recall_oracle() -> str:
    from pyspark_kmeans_spark.operators.similarity import PROBE_MODULUS

    return f"""
        SELECT {ANN_CHECK_K} * COUNT(*) AS n_exact_pairs,
               TRUE AS ivf_recall_ok,
               TRUE AS lsh_recall_ok
        FROM embeddings
        WHERE vec_id % {PROBE_MODULUS} = 0
    """


ORACLES["ann_recall_check"] = _ann_recall_oracle()


def _pq_recall_oracle() -> str:
    from pyspark_kmeans_spark.operators.similarity import PROBE_MODULUS

    return f"""
        SELECT {ANN_CHECK_K} * COUNT(*) AS n_exact_pairs,
               TRUE AS pq_recall_ok
        FROM embeddings
        WHERE vec_id % {PROBE_MODULUS} = 0
    """


ORACLES["pq_recall_check"] = _pq_recall_oracle()


def _ivfpq_recall_oracle() -> str:
    from pyspark_kmeans_spark.operators.similarity import PROBE_MODULUS

    return f"""
        SELECT {ANN_CHECK_K} * COUNT(*) AS n_exact_pairs,
               TRUE AS ivfpq_recall_ok
        FROM embeddings
        WHERE vec_id % {PROBE_MODULUS} = 0
    """


ORACLES["ivfpq_recall_check"] = _ivfpq_recall_oracle()


def _incremental_lsh_check_oracle() -> str:
    from pyspark_kmeans_spark.operators.dedup import INCREMENTAL_BATCH_MOD

    return f"""
        SELECT COUNT(*) AS n_batch,
               CAST(0 AS BIGINT) AS n_kept_mismatch
        FROM documents
        WHERE doc_id % {INCREMENTAL_BATCH_MOD} = 0
    """


ORACLES["incremental_lsh_check"] = _incremental_lsh_check_oracle()


# SCALE BOUND: n_kept_mismatch = 0 is conditional on no (band, bucket)
# group exceeding the 5000-member cap (see q_lsh_twowave_check docstring);
# n_over_cap_buckets = 0 pins that precondition explicitly, so a red hash
# on a flooded corpus is attributable to the documented bound, not a
# regression.  Both zeros hold at every tested sf (0.001-0.1; largest
# observed bucket ≪ cap).
ORACLES["lsh_twowave_check"] = """
    SELECT COUNT(*) AS n_docs,
           CAST(0 AS BIGINT) AS n_kept_mismatch,
           CAST(0 AS BIGINT) AS n_over_cap_buckets
    FROM documents
"""


def _daily_ingest_check_oracle() -> str:
    """Replays the exact-digest dedup stage in SQL (the daily_ingest
    oracle's spelling: raw-text md5, corpus anti-join, lowest-id winner)
    and asserts the two LSH-side invariants as literal zeros — the driver
    hash goes red if either the anchors or the zero-mismatch booleans
    drift.

    SCALE BOUND (ADVICE r6 #2): n_lsh_kept_not_in_exact = 0 rests on LSH
    recalling every EXACT duplicate (identical text ⇒ identical MinHash
    signature ⇒ same bucket in every band, so wave 1's bucket-min pairing
    always surfaces a partner — recall of j=1.0 pairs is structural, not
    probabilistic) AND on the batch's exact-dup groups not exceeding the
    incremental path's bucket cap.  On a corpus where one identical
    boilerplate text floods past the cap, this zero can legitimately
    break with no code defect; the lsh_twowave_check twin carries the
    explicit n_over_cap_buckets witness for that regime."""
    from pyspark_kmeans_spark.operators.ingest import DAILY_BATCH_MOD

    return f"""
        WITH batch AS (
            SELECT doc_id, md5(text) AS digest FROM documents
            WHERE doc_id % {DAILY_BATCH_MOD} = 0
        ),
        corpus AS (
            SELECT DISTINCT md5(text) AS digest FROM documents
            WHERE doc_id % {DAILY_BATCH_MOD} <> 0
        ),
        fresh AS (
            SELECT b.* FROM batch b LEFT JOIN corpus c USING (digest)
            WHERE c.digest IS NULL
        ),
        kept AS (SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY digest)
        SELECT (SELECT COUNT(*) FROM batch) AS n_batch,
               (SELECT COUNT(*) FROM kept) AS n_kept_exact,
               CAST(0 AS BIGINT) AS n_lsh_kept_not_in_exact,
               CAST(0 AS BIGINT) AS n_total_mismatch
    """


ORACLES["daily_ingest_check"] = _daily_ingest_check_oracle()


# balance_ok = TRUE rests on IVF_SKEW_LIMIT (see q_codebook_check: honest
# skew 2.82 at sf0.01 / 1.29 at sf0.1 vs limit 8.0); balance_vs_fit_ok =
# TRUE rests on IVF_REL_DRIFT_LIMIT (honest current/fit ratio ≈ 1.0 —
# the routed corpus is the fit split plus the 20% batch — vs limit 3.0).
# A red hash here means the persisted codebook no longer balances the
# corpus (the drift condition the check exists to surface), not a
# pipeline defect.
ORACLES["codebook_check"] = """
    SELECT COUNT(*) AS n_vectors,
           16 AS n_cells,
           TRUE AS balance_ok,
           TRUE AS balance_vs_fit_ok
    FROM embeddings
"""


# SCALE BOUND: n_lsh_kept_not_in_exact = 0 rests on LSH missing no exact
# edge — per-edge banding recall ≈0.989 (zero misses on this corpus) AND
# no (band, bucket) group past the 5000-member cap (a dropped hot bucket
# also deletes edges); n_over_cap_buckets = 0 pins the second
# precondition explicitly, so a red row on a boilerplate-flooded corpus
# is attributable to the documented cap.  See q_keep_best_lsh_check's
# docstring for why merges cannot break the subset, only splits can.
ORACLES["keep_best_lsh_check"] = """
    SELECT COUNT(*) AS n_docs,
           CAST(0 AS BIGINT) AS n_lsh_kept_not_in_exact,
           CAST(0 AS BIGINT) AS n_over_cap_buckets
    FROM documents
"""


# n_kept_mismatch = 0 is the stream==batch-fold equality (identical
# primitives over identical slices in the stream's own order — exact, not
# scale-bounded: both sides share the same bucket-cap behavior).  The
# compaction columns are exact contract equalities: 2 dirs below up_to=2,
# digest-identical state reads before/after/after-rerun, and a re-run
# that garbage-collects nothing.
ORACLES["streaming_ingest_check"] = """
    SELECT COUNT(*) AS n_docs,
           3 AS n_batches,
           CAST(0 AS BIGINT) AS n_kept_mismatch,
           2 AS n_compacted_dirs,
           CAST(0 AS BIGINT) AS n_compaction_mismatch,
           0 AS n_recompact_victims
    FROM documents
"""


def _codebook_update_check_oracle() -> str:
    """The two zeros are exact closed-form equalities (see
    q_codebook_update_check's tolerance note: 1e-6 sits 6 orders above
    double partial-sum noise and 4 below the update magnitude), and the
    anchors are SQL-recomputable from the same split constant."""
    from pyspark_kmeans_spark.operators.similarity import IVF_BATCH_MOD

    return f"""
        SELECT COUNT(*) AS n_batch,
               16 AS n_cells,
               CAST(0 AS BIGINT) AS n_centroid_mismatch,
               CAST(0 AS BIGINT) AS n_count_mismatch
        FROM embeddings
        WHERE vec_id % {IVF_BATCH_MOD} = 0
    """


ORACLES["codebook_update_check"] = _codebook_update_check_oracle()


def _pq_index_update_check_oracle() -> str:
    """The three zeros are exact frame equalities (fold and rebuild run
    the same deterministic pq_index_frame expression against the same
    persisted artifacts — no tolerance needed); the anchors are
    SQL-recomputable from the split constant.  A duplicated fold (torn
    append replayed) inflates n_index past COUNT(*), so exactly-once
    violations are caught by the anchor even when content matches."""
    return f"""
        SELECT CAST(SUM(CASE WHEN vec_id % {PQ_INDEX_UPDATE_BATCH_MOD} = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
               COUNT(*) AS n_index,
               CAST(0 AS BIGINT) AS n_missing,
               CAST(0 AS BIGINT) AS n_extra,
               CAST(0 AS BIGINT) AS n_mismatch
        FROM embeddings
    """


ORACLES["pq_index_update_check"] = _pq_index_update_check_oracle()


def _incremental_semdedup_check_oracle() -> str:
    """n_kept_mismatch = 0 is exact (same routing, same rounded cosine
    contract, independent aggregate shape — no scale bound: both sides
    see the identical candidate sets)."""
    from pyspark_kmeans_spark.operators.similarity import IVF_BATCH_MOD

    return f"""
        SELECT COUNT(*) AS n_batch,
               CAST(0 AS BIGINT) AS n_kept_mismatch
        FROM embeddings
        WHERE vec_id % {IVF_BATCH_MOD} = 0
    """


ORACLES["incremental_semdedup_check"] = _incremental_semdedup_check_oracle()


def _pairs_update_check_oracle() -> str:
    """Fully hash-checked: the union corpus (80% scratch + 20% batch) IS
    the raw documents table, so the oracle re-mines the expected edge
    count in SQL at the graph threshold; the two zeros are exact (both
    engines enumerate the same exact-Jaccard pair set — no scale bound)."""
    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs_sql
    from pyspark_kmeans_spark.operators.graph import GRAPH_PAIR_THRESHOLD

    return f"""
        SELECT (SELECT COUNT(*) FROM documents
                WHERE doc_id % {PAIRS_UPDATE_BATCH_MOD} = 0) AS n_batch,
               (SELECT COUNT(*)
                FROM ({jaccard_pairs_sql(GRAPH_PAIR_THRESHOLD)})) AS n_pairs,
               CAST(0 AS BIGINT) AS n_missing,
               CAST(0 AS BIGINT) AS n_extra
    """


ORACLES["pairs_update_check"] = _pairs_update_check_oracle()


def _daily_ingest_semantic_check_oracle() -> str:
    """n_batch and the exact-digest stage replay in SQL; the four zeros
    are the chain-precedence, LSH-interaction (conditional on the
    over-cap witness, which is itself one of the zeros) and semantic
    greedy-rule equalities — see q_daily_ingest_semantic_check."""
    from pyspark_kmeans_spark.operators.ingest import DAILY_BATCH_MOD

    return f"""
        WITH batch AS (
            SELECT doc_id, md5(text) AS digest
            FROM documents WHERE doc_id % {DAILY_BATCH_MOD} = 0
        ), kept1 AS (
            SELECT doc_id FROM batch
            WHERE digest NOT IN (
                SELECT md5(text) FROM documents
                WHERE doc_id % {DAILY_BATCH_MOD} != 0
            )
            QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY digest)
        )
        SELECT (SELECT COUNT(*) FROM batch) AS n_batch,
               (SELECT COUNT(*) FROM kept1) AS n_kept_digest,
               CAST(0 AS BIGINT) AS n_chain_violation,
               CAST(0 AS BIGINT) AS n_lsh_chain_mismatch,
               CAST(0 AS BIGINT) AS n_semantic_mismatch,
               CAST(0 AS BIGINT) AS n_index_mark_mismatch,
               CAST(0 AS BIGINT) AS n_over_cap_buckets
    """


ORACLES["daily_ingest_semantic_check"] = _daily_ingest_semantic_check_oracle()
