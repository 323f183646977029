"""Sources: parquet table loaders and explicit-schema CSV reads.

Covers SURVEY.md §2.1 S1/S2 Spark-first:
 - S1 (explicit-schema CSV scan, utils/kmeans_utils.py:28) → ``read_csv``
   with a required schema.
 - S2 (inferSchema CSV scans ×4, utils/kmeans_utils.py:34-46) → NOT
   reproduced: inference triggers an eager extra pass over the input
   (SURVEY.md §3), a non-starter at 100 TB.  All five CSV inputs read
   through ``read_csv`` with the declared schemas in ``schemas.py``.
 - Parquet as the primary columnar source for the driver testdata, with
   column pruning and predicate pushdown handled by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_kmeans_spark.schemas import ALWAYS_BROADCAST_TABLES, TESTDATA_TABLES


def normalize_event_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Adapt events.ts to plain TimestampType whatever the parquet footer
    says — the driver has shipped TIMESTAMP(NANOS) in some rounds and
    TIMESTAMP(MICROS) in others.  Shared by the batch loader and the
    streaming reader so the two paths cannot drift.

    NANOS is rejected by Spark's reader unless nanosAsLong is on; set it at
    read time — the caller (e.g. the verify driver) may hand us an untuned
    session.  The session-level mutation is deliberate and one-way: the
    conf is consulted lazily at scan planning, so "restoring" it after this
    call would corrupt the returned (lazy) DataFrame."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # long-ns → timestamp; integer DIV (not /) because ns epochs
        # exceed double's 2^53 mantissa.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        # Session tz is pinned UTC, so NTZ→TZ keeps the wall clock AND
        # the instant; downstream code expects plain TimestampType.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    broadcast_hint: bool = False,
) -> DataFrame:
    """Read one driver parquet table; optionally tag it broadcast-able."""
    if name == "events":
        # The conf must be on BEFORE the read: footer schema resolution is
        # eager and rejects TIMESTAMP(NANOS) without it.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(
            spark, spark.read.parquet(f"{sf_dir}/{name}.parquet")
        )
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if broadcast_hint or name in ALWAYS_BROADCAST_TABLES:
        # region/nation have a bounded row count at any scale factor, so the
        # broadcast hint is safe even at 100 TB fact-table scale.
        df = F.broadcast(df)
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Input-skew fix (optimization guide §2.5): round-robin repartition a
    frame whose scan yields FEWER partitions than the session's default
    parallelism, so expression-heavy map work is not serialized onto one
    or two tasks.  The driver testdata tables are single-file/single-
    row-group parquet — unsplittable below one task per file no matter
    the split config — so at bench SFs every per-row pipeline above them
    ran on ONE core.

    SCALE-ADAPTIVE BY CONSTRUCTION, not a local-mode constant: the
    condition compares the frame's actual scan partitioning against
    ``defaultParallelism``; a 100 TB table scans as thousands of splits,
    the condition is false, and the frame is returned untouched — no
    corpus-wide shuffle is ever introduced at scale.  The repartition
    count is the session's own parallelism, not a tuned number.

    Two restrictions, both measured in round 12 (OPTIMIZATION_r12.md):

    - ONLY for consumers whose results are partitioning-independent
      (per-row exact arithmetic, integer/rounded-decimal aggregates,
      set-semantics outputs).  Never ahead of an MLlib k-means fit
      (ivf/semantic/codebook paths): centroid updates sum doubles in
      partition order, so respread input perturbs centroids by ulps and
      changes downstream assignments — those scans are load-bearing for
      bit-stability.
    - ONLY pays off for ARITHMETIC-dense per-row work (the cosine/
      hyperplane dot products: ann_topk_cosine 3.1 s → 1.6 s).  For
      allocation-heavy string/array pipelines (tokenize+MinHash, shingle
      explodes) 32 concurrently-allocating interpreted tasks are
      GC-bound: total JVM CPU rose 4-8× and wall got WORSE
      (curation_contamination 1.2 s → 1.8-6.4 s) — measured A/B solo,
      spread reverted from every dedup/curation site.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver table into a dict keyed by table name."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Explicit-schema CSV source (S1): header row, `yyyy-MM-dd HH:mm:ss`
    timestamps, no inference pass."""
    return (
        spark.read.format("csv")
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(schema)
        .load(path)
    )
