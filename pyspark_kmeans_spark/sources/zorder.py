"""Z-order (Morton-curve) multi-column layout: parquet min/max skipping on
TWO predicate columns at once — the fourth layout lever next to bucketing
(join-shuffle elimination), Hive partitioning (directory pruning), and
single-column range clustering (sources/sorted_layout.py).

Range-sorting on one column makes its per-file min/max ranges disjoint but
leaves every OTHER column's range as wide as the table — a query filtering
on (customer, date) skips nothing when the table is date-sorted and the
customer predicate is selective.  Interleaving the bits of both columns'
rank buckets (the Morton/Z curve; the technique behind Delta Lake's
OPTIMIZE ZORDER BY) and range-clustering on the interleaved value gives
every file a narrow span in BOTH dimensions, so footer statistics skip
files for predicates on either column or both.

Layout-time cost is one range shuffle (identical to the single-column
form); it is write-once, amortized over every later read.  The registered
query reads a (custkey-band AND date-window) slice from the z-ordered copy;
values must equal the plain-parquet oracle (layout never changes results),
and tests/test_zorder.py asserts the structural claim from the parquet
footers: per-file spans in BOTH o_custkey and o_orderdate are fractions of
the global span, where a single-column sort would leave the other
dimension's span at ~100%.

Scale shape: bucket bounds come from one 1-row min/max aggregate (a
broadcast scalar at WRITE time only — the read path is a plain parquet
scan), the z-value is pure bit arithmetic inside whole-stage codegen, and
`repartitionByRange` samples the z distribution so skew in either raw
column cannot unbalance the files.  At 100 TB this is the ingestion-job
layout for any fact table with two independent selective predicate columns.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_kmeans_spark.functions.exact import decimal_sum
from pyspark_kmeans_spark.functions.warehouse_memo import (
    artifact_path,
    ensure_artifact,
)
from pyspark_kmeans_spark.sources.tables import load_table

Z_BITS = 8  # 256 rank buckets per dimension -> 16-bit z-value
Z_FILES = 16  # layout-time range partitions ~= files (2 bits of each dim)

DATE_EPOCH = "1990-01-01"  # any date below the domain; only spacing matters


def _bucketize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map col from [lo, hi] onto integer buckets [0, 2^bits); constant
    columns (hi == lo) all land in bucket 0 via the span guard."""
    n = 1 << bits
    span = F.greatest(hi - lo + F.lit(1), F.lit(1))
    raw = F.floor((col - lo).cast("double") * F.lit(n) / span.cast("double"))
    return F.least(raw, F.lit(n - 1)).cast("int")


def _interleave(a: Column, b: Column, bits: int) -> Column:
    """Morton-interleave two bucket ids: bit i of `a` lands at 2i+1, bit i
    of `b` at 2i — pure shift/mask expressions, whole-stage codegen."""
    z = F.lit(0)
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def ensure_zordered_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize (once per sf_dir) orders z-ordered on
    (o_custkey, o_orderdate) and return it; point/range predicates on
    EITHER column then skip files on footer stats."""

    def write(path: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        days = F.datediff(F.col("o_orderdate"), F.lit(DATE_EPOCH))
        bounds = orders.agg(
            F.min("o_custkey").alias("_klo"),
            F.max("o_custkey").alias("_khi"),
            F.min(days).alias("_dlo"),
            F.max(days).alias("_dhi"),
        )
        z = _interleave(
            _bucketize(F.col("o_custkey"), F.col("_klo"), F.col("_khi"), Z_BITS),
            _bucketize(days, F.col("_dlo"), F.col("_dhi"), Z_BITS),
            Z_BITS,
        )
        (
            orders.crossJoin(F.broadcast(bounds))  # 1-row scalar, write-time only
            .withColumn("_z", z)
            .repartitionByRange(Z_FILES, "_z")
            .sortWithinPartitions("_z")
            .drop("_klo", "_khi", "_dlo", "_dhi", "_z")
            .write.mode("overwrite")
            .parquet(path)
        )

    return ensure_artifact(
        spark, artifact_path("orders_zorder", sf_dir, n_buckets=Z_FILES), write
    )


# Static slice literals (must match the oracle verbatim): a fixed customer
# band x a 2-year window.  The band sits inside the custkey domain at every
# SF (domains are 0..149/0..1499/0..14999), so the query is non-empty at
# sf0.001 and grows MORE selective as the table grows — the realistic shape
# for a fixed-entity predicate on a growing fact table.
ZQ_CUST_LO, ZQ_CUST_HI = 25, 125
ZQ_DATE_LO, ZQ_DATE_HI = "1996-01-01", "1998-01-01"


def q_zorder_cust_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order counts and spend for one customer band in one
    date window, read from the z-ordered layout: both predicates reach the
    scan pushed (plan-pinned), and the footer stats bound every file in
    both dimensions, so most files never decode a page.  Values identical
    to the plain-parquet oracle by construction."""
    orders = ensure_zordered_orders(spark, sf_dir)
    return (
        orders.filter(
            (F.col("o_custkey") >= ZQ_CUST_LO)
            & (F.col("o_custkey") <= ZQ_CUST_HI)
            & (F.col("o_orderdate") >= F.lit(ZQ_DATE_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(ZQ_DATE_HI).cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            decimal_sum(F.col("o_totalprice")).alias("total_spend"),
        )
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "zorder_cust_window": q_zorder_cust_window,
}

ORACLES: dict[str, str] = {
    "zorder_cust_window": f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_spend
        FROM orders
        WHERE o_custkey BETWEEN {ZQ_CUST_LO} AND {ZQ_CUST_HI}
          AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '{ZQ_DATE_LO}'
          AND CAST(o_orderdate AS TIMESTAMP) <  TIMESTAMP '{ZQ_DATE_HI}'
        GROUP BY o_orderpriority
    """,
}
