"""Date-partitioned table layout: partition pruning as a recorded query
(the scan-reduction counterpart to sources/bucketed.py's join-shuffle
elimination).

At 100 TB virtually every query carries a time predicate, and the single
biggest scan win is never opening the files outside the predicate's range.
Hive-style partitioning (`.partitionBy("o_month")` at write time) turns
that into directory pruning: the month filter is resolved against the
file listing (PartitionFilters in the scan node) before a single row is
read.  This module materializes a month-partitioned copy of orders once
per (session, sf_dir) — on a cluster this is the ingestion job's layout —
and registers a query over ONE month whose values the driver checks
against the plain-parquet oracle (layout must never change results);
tests/test_partitioned.py pins the PartitionFilters plan shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_kmeans_spark.functions.exact import decimal_sum
from pyspark_kmeans_spark.functions.warehouse_memo import (
    artifact_path,
    ensure_artifact,
)
from pyspark_kmeans_spark.sources.tables import load_table


def ensure_month_partitioned_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialize (once per sf_dir) orders partitioned by order month and
    return it as a DataFrame whose month filters prune at the listing."""
    # The "_b" suffix of the artifact name is a layout tag here, not a
    # bucket count.
    return ensure_artifact(
        spark,
        artifact_path("orders_bymonth", sf_dir, n_buckets=0),
        lambda path: load_table(spark, sf_dir, "orders")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.mode("overwrite")
        .partitionBy("o_month")
        .parquet(path),
    )


def q_partitioned_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority for ONE month, read from the
    month-partitioned layout: the o_month equality prunes to a single
    partition directory (PartitionFilters — zero I/O outside the month),
    then one bounded-key aggregation.  Identical values to the
    plain-parquet oracle by construction."""
    orders = ensure_month_partitioned_orders(spark, sf_dir)
    return (
        orders.filter(F.col("o_month") == "1996-03")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            decimal_sum("o_totalprice").alias("total_price"),
        )
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "partitioned_month_revenue": q_partitioned_month_revenue,
}

ORACLES: dict[str, str] = {
    "partitioned_month_revenue": """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_price
        FROM orders
        WHERE strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') = '1996-03'
        GROUP BY o_orderpriority
    """,
}
