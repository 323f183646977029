"""Range-sorted table layout: parquet min/max data skipping as a recorded
query — the third layout lever next to bucketing (sources/bucketed.py,
join-shuffle elimination) and Hive partitioning (sources/partitioned.py,
directory pruning).

Hive partitioning prunes by DIRECTORY; for high-cardinality sort keys
(timestamps) the same effect comes from clustering the data so each file
and row group covers a narrow, disjoint key range — then every parquet
footer's column min/max statistics let a pushed range predicate skip whole
files/row groups without decoding a page.  `repartitionByRange` (one
range-shuffle at layout time) + `sortWithinPartitions` produces exactly
that layout — the single-dimension form of Z-order clustering, and the
right default when one column dominates the predicates.

The registered query reads a narrow shipdate window from the sorted copy;
its values must equal the plain-parquet oracle (layout never changes
results), and tests/test_sorted_layout.py asserts the structural claim
directly from the parquet footers: per-file shipdate ranges are disjoint,
so the window predicate can touch at most ~window/total of the files.
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

SORT_FILES = 16  # layout-time range partitions ≈ files; sized so each file
# covers ~5 months of the 7-year shipdate span at any SF


def ensure_shipdate_sorted_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialize (once per sf_dir) lineitem range-clustered on l_shipdate
    and return it; range predicates on shipdate then skip on footer stats."""
    return ensure_artifact(
        spark,
        artifact_path("lineitem_byship", sf_dir, n_buckets=SORT_FILES),
        lambda path: load_table(spark, sf_dir, "lineitem")
        .repartitionByRange(SORT_FILES, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path),
    )


def q_sorted_shipdate_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag over one shipdate month, read from the
    range-sorted layout: the pushed shipdate range matches at most 1-2 of
    the 16 range-disjoint files (footer min/max skipping), then one
    bounded-key aggregation.  Values identical to the plain-parquet oracle
    by construction."""
    li = ensure_shipdate_sorted_lineitem(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.filter(
            # timestamp literals (not to_date(col)) so the range predicate
            # stays a pushable comparison on the raw scan column
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            decimal_sum(revenue).alias("revenue"),
        )
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sorted_shipdate_window": q_sorted_shipdate_window,
}

ORACLES: dict[str, str] = {
    "sorted_shipdate_window": """
        SELECT l_returnflag,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-03-01'
          AND CAST(l_shipdate AS TIMESTAMP) <  TIMESTAMP '1997-04-01'
        GROUP BY l_returnflag
    """,
}
