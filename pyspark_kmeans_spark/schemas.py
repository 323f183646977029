"""Explicit schemas for the CSV inputs, and the parquet table registry.

The reference hand-declares one schema and infers four
(utils/kmeans_utils.py:19-26 vs :34,40,44,46).  Schema inference costs an
extra full pass over the input — unacceptable at 100 TB — and is
nondeterministic on dirty data, so this engine declares every CSV schema.

Two families:
 A. The five reference-pipeline CSV inputs (reconstructed from the column
    references in utils/kmeans_utils.py — see FIXTURES.md §A).
 B. The names of the synthetic TPC-H-ish parquet tables (TESTDATA.md) —
    parquet carries its own schema, so none is declared here.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- A. Reference pipeline inputs (utils/kmeans_utils.py:19-26, 34-46) -----

USERS_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("userId", T.IntegerType(), True),
        T.StructField("nick", T.StringType(), True),
        T.StructField("twitter", T.StringType(), True),
        T.StructField("dob", T.DateType(), True),
        T.StructField("country", T.StringType(), True),
    ]
)

BUY_CLICKS_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("txId", T.IntegerType(), True),
        T.StructField("userSessionId", T.IntegerType(), True),
        T.StructField("team", T.IntegerType(), True),
        T.StructField("userId", T.IntegerType(), True),
        T.StructField("buyId", T.IntegerType(), True),
        T.StructField("price", T.DoubleType(), True),
    ]
)

GAME_CLICKS_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("clickId", T.IntegerType(), True),
        T.StructField("userId", T.IntegerType(), True),
        T.StructField("userSessionId", T.IntegerType(), True),
        T.StructField("isHit", T.IntegerType(), True),
        T.StructField("teamId", T.IntegerType(), True),
        T.StructField("teamLevel", T.IntegerType(), True),
    ]
)

USER_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("userSessionId", T.IntegerType(), True),
        T.StructField("userId", T.IntegerType(), True),
        T.StructField("teamId", T.IntegerType(), True),
        T.StructField("assignmentId", T.IntegerType(), True),
        T.StructField("sessionType", T.StringType(), True),
        T.StructField("teamLevel", T.IntegerType(), True),
        T.StructField("platformType", T.StringType(), True),
    ]
)

TEAM_SCHEMA = T.StructType(
    [
        T.StructField("teamId", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("teamCreationTime", T.TimestampType(), True),
        T.StructField("teamEndTime", T.TimestampType(), True),
        T.StructField("strength", T.DoubleType(), True),
        T.StructField("currentLevel", T.IntegerType(), True),
    ]
)

# --- B. Driver synthetic tables (TESTDATA.md / FIXTURES.md §B) --------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (their row
# counts are fixed or near-fixed: 5 regions, 25 nations).
ALWAYS_BROADCAST_TABLES = frozenset({"region", "nation"})
