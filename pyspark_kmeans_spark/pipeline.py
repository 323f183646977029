"""End-to-end segmentation pipeline — the reference program re-expressed
(reference parity: SURVEY.md §2.12 O1-O3, /root/reference/pyspark_kmeans.py).

Happy path (O1): prepare features → repartition → k-scan → save results CSV
→ text report → email with attachment.
Failure path (O2): any error → failure-notification email (WITH the
traceback — the reference sent none and noted the TODO at
pyspark_kmeans.py:42-51).
Cleanup (O3): optional spark.stop() in `finally`.

Everything is parameterized (paths, k range, seed, reference date, email
endpoints, partition count) where the reference hard-coded values.
"""

from __future__ import annotations

import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pyspark_kmeans_spark import reporting
from pyspark_kmeans_spark.ml.features import prepare_features
from pyspark_kmeans_spark.ml.kmeans import kmeans_scan, save_clustering_results
from pyspark_kmeans_spark.operators.segmentation import (
    COMPAT_FEATURES,
    COMPAT_REFERENCE_DATE,
    prepare_data,
)
from pyspark_kmeans_spark.schemas import (
    BUY_CLICKS_SCHEMA,
    GAME_CLICKS_SCHEMA,
    TEAM_SCHEMA,
    USER_SESSION_SCHEMA,
    USERS_SCHEMA,
)
from pyspark_kmeans_spark.sources.tables import read_csv


@dataclass
class PipelineConfig:
    data_dir: str
    results_path: str
    models_dir: str
    k_min: int = 2
    k_max: int = 6
    seed: int = 1
    reference_date: str = COMPAT_REFERENCE_DATE
    num_partitions: int = 0  # 0 → leave to AQE (reference hard-coded coalesce(4))
    email_sender: str = "pipeline@localhost"
    email_recipient: str = "team@localhost"
    feature_cols: list[str] = field(default_factory=lambda: list(COMPAT_FEATURES))


def scaled_features(
    spark: SparkSession, config: PipelineConfig
) -> tuple[DataFrame, list[str]]:
    """The five CSVs → joined feature table → scaled ``features`` column,
    unpersisted, with the feature names the results are labelled by."""
    d = config.data_dir
    users = read_csv(spark, f"{d}/users.csv", USERS_SCHEMA)
    buys = read_csv(spark, f"{d}/buy-clicks.csv", BUY_CLICKS_SCHEMA)
    clicks = read_csv(spark, f"{d}/game-clicks.csv", GAME_CLICKS_SCHEMA)
    sessions = read_csv(spark, f"{d}/user-session.csv", USER_SESSION_SCHEMA)
    team = read_csv(spark, f"{d}/team.csv", TEAM_SCHEMA)

    data, features = prepare_data(
        users, buys, clicks, sessions, team, config.reference_date
    )
    if config.feature_cols:
        features = config.feature_cols
    scaled, _ = prepare_features(data, features, handle_invalid="skip")
    if config.num_partitions > 0:
        scaled = scaled.coalesce(config.num_partitions)  # X1 compat
    return scaled, features


def run(
    spark: SparkSession,
    config: PipelineConfig,
    *,
    email_transport=None,
    stop_spark: bool = False,
) -> dict:
    """O1-O3.  Returns {'status', 'best_k', 'silhouette', 'report'} on
    success; sends a failure email and re-raises on error."""
    try:
        scaled, features = scaled_features(spark, config)
        result = kmeans_scan(
            scaled,
            config.k_min,
            config.k_max,
            seed=config.seed,
            models_dir=config.models_dir,
        )
        save_clustering_results(spark, result, features, config.results_path)

        # spark handle for the read-back: a scheme:// results_path was
        # written as a csv directory on shared storage, which pandas
        # cannot list.
        data_pd = reporting.load_results_csv(config.results_path, spark=spark)
        report = reporting.generate_report_text(data_pd)
        # Reference parity (pyspark_kmeans.py:33-40): the success email
        # carries the rendered report as an attachment, not only as body.
        report_path = None
        if "://" not in config.results_path:
            report_path = config.results_path + ".report.txt"
            with open(report_path, "w") as f:
                f.write(report)
        msg = reporting.generate_email(
            config.email_sender,
            config.email_recipient,
            "Kmeans Spark Scanning Completed",
            report,
            attachment_path=report_path,
        )
        if email_transport is not None:
            reporting.send_email(msg, transport=email_transport)
        return {
            "status": "ok",
            "best_k": result.best_k(),
            "silhouette": result.silhouette,
            "report": report,
        }
    except Exception:
        tb = traceback.format_exc()
        failure = reporting.generate_email(
            config.email_sender,
            config.email_recipient,
            "ERROR: Kmeans Spark Scanning Failed!",
            f"The scanning pipeline failed.\n\n{tb}",
        )
        if email_transport is not None:
            try:
                reporting.send_email(failure, transport=email_transport)
            except Exception:
                pass
        raise
    finally:
        if stop_spark:
            spark.stop()
