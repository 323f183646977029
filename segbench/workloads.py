"""The benchmark's workloads.  Each is a closed loop: one caller runs a
pass to completion, checks its output, then starts the next.

A workload names its input family and size, the layers its traced run
wraps (keys of ``layers.LAYERS``), the write-once artifacts it builds in
set-up, whether a warm-up pass precedes timing, and one pass, which
returns the digest of its checked output.  Engine calls go through
module attributes so the tracer's wrappers are the ones called.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import pyarrow.parquet as pq

import checks

ANN_K = 5


class Context:
    """What a pass needs: the session, the tracer (None when untraced),
    the generator's plan and expectations derived from the inputs."""

    def __init__(self, spark, plan: dict):
        self.spark = spark
        self.plan = plan
        self.tracer = None
        self.expect: dict = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


def force(ctx: Context, name: str, df, *aggs):
    """Run a registered query's plan into the noop sink, as the engine's
    own bench forces queries, and return aggregates observed on the way,
    so the check needs no second execution."""
    from pyspark.sql import Observation

    obs = Observation(name.replace(".", "_"))
    with ctx.span(f"{name}.run"):
        df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _row_hash(*cols):
    """Order-independent digest of the rows' values."""
    from pyspark.sql import functions as F

    return F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))).alias("h")


class CurateCorpus:
    """Whole-corpus curation: the LSH near-dup keep set, the leakage-safe
    split (connected components over the persisted near-dup pair table)
    and IVF top-k (a k-means refit on every call).  A long-lived session
    serves these queries, so the pass is timed warm."""

    name = "curate_corpus"
    family = "corpus"
    size = 500
    warm_up = True
    wrapped = [
        "dedup.q_dedup_lsh_kept", "dedup.near_dup_clusters", "analytics.q_split_leakage_safe",
        "similarity.q_ann_ivf_topk", "graph.ensure_pairs_table", "ml.kmeans.fit_kmeans",
    ]

    def prepare(self, ctx: Context, data_dir: str) -> None:
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id"])
        ctx.expect["doc_ids"] = docs.column("doc_id").to_pylist()
        ctx.expect["n_probes"] = sum(1 for d in ctx.expect["doc_ids"] if d % 10 == 0)

    def build(self, ctx: Context, data_dir: str) -> None:
        from pyspark_kmeans_spark.operators import graph

        graph.ensure_pairs_table(ctx.spark, data_dir, threshold=graph.GRAPH_PAIR_THRESHOLD)
        ctx.expect["pairs_path"] = graph._graph_state_paths(
            data_dir, graph.GRAPH_PAIR_THRESHOLD)[0]

    def run_pass(self, ctx: Context, data_dir: str, pass_dir: str) -> str:
        from pyspark.sql import functions as F

        from pyspark_kmeans_spark.operators import analytics, dedup, similarity

        spark = ctx.spark
        doc_ids = ctx.expect["doc_ids"]
        planted = sum(len(ctx.plan[k]) for k in ("exact", "exact_batch", "near"))
        kept = force(ctx, "dedup.q_dedup_lsh_kept", dedup.q_dedup_lsh_kept(spark, data_dir),
                     F.count(F.lit(1)).alias("n"), _row_hash("doc_id"))
        d1 = checks.check_kept(kept["n"], len(doc_ids), kept["h"], planted)

        split = force(ctx, "analytics.q_split_leakage_safe",
                      analytics.q_split_leakage_safe(spark, data_dir),
                      F.collect_list(F.struct("split", "n_docs", "n_groups", "n_docs_moved"))
                      .alias("rows"))
        pairs = pq.read_table(ctx.expect["pairs_path"], columns=["doc_a", "doc_b"])
        d2 = checks.check_split(
            [r.asDict() for r in split["rows"]], doc_ids,
            list(zip(pairs.column("doc_a").to_pylist(), pairs.column("doc_b").to_pylist())),
        )

        bad = ((F.col("cosine") < -1.000001) | (F.col("cosine") > 1.000001)
               | (F.col("rank") < 1) | (F.col("rank") > ANN_K))
        topk = force(ctx, "similarity.q_ann_ivf_topk", similarity.q_ann_ivf_topk(spark, data_dir),
                     F.count(F.lit(1)).alias("n"),
                     F.sum((F.col("rank") == 1).cast("int")).alias("rank1"),
                     F.sum(bad.cast("int")).alias("bad"),
                     _row_hash("probe_id", "neighbor_id", "rank", "cosine"))
        d3 = checks.check_topk(topk["n"], topk["rank1"], ctx.expect["n_probes"], ANN_K,
                               topk["bad"], topk["h"])
        return checks.digest([d1, d2, d3])


class Segment:
    """The paper's program: five CSVs → features → k-means scan k=2..6
    scored by silhouette → results CSV, report and saved models.  It is a
    one-shot batch job: every user run starts a fresh JVM, so the pass is
    timed cold, with no warm-up pass before it."""

    name = "segment"
    family = "reference"
    size = 500
    warm_up = False
    wrapped = [
        "pipeline.run", "ml.features.prepare_features", "ml.kmeans.kmeans_scan",
        "ml.kmeans.fit_kmeans", "ml.kmeans.silhouette_score",
    ]

    def prepare(self, ctx: Context, data_dir: str) -> None:
        """The checks need nothing from the inputs beforehand."""

    def build(self, ctx: Context, data_dir: str) -> None:
        """The program persists no artifact between runs."""

    def run_pass(self, ctx: Context, data_dir: str, pass_dir: str) -> str:
        from pyspark_kmeans_spark import pipeline

        results = os.path.join(pass_dir, "clustering_results.csv")
        out = pipeline.run(ctx.spark, pipeline.PipelineConfig(
            data_dir=data_dir, results_path=results,
            models_dir=os.path.join(pass_dir, "models"), k_min=2, k_max=6,
        ))
        digest = checks.check_segment(results, 2, 6, out["best_k"])
        shutil.rmtree(os.path.join(pass_dir, "models"), ignore_errors=True)
        return digest


WORKLOADS = {w.name: w for w in (CurateCorpus(), Segment())}
