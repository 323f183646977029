"""Per-layer metrics: which engine functions the traced run wraps, what
it reports for each, and how the spans of one run become numbers.

Names are ``<module>.<function>.<measure>``.  Function measures are self
measures: time not covered by a nested wrapped call, and the jobs and
stages of the function's own job group.  A registered query reports
``build_s``/``build_jobs`` for everything inside the query call (nested
calls included: the eager jobs it runs before it returns a DataFrame)
and ``run_s``/``run_jobs`` for the forcing sink; its stage measures cover
its own build jobs plus the sink.

Each value is the median over the run's traced passes of the per-pass
sum, except for ``SETUP_LAYERS``, whose value is the median over the
set-up repetitions, where their artifacts are built.  A layer the
workload never reaches reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

FUNC = ("self_s", "jobs", "stages", "executor_s", "gc_s", "shuffle_mb", "spill_mb")
QUERY = ("build_s", "build_jobs", "run_s", "run_jobs", "executor_s", "gc_s", "shuffle_mb",
         "spill_mb")
BRIEF = ("self_s", "jobs")
UNITS = {
    "self_s": "s", "build_s": "s", "run_s": "s", "executor_s": "s", "gc_s": "s",
    "jobs": "count", "stages": "count", "build_jobs": "count", "run_jobs": "count",
    "shuffle_mb": "MB", "spill_mb": "MB",
}

# span name -> (module under pyspark_kmeans_spark, function, measures).
LAYERS = {
    "dedup.q_dedup_lsh_kept": ("operators.dedup", "q_dedup_lsh_kept", QUERY),
    "analytics.q_split_leakage_safe": ("operators.analytics", "q_split_leakage_safe", QUERY),
    "similarity.q_ann_ivf_topk": ("operators.similarity", "q_ann_ivf_topk", QUERY),
    "dedup.near_dup_clusters": ("operators.dedup", "near_dup_clusters", FUNC),
    "graph.ensure_pairs_table": ("operators.graph", "ensure_pairs_table", BRIEF),
    "ml.kmeans.fit_kmeans": ("ml.kmeans", "fit_kmeans", FUNC),
    "ml.kmeans.silhouette_score": ("ml.kmeans", "silhouette_score", FUNC),
    "pipeline.run": ("pipeline", "run", BRIEF),
    "ml.features.prepare_features": ("ml.features", "prepare_features", BRIEF),
    "ml.kmeans.kmeans_scan": ("ml.kmeans", "kmeans_scan", BRIEF),
}
SETUP_LAYERS = {"graph.ensure_pairs_table"}
EXTRA = {
    "ml.kmeans.fit_kmeans.iterations": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _kmeans_iterations(model) -> dict:
    return {"iterations": model.summary.numIter}


ON_RESULT = {"ml.kmeans.fit_kmeans": _kmeans_iterations}


def metric_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a stable order."""
    out = {}
    for layer, (_, _, measures) in LAYERS.items():
        for m in measures:
            out[f"{layer}.{m}"] = UNITS[m]
    out.update(EXTRA)
    return out


def install(tracer, span_names: list[str]) -> None:
    for name in span_names:
        module, attr, _ = LAYERS[name]
        tracer.wrap(module, attr, name, ON_RESULT.get(name))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(result: dict, tracer, setup_phases: list[str]) -> dict[str, tuple[float, str]]:
    """name -> (value, unit) for every declared per-layer metric."""
    spans = tracer.spans
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def inclusive_jobs(rec: dict) -> int:
        return len(rec["jobs"]) + sum(inclusive_jobs(c) for c in kids[rec["id"]])

    by_phase: dict[tuple[str, str], list[dict]] = defaultdict(list)
    for s in spans:
        by_phase[(s["name"], s["phase"])].append(s)
    pass_phases = [p["phase"] for p in result["traced"]]

    values: dict[str, float] = {}
    for layer, (_, _, measures) in LAYERS.items():
        phases = setup_phases if layer in SETUP_LAYERS else pass_phases
        units = []
        for ph in phases:
            acc: dict[str, float] = defaultdict(float)
            for rec in by_phase[(layer, ph)]:
                own = tracer.self_measures(rec, kids[rec["id"]])
                if measures is QUERY:
                    acc["build_s"] += rec["end"] - rec["start"]
                    acc["build_jobs"] += inclusive_jobs(rec)
                else:
                    acc["self_s"] += own["self_s"]
                    acc["jobs"] += own["jobs"]
                    acc["stages"] += own["stages"]
                    acc["iterations"] += rec.get("iterations", 0)
                for k in ("executor_s", "gc_s", "shuffle_mb", "spill_mb"):
                    acc[k] += own[k]
            for rec in by_phase[(f"{layer}.run", ph)]:
                own = tracer.self_measures(rec, kids[rec["id"]])
                acc["run_s"] += rec["end"] - rec["start"]
                acc["run_jobs"] += own["jobs"]
                for k in ("executor_s", "gc_s", "shuffle_mb", "spill_mb"):
                    acc[k] += own[k]
            units.append(acc)
        for m in measures:
            values[f"{layer}.{m}"] = _median([u[m] for u in units])
        if layer == "ml.kmeans.fit_kmeans":
            values["ml.kmeans.fit_kmeans.iterations"] = _median([u["iterations"] for u in units])

    traced = [p["wall"] for p in result["traced"]]
    untraced = [p["wall"] for p in result["passes"]]
    values["trace.wall_s"] = _median(traced)
    values["trace.overhead_s"] = _median(traced) - _median(untraced)
    names = metric_names()
    return {k: (float(values.get(k, 0.0)), u) for k, u in names.items()}
