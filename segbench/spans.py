"""Spans around the engine's public functions, recorded from outside.

A ``Tracer`` replaces chosen module attributes of ``pyspark_kmeans_spark``
with wrappers while installed.  Each wrapper opens a span: it gives the
calling thread a fresh Spark job group, runs the function, restores the
previous group and records the span (name, start, end, parent, run id,
phase).  The jobs of the span's own group are read from
``statusTracker()``; their stage metrics come from the JVM status store
once per phase.  Nested wrapped calls run under their own group, so every
job belongs to exactly one span, and a span's job metrics are its self
metrics.

Spans stay in memory; ``write`` dumps them as JSON lines at the end.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "pyspark_kmeans_spark"


def stage_metrics(sc) -> dict[int, dict[str, float]]:
    """Per-stage metrics from the JVM status store, summed over attempts.

    Under py4j the status store's ``stageList`` must be called with all
    five arguments (statuses, details, withSummaries, quantiles,
    taskStatus); the short overloads are not reachable from Python.  The
    Scala result is serialized to JSON on the JVM side in one call, with
    the Jackson Scala module the REST API uses, instead of one py4j round
    trip per field."""
    gw = sc._gateway
    jvm = gw.jvm
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in json.loads(mapper.writeValueAsString(stages)):
        m = out[s["stageId"]]
        m["executor_s"] += s["executorRunTime"] / 1000.0
        m["gc_s"] += s["jvmGcTime"] / 1000.0
        m["shuffle_mb"] += (s["shuffleReadBytes"] + s["shuffleWriteBytes"]) / 1e6
        m["spill_mb"] += s["diskBytesSpilled"] / 1e6
    return out


class Tracer:
    """Span recorder for one run.  ``wrap`` registers targets;
    ``install``/``uninstall`` switch the wrappers on and off."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.phase = "setup"
        self._seq = itertools.count(1)
        self._stack: list[int] = []
        self._targets: list[tuple[object, str, object, object]] = []
        self._stage_cache: dict[int, dict[str, float]] = {}

    @contextmanager
    def span(self, name: str):
        """A span with its own job group, nested in the innermost open one.
        Spans are opened from the Spark driver's main thread: the workloads call
        the engine from one thread."""
        sid = next(self._seq)
        parent = self._stack[-1] if self._stack else None
        group = f"segbench-{self.run_id}-{sid}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "phase": self.phase, "start": time.perf_counter()}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            tracker = self.sc.statusTracker()
            jobs = list(tracker.getJobIdsForGroup(group))
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            rec["jobs"] = sorted(jobs)
            rec["stages"] = sorted(stages)
            self.spans.append(rec)

    def wrap(self, module: str, attr: str, name: str, on_result=None) -> None:
        """Register ``<PKG>.<module>.<attr>`` under span name ``name``.
        ``on_result(out)`` may add fields to the span from the return value."""
        mod = importlib.import_module(f"{PKG}.{module}")
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    rec.update(on_result(out))
                return out

        self._targets.append((mod, attr, orig, wrapper))

    def _swap(self, install: bool) -> None:
        """Point every loaded package module's binding of each target at the
        wrapper (install) or back at the original."""
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG)]
        for _, attr, orig, wrapper in self._targets:
            old, new = (orig, wrapper) if install else (wrapper, orig)
            for m in mods:
                if getattr(m, attr, None) is old:
                    setattr(m, attr, new)

    def install(self) -> None:
        self._swap(True)

    def uninstall(self) -> None:
        self._swap(False)

    def collect_stage_metrics(self) -> None:
        """Resolve stage metrics for every recorded stage not yet resolved.
        Called after each phase, before the status store evicts stages."""
        wanted = {s for rec in self.spans for s in rec["stages"]} - set(self._stage_cache)
        if wanted:
            fresh = stage_metrics(self.sc)
            for s in wanted:
                self._stage_cache[s] = dict(fresh.get(s, {}))

    def self_measures(self, rec: dict, children: list[dict]) -> dict[str, float]:
        """Duration minus the union of the children's intervals, and the
        job metrics of the span's own group."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(children, key=lambda c: c["start"]):
            s, e = max(c["start"], rec["start"]), min(c["end"], rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out = {"self_s": rec["end"] - rec["start"] - covered,
               "jobs": float(len(rec["jobs"])), "stages": float(len(rec["stages"]))}
        for key in ("executor_s", "gc_s", "shuffle_mb", "spill_mb"):
            out[key] = sum(self._stage_cache.get(s, {}).get(key, 0.0) for s in rec["stages"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec, sort_keys=True) + "\n")
