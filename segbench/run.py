#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process.

    python3 segbench/run.py --workload curate_corpus --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  It generates the workload's
inputs from the seed (cached by seed and size under ``.segbench_work/``),
copies them into a fresh run directory, starts a SparkSession on
``local[<cores>]``, builds the workload's write-once artifacts three
times (fresh input copies, median reported), runs warm-up passes, then
runs closed-loop passes for ``--seconds`` seconds and checks each pass's
output.  A cold workload times one pass right after the session starts.
At exit it stops Spark, waits for the JVM, deletes the run directory and
garbage-collects the run's warehouse artifacts.

``setup_s`` is session start (input generation excluded) plus the median
artifact build plus the warm-up.  ``cpu_s`` is the JVM's and its Python
workers' user+system time plus this Python process's, per pass;
``peak_rss_mb`` is the JVM's plus this process's peak resident set over
the timed passes.
Failed passes count in the result's ``failed`` of ``attempted``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
traced and untraced passes, prints the per-layer metrics from the traced
ones and the tracing overhead, and writes the spans to
``.segbench_work/traces/``.  The last stdout line is the result object;
the line before it describes the host.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import uuid

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".segbench_work")
CLK = os.sysconf("SC_CLK_TCK")
SETUP_REPS = 3
# Passes before timing starts for a warm workload: the JIT is still
# compiling its code during the first pass (measured: CPU per pass falls
# ~30% from the first to the second pass, then ~5% more).  A traced run
# of a cold workload warms up with one pass.
WARMUP_PASSES = 2
RUN_DEADLINE_S = 160.0  # a run must end within 180 s


def proc_age_s() -> float:
    """Seconds since this process started (the kernel's own start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_pids(root: int) -> list[int]:
    """root and every live descendant (the JVM and its Python workers)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the tree, with reaped children's time included."""
    total = 0
    for p in tree_pids(root):
        st = _stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / CLK


def reset_peak_rss(pids: list[int]) -> None:
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def host_shape() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cores": cores,
        "mem_gb": round(mem_kb / 2**20, 1),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
    }


def driver_memory(mem_gb: float) -> str:
    """Spark's own 1 GB default, which these inputs fit, unless the host
    has under 4 GB: the engine's 48g default does not fit small hosts,
    and a heap far above the working set lets peak RSS wander with the
    collector's timing."""
    return "1g" if mem_gb >= 4 else "512m"


def start_spark(host: dict):
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    from pyspark_kmeans_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="segbench",
        extra_conf={
            "spark.driver.memory": driver_memory(host["mem_gb"]),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def gc_run_artifacts(data_dirs: list[str], warehouse_before: set[str]) -> None:
    """Delete the warehouse artifacts keyed to this run's input copies."""
    from pyspark_kmeans_spark.functions.warehouse_gc import gc_warehouse
    from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, path_tag

    tags = {path_tag(d) for d in data_dirs}
    for victim in gc_warehouse([], dry_run=True):
        if any(f"_{t}_" in os.path.basename(victim) for t in tags):
            shutil.rmtree(victim, ignore_errors=True)
    if not warehouse_before and os.path.isdir(_WAREHOUSE) and not os.listdir(_WAREHOUSE):
        os.rmdir(_WAREHOUSE)


def warehouse_listing() -> set[str]:
    from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE

    return set(os.listdir(_WAREHOUSE)) if os.path.isdir(_WAREHOUSE) else set()


def check_digest(key: str, digest: str) -> None:
    """The output digest of one workload on one input set must repeat
    across runs; the first run records it."""
    import checks

    path = os.path.join(WORK, "digests.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    if known.setdefault(key, digest) != digest:
        raise checks.CheckFailed(f"digest {digest} != {known[key]} recorded for {key}")
    with open(path + ".tmp", "w") as f:
        json.dump(known, f, sort_keys=True, indent=1)
    os.replace(path + ".tmp", path)


class Runner:
    """One run: inputs, session, set-up, warm-up and the timed loop."""

    def __init__(self, args, host):
        import gen
        import workloads

        self.args = args
        self.host = host
        self.wl = workloads.WORKLOADS[args.workload]
        self.run_id = uuid.uuid4().hex[:8]
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        self.data_dirs: list[str] = []
        t = time.perf_counter()
        self.src, self.plan = gen.ensure_inputs(
            os.path.join(WORK, "inputs"), self.wl.family, self.wl.size, args.seed
        )
        self.gen_s = time.perf_counter() - t
        self.ctx = workloads.Context(None, self.plan)
        self.attempted = self.failed = 0
        self.digests: set[str] = set()
        self.errors: list[str] = []
        self.tracer = None
        self.setup_phases = [f"setup{rep}" for rep in range(SETUP_REPS)]
        self.java = "unknown"

    def fresh_copy(self) -> str:
        d = os.path.join(self.run_dir, f"data{len(self.data_dirs)}")
        shutil.copytree(self.src, d)
        self.data_dirs.append(d)
        return d

    def one_pass(self, data_dir: str, timed: bool) -> dict | None:
        """Run and check one pass; returns its measurements, or None if it
        failed.  Only timed passes count as attempted; a failure anywhere
        also marks the run incorrect."""
        pass_dir = os.path.join(self.run_dir, "pass")
        shutil.rmtree(pass_dir, ignore_errors=True)
        os.makedirs(pass_dir)
        self.attempted += timed
        cpu0 = tree_cpu_s(self.jvm_pid) + time.process_time()
        t0 = time.perf_counter()
        try:
            digest = self.wl.run_pass(self.ctx, data_dir, pass_dir)
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(self.jvm_pid) + time.process_time() - cpu0
            check_digest(f"{self.wl.name}/{os.path.basename(self.src)}", digest)
        except Exception as e:  # a failed pass is counted, never dropped
            self.errors.append(f"{type(e).__name__}: {e}"[:300])
            traceback.print_exc(file=sys.stderr)
            self.failed += timed
            return None
        self.digests.add(digest)
        return {"wall": wall, "cpu": cpu}

    def run(self) -> dict:
        os.makedirs(self.run_dir)
        warehouse_before = warehouse_listing()
        spark = start_spark(self.host)
        try:
            session_s = proc_age_s() - self.gen_s
            self.jvm_pid = spark.sparkContext._gateway.proc.pid
            self.java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
            self.ctx.spark = spark
            tracer = None
            if self.args.trace:
                import layers
                from spans import Tracer

                tracer = self.tracer = self.ctx.tracer = Tracer(spark, self.run_id)
                layers.install(tracer, self.wl.wrapped)
                tracer.install()
            builds = []
            for phase in self.setup_phases:
                d = self.fresh_copy()
                if tracer is not None:
                    tracer.phase = phase
                t = time.perf_counter()
                self.wl.build(self.ctx, d)
                builds.append(time.perf_counter() - t)
            data_dir = self.data_dirs[-1]
            self.wl.prepare(self.ctx, data_dir)
            warmup_s = 0.0
            if tracer is not None:
                tracer.collect_stage_metrics()
                tracer.uninstall()
                self.ctx.tracer = None
            if self.wl.warm_up or tracer is not None:
                t = time.perf_counter()
                for _ in range(WARMUP_PASSES if self.wl.warm_up else 1):
                    self.one_pass(data_dir, timed=False)
                warmup_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(builds) + warmup_s
            print(f"segbench: session {session_s:.2f}s builds {[round(b, 2) for b in builds]} "
                  f"warm-up {warmup_s:.2f}s", file=sys.stderr)
            result = self.timed_loop(data_dir, tracer)
            result["setup_s"] = setup_s
            if tracer is not None:
                tracer.uninstall()
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                tracer.write(os.path.join(
                    WORK, "traces", f"{self.wl.name}-s{self.args.seed}-{self.run_id}.jsonl"))
        finally:
            try:
                stop_spark(spark)
            finally:
                gc_run_artifacts(self.data_dirs, warehouse_before)
                shutil.rmtree(self.run_dir, ignore_errors=True)
        return result

    def timed_loop(self, data_dir: str, tracer) -> dict:
        """Closed loop for --seconds, and at least one pass; a cold workload
        (no warm-up) times exactly one pass, the one its users pay for.
        Traced runs alternate traced and untraced passes, at least one of
        each.  No pass starts that would likely end past RUN_DEADLINE_S."""
        passes, traced = [], []
        pids = [self.jvm_pid, os.getpid()]
        reset_peak_rss(pids)
        t_end = time.perf_counter() + self.args.seconds
        while True:
            use_trace = tracer is not None and len(traced) <= len(passes)
            if tracer is not None:
                tracer.phase = f"pass{self.attempted}"
                self.ctx.tracer = tracer if use_trace else None
                (tracer.install if use_trace else tracer.uninstall)()
            m = self.one_pass(data_dir, timed=True)
            if use_trace:
                tracer.collect_stage_metrics()
            if m is not None:
                m["phase"] = tracer.phase if tracer is not None else None
                (traced if use_trace else passes).append(m)
            done = bool(passes) and (tracer is None or bool(traced))
            if done and not self.wl.warm_up and tracer is None:
                break  # a cold workload's one pass per process
            last = m["wall"] if m is not None else 0.0
            if (done and time.perf_counter() >= t_end) or self.failed >= 3 \
                    or proc_age_s() + last > RUN_DEADLINE_S:
                break
        print(f"segbench: passes wall {[round(p['wall'], 2) for p in passes + traced]} "
              f"cpu {[round(p['cpu'], 2) for p in passes + traced]}", file=sys.stderr)
        return {"passes": passes, "traced": traced, "peak_rss_mb": peak_rss_mb(pids)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(result: dict, items: int) -> dict:
    passes = result["passes"]
    wall = median([p["wall"] for p in passes])
    return {
        "setup_s": (result["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "items_per_s": (items / wall if wall else 0.0, "1/s"),
        "cpu_s": (median([p["cpu"] for p in passes]), "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception, so the run still stops Spark and
    # removes its run directory and warehouse artifacts.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    sys.path.insert(0, BENCH)
    sys.path.insert(1, ROOT)
    try:
        import pyspark_kmeans_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"segbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"segbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    host = host_shape()
    runner = Runner(args, host)
    result = runner.run()
    if len(runner.digests) > 1:
        runner.errors.append(f"digest changed across passes: {sorted(runner.digests)}")
    import pyspark

    host.update(loadavg_end=os.getloadavg(), spark=pyspark.__version__, java=runner.java,
                workload=args.workload, seed=args.seed, size=runner.wl.size,
                run_id=runner.run_id, errors=runner.errors[:5])
    if args.trace:
        metrics = layers.per_layer(result, runner.tracer, runner.setup_phases)
    else:
        metrics = end_to_end(result, runner.wl.size)
    out = {
        "correct": runner.failed == 0 and not runner.errors and runner.attempted > 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({"host": host, "trace": args.trace, **out}) + "\n")
    print(json.dumps({"host": host}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
