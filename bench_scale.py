"""Scaling-shape harness: how does wall-clock grow when the data grows k×?

Each family blows some source tables up k× (k = 1, 4, ... by default),
times its work at each size, and fits the log-log slope of seconds
against k.  Every blow-up is k DISJOINT replicas of the original problem
(shifted ids, and salted tokens / sign-flipped vectors where content
matters), so true-pair, near-neighbour and join fan-out volume grows ~k,
never the k² a naive duplication would inject through cross-replica
matches.  A scale-shaped operator on a fixed local[N] grows ~linearly in
k once parallelism saturates; a quadratic stage shows up as a
super-linear exponent, a batch path that is truly corpus-independent as
an exponent near 0.

Families (default k list; timed work):
  docs         1,4,16,64  dedup and training-order queries on salted documents
  ann          1,4        ANN / semantic-dedup queries on sign-flipped embeddings
  facts        1,4,16     TPC-H-shape queries, lineitem+orders grown with aligned keys
  skew         1,4,16     the same, with 5% of rows funnelled onto one hot key
  trio         1,4        the daily-ingest trio and the per-lang token budget
  incremental  1,4,16     a fixed batch (500 dups + 500 fresh docs at most)
                          deduped against a k× corpus
  pairsfold    1,4,16     a fixed ~2% batch folded into the k× corpus's pair
                          table, against re-mining the union corpus

Usage: python bench_scale.py <family>
  SPARK_GRAFT_SF_DIR         source tables (default: the sf0.1 testdata dir)
  SPARK_GRAFT_SCALE_KS       comma-separated k list (family default)
  SPARK_GRAFT_SCALE_REPEATS  best-of-n repeats (default 2)
  SPARK_GRAFT_SCALE_QUERIES  comma-separated subset of the timed entries:
                             registry names, or two_wave / fold,remine

Prints one JSON line:
  {"metric": ..., "sf": ..., "sizes": {k: rows},
   "seconds": {entry: {k: sec}}, "exponent": {entry: slope}}
plus "kept": {entry: {k: rows}} for entries that return a row count.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bench import force
from pyspark_kmeans_spark.functions.persist import release_persisted
from pyspark_kmeans_spark.functions.warehouse_gc import drop_artifacts
from pyspark_kmeans_spark.schemas import TESTDATA_TABLES
from pyspark_kmeans_spark.session import get_spark
from pyspark_kmeans_spark.sources.tables import load_table

ID_SHIFT = 10_000_000  # per-replica doc_id / vec_id offset
KEY_SHIFT = 100_000_000  # per-replica orderkey offset
HOT_MOD = 20  # skew: 1/20 = 5% of rows funnel onto the hot key
HOT_KEY = 1

# One timed entry: (the timed call, an untimed reset run before each rep).
# The call may return a row count, reported as "kept".
Entry = tuple[Callable[[], int | None], Callable[[], None] | None]


def _salted_text(suffix: str):
    """Every token rewritten to `token<suffix>`: replicas salted with
    different suffixes share ZERO tokens."""
    return F.array_join(
        F.transform(
            F.split(F.trim(F.col("text")), "\\s+"),
            lambda t: F.concat(t, F.lit(suffix)),
        ),
        " ",
    )


def _salted_docs(df: DataFrame, r: int) -> DataFrame:
    return df.withColumn(
        "doc_id", F.col("doc_id") + F.lit(r * ID_SHIFT)
    ).withColumn("text", _salted_text(f"_r{r}"))


def _flipped_embeddings(df: DataFrame, r: int) -> DataFrame:
    """Replica r multiplies dimension i by sign(hash(r, i)) — an orthogonal
    transform, so within-replica cosines (and k-means geometry) are
    exactly the original problem's, while cross-replica cosines
    concentrate near 0 (std ≈ 1/√d)."""
    flipped = F.transform(
        "embedding",
        lambda x, i: F.when(F.pmod(F.hash(F.lit(r), i), 2) == 0, x).otherwise(-x),
    ).cast("array<float>")
    return df.withColumn(
        "vec_id", F.col("vec_id") + F.lit(r * ID_SHIFT)
    ).withColumn("embedding", flipped)


def _shifted_lineitem(df: DataFrame, r: int) -> DataFrame:
    return df.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(r * KEY_SHIFT))


def _shifted_orders(df: DataFrame, r: int) -> DataFrame:
    return df.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(r * KEY_SHIFT))


def _skewed_lineitem(df: DataFrame, r: int) -> DataFrame:
    """1/HOT_MOD of lineitem rows move onto orderkey HOT_KEY.  That order
    exists, so each hot row still joins exactly one order: join OUTPUT
    stays linear and only the key distribution is pathological."""
    shifted = F.col("l_orderkey") + F.lit(r * KEY_SHIFT)
    return df.withColumn(
        "l_orderkey",
        F.when(shifted % HOT_MOD == 0, F.lit(HOT_KEY)).otherwise(shifted),
    )


def _skewed_orders(df: DataFrame, r: int) -> DataFrame:
    """The same funnel on the customer side: 1/HOT_MOD of orders get
    custkey HOT_KEY."""
    shifted = F.col("o_orderkey") + F.lit(r * KEY_SHIFT)
    return df.withColumn(
        "o_custkey",
        F.when(shifted % HOT_MOD == 0, F.lit(HOT_KEY)).otherwise(F.col("o_custkey")),
    ).withColumn("o_orderkey", shifted)


def _registry_entries(spark, sf_dir, scratch_sf, side) -> dict[str, Entry]:
    return {
        name: (lambda q=q: force(q(spark, scratch_sf)), None)
        for name, q in entrymod.queries().items()
    }


def _fixed_batch(spark, df: DataFrame, side: str) -> DataFrame:
    """Write a batch once and read it back, so every rep and every k sees
    the same rows and clearing the cache between reps cannot re-draw it."""
    path = os.path.join(side, "batch.parquet")
    df.write.parquet(path)
    return spark.read.parquet(path)


def _incremental_entries(spark, sf_dir, scratch_sf, side) -> dict[str, Entry]:
    """The shipped daily-batch dedup against a growing corpus: 500 exact
    dups of replica-0 docs (new ids) + 500 fresh docs no replica can
    match.  The corpus signature table is the ingestion job's cost
    (write-once) and is built untimed."""
    from pyspark_kmeans_spark.operators.dedup import (
        build_signature_table,
        incremental_kept_against,
    )

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        base.filter(F.col("doc_id") % 10 == 0)
        .limit(500)
        .select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"),
            _salted_text("_r0").alias("text"),
        )
    )
    fresh = (
        base.filter(F.col("doc_id") % 10 == 1)
        .limit(500)
        .select(
            (F.col("doc_id") + 950_000_000).alias("doc_id"),
            _salted_text("_fresh").alias("text"),
        )
    )
    batch = _fixed_batch(spark, dups.unionByName(fresh), side)
    sig_path = os.path.join(side, "signatures.parquet")
    build_signature_table(load_table(spark, scratch_sf, "documents")).write.parquet(
        sig_path
    )
    sigs = spark.read.parquet(sig_path)
    return {
        "two_wave": (lambda: incremental_kept_against(sigs, batch).count(), None)
    }


def _pairsfold_entries(spark, sf_dir, scratch_sf, side) -> dict[str, Entry]:
    """`fold`: append_pairs_table(batch) onto the pre-built corpus pair
    state (the first-touch builds are the ingest job's cost, untimed).
    `remine`: jaccard_pairs over corpus ∪ batch, what a system without the
    artifact re-runs per batch.  A second fold would append duplicate
    edges, so each fold rep first restores the pristine artifacts."""
    from pyspark_kmeans_spark.functions.warehouse_memo import memo_invalidate
    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs
    from pyspark_kmeans_spark.operators.graph import (
        GRAPH_PAIR_THRESHOLD,
        _graph_state_paths,
        append_pairs_table,
        ensure_graph_state,
        ensure_pairs_table,
    )

    # ~2% of the source rows, id-shifted out of every replica's id space and
    # salted like replica 0, so its near-dup structure against replica 0 is
    # the source table's.
    batch = _fixed_batch(
        spark,
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 50 == 0)
        .select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"),
            "lang",
            _salted_text("_r0").alias("text"),
        ),
        side,
    )
    ensure_pairs_table(spark, scratch_sf)
    ensure_graph_state(spark, scratch_sf)
    arts = _graph_state_paths(scratch_sf, GRAPH_PAIR_THRESHOLD)
    pristine = [os.path.join(side, os.path.basename(a)) for a in arts]
    for a, p in zip(arts, pristine):
        shutil.copytree(a, p)

    def restore() -> None:
        for a, p in zip(arts, pristine):
            shutil.rmtree(a, ignore_errors=True)
            shutil.copytree(p, a)
            spark.catalog.refreshByPath(a)
            memo_invalidate(spark, a)

    corpus = load_table(spark, scratch_sf, "documents").select(
        "doc_id", "lang", "text"
    )
    return {
        "fold": (lambda: force(append_pairs_table(spark, scratch_sf, batch)), restore),
        "remine": (
            lambda: force(
                jaccard_pairs(
                    corpus.unionByName(batch), threshold=GRAPH_PAIR_THRESHOLD
                ).select("doc_a", "doc_b")
            ),
            None,
        ),
    }


@dataclass(frozen=True)
class Family:
    metric: str
    ks: tuple[int, ...]
    # table -> replica transform (source frame, replica index) -> replica;
    # every other table is linked unchanged from the source dir
    grow: dict[str, Callable[[DataFrame, int], DataFrame]]
    size_table: str  # sizes[k] = its row count
    queries: tuple[str, ...]  # default timed entries
    entries: Callable[..., dict[str, Entry]] = _registry_entries


FAMILIES: dict[str, Family] = {
    "docs": Family(
        "scaling",
        (1, 4, 16, 64),
        {"documents": _salted_docs},
        "documents",
        ("dedup_exact", "dedup_minhash_lsh", "dedup_jaccard_pairs",
         "training_pipeline", "training_order"),
    ),
    "ann": Family(
        "scaling_ann",
        (1, 4),
        {"embeddings": _flipped_embeddings},
        "embeddings",
        ("ann_topk_cosine", "ann_lsh_topk", "ann_ivf_topk", "dedup_semantic"),
    ),
    "facts": Family(
        "scaling_facts",
        (1, 4, 16),
        {"lineitem": _shifted_lineitem, "orders": _shifted_orders},
        "lineitem",
        ("tpch_q21", "tpch_q12", "tpch_q9", "tpch_q8", "salted_join",
         "customer_features"),
    ),
    "skew": Family(
        "scaling_skew",
        (1, 4, 16),
        {"lineitem": _skewed_lineitem, "orders": _skewed_orders},
        "lineitem",
        ("salted_join", "salted_agg", "tpch_q12", "customer_features"),
    ),
    # Both trio tables grow with the SAME id shift (divisible by the
    # daily-batch modulus, so every replica keeps the batch/corpus split),
    # and vec_id == doc_id survives: stage 3 sees exactly the embeddings
    # of its replica's stage-2 survivors.
    "trio": Family(
        "scaling_trio",
        (1, 4),
        {"documents": _salted_docs, "embeddings": _flipped_embeddings},
        "documents",
        ("daily_ingest_semantic", "curation_token_budget_per_lang"),
    ),
    "incremental": Family(
        "incremental_scaling",
        (1, 4, 16),
        {"documents": _salted_docs},
        "documents",
        ("two_wave",),
        _incremental_entries,
    ),
    "pairsfold": Family(
        "pairsfold_scaling",
        (1, 4, 16),
        {"documents": _salted_docs},
        "documents",
        ("fold", "remine"),
        _pairsfold_entries,
    ),
}


@contextmanager
def _scratch_corpus(spark: SparkSession, base: str) -> Iterator[tuple[str, str]]:
    """(scratch_sf, side dir) under `base`, empty on entry.  On every exit
    the tree and every warehouse artifact built from the scratch corpus
    are deleted: artifacts are keyed by the corpus PATH, so a leftover
    would be served to the next run at that path whatever it holds."""
    scratch_sf, side = os.path.join(base, "sf"), os.path.join(base, "side")
    shutil.rmtree(base, ignore_errors=True)
    drop_artifacts(spark, scratch_sf)
    try:
        os.makedirs(scratch_sf)
        os.makedirs(side)
        yield scratch_sf, side
    finally:
        drop_artifacts(spark, scratch_sf)
        shutil.rmtree(base, ignore_errors=True)


def _grow(spark, family: Family, sf_dir: str, k: int, scratch_sf: str) -> int:
    """Write the family's k× tables into `scratch_sf`, link the rest, and
    return the size table's row count.  One append per replica, not a
    k-branch union (a 64-way union of nested array transforms blows up
    codegen and driver memory)."""
    for table in TESTDATA_TABLES:
        dst = os.path.join(scratch_sf, f"{table}.parquet")
        if table not in family.grow:
            os.symlink(os.path.join(sf_dir, f"{table}.parquet"), dst)
            continue
        src = load_table(spark, sf_dir, table)
        for r in range(k):
            family.grow[table](src, r).write.mode(
                "overwrite" if r == 0 else "append"
            ).parquet(dst)
    return spark.read.parquet(
        os.path.join(scratch_sf, f"{family.size_table}.parquet")
    ).count()


def best_of(spark, entry: Entry, repeats: int) -> tuple[float, int | None]:
    """(best wall seconds, the last rep's return value).  Each rep starts
    from no cached frames, so one rep or query cannot speed up the next.
    The minimum is the statistic because CPU steal on a shared host
    inflates single shots several-fold (BASELINE.md); with repeats >= 2 it
    also leaves out first-touch artifact builds."""
    fn, reset = entry
    best, out = math.inf, None
    for _ in range(repeats):
        if reset is not None:
            reset()
        release_persisted()
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def loglog_slope(ks, secs) -> float:
    """Least-squares slope of log(seconds) on log(k); times floor at 0.05 s
    so a near-zero timing cannot dominate the fit."""
    xs = [math.log(k) for k in ks]
    ys = [math.log(max(s, 0.05)) for s in secs]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    den = sum((x - mx) ** 2 for x in xs) or 1.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den


def run_family(
    spark: SparkSession,
    name: str,
    root: str,
    *,
    sf_dir: str,
    ks: tuple[int, ...] | None = None,
    repeats: int = 2,
    queries: tuple[str, ...] | None = None,
) -> dict:
    """Time family `name` at each k on scratch corpora under `root` and
    return the JSON record (int k keys)."""
    family = FAMILIES[name]
    ks = ks or family.ks
    queries = queries or family.queries
    # abspath: the links are read from the scratch dir, not the cwd.
    sf_dir = os.path.abspath(sf_dir)
    # The source tag keeps scratch corpora of different source scales on
    # different paths, so their artifact keys never collide.
    src_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    sizes: dict[int, int] = {}
    seconds: dict[str, dict[int, float]] = {q: {} for q in queries}
    kept: dict[str, dict[int, int]] = {}
    for k in ks:
        base = os.path.join(os.path.abspath(root), f"{name}_{src_tag}_k{k}")
        with _scratch_corpus(spark, base) as (scratch_sf, side):
            sizes[k] = _grow(spark, family, sf_dir, k, scratch_sf)
            entries = family.entries(spark, sf_dir, scratch_sf, side)
            for q in queries:
                if k == ks[0]:
                    # One untimed pass warms the JVM, codegen and readers,
                    # so the first k is not timed cold.
                    best_of(spark, entries[q], 1)
                best, out = best_of(spark, entries[q], repeats)
                seconds[q][k] = round(best, 2)
                if out is not None:
                    kept.setdefault(q, {})[k] = out
                print(f"[{name} k={k}] {q}: {seconds[q][k]}s", file=sys.stderr,
                      flush=True)
    record = {
        "metric": family.metric,
        "sf": sf_dir,
        "sizes": sizes,
        "seconds": seconds,
        "exponent": {
            q: round(loglog_slope(ks, [seconds[q][k] for k in ks]), 2)
            for q in queries
        },
    }
    if kept:
        record["kept"] = kept
    return record


def main() -> None:
    if len(sys.argv) != 2 or sys.argv[1] not in FAMILIES:
        raise SystemExit(f"usage: python bench_scale.py {{{'|'.join(FAMILIES)}}}")
    name = sys.argv[1]
    env = os.environ.get
    spark = get_spark(
        app_name=f"bench_scale_{name}",
        # At k=64 an AQE-chosen broadcast of a cached token frame can
        # collect ~1 GB to the driver (size estimates on cached relations
        # run low) and the default 1g maxResultSize kills the job.  A real
        # cluster sizes this with driver memory; here it is a harness knob.
        extra_conf={"spark.driver.maxResultSize": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        record = run_family(
            spark,
            name,
            os.path.join(tempfile.gettempdir(), "bench_scale"),
            sf_dir=env(
                "SPARK_GRAFT_SF_DIR",
                os.path.join(os.path.dirname(entrymod.SF0001), "sf0.1"),
            ),
            ks=tuple(int(k) for k in env("SPARK_GRAFT_SCALE_KS", "").split(",") if k),
            repeats=int(env("SPARK_GRAFT_SCALE_REPEATS", "2")),
            queries=tuple(q for q in env("SPARK_GRAFT_SCALE_QUERIES", "").split(",") if q),
        )
    finally:
        spark.stop()
    print(json.dumps(record))


if __name__ == "__main__":
    main()
