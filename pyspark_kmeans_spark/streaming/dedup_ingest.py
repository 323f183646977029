"""Streaming ingestion dedup: the production daily/continuous form of the
incremental LSH pipeline, wired end-to-end as a Structured Streaming job.

Batch twin: operators/dedup.py's `build_signature_table` +
`incremental_kept_against` (sign only the batch, band-join against the
stored corpus signatures).  This module runs that exact unit inside
`foreachBatch` with a persisted-on-parquet signature STATE table that grows
by each batch's kept documents — the loop a 100 TB ingestion service runs:

    new files → [micro-batch] → dedup against state → append kept ids
                                                    → append kept signatures

Exactly-once under replay (Structured Streaming re-runs a batch after a
crash between sink write and checkpoint commit) comes from two decisions:

 - Both outputs (kept ids, signature state) write to deterministic
   `batch_id=<id>/` directories with mode("overwrite") — the
   streaming/sinks.py idempotent pattern — so a replay overwrites its own
   partial output instead of appending next to it.
 - The state read EXCLUDES directories with batch_id >= the current batch
   (and directories without a _SUCCESS marker), so a replayed batch sees
   exactly the state the original attempt saw — the recomputation is
   bit-identical, not merely set-identical.

Scale shape: state is read as a plain parquet scan (at 100 TB: a compacted
table the ingestion service owns); only the batch is tokenized+signed;
candidates and verify are the batch twin's two-wave core
(`dedup._two_wave_kept`).  Nothing here collects to the driver.
`compact_signature_state` keeps the state listing-bound growth in check:
per-batch directories below the stream's checkpoint merge into one
snapshot (`compacted=<K>`) + incremental tail — the Delta/Iceberg
checkpoint pattern in plain parquet, crash-safe by write ordering
(snapshot commits before garbage collection; the reader never
double-counts overlap).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pyspark_kmeans_spark.functions.persist import release_persisted
from pyspark_kmeans_spark.operators.dedup import (
    build_signature_table,
    incremental_kept_against,
)

SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("toks", T.ArrayType(T.LongType())),
        T.StructField("n", T.IntegerType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ]
)


def read_signature_state(
    spark: SparkSession, state_dir: str, *, before_batch: int | None = None
) -> DataFrame:
    """The corpus signature table as of a point in the batch sequence:
    the newest usable compacted snapshot (`compacted=<K>` holds batches
    0..K-1 — see compact_signature_state) plus the committed
    (`_SUCCESS`-marked) per-batch directories above it, optionally
    restricted to batch_id < `before_batch` (replay determinism).
    Missing/empty state yields an empty frame with the signature schema.

    Batch directories BELOW the snapshot point are ignored even if they
    still exist — compaction deletes them only after its snapshot commits,
    so a crash between snapshot commit and garbage collection leaves
    overlapping dirs that must not be double-counted.

    A `before_batch` BELOW an existing snapshot point violates the
    compaction contract (`up_to` ≤ last checkpointed batch + 1 — such a
    batch can never replay): if the snapshot's source dirs were already
    garbage-collected the mid-range state is simply gone, and returning
    whatever survives would silently lose data.  That case raises
    ValueError instead (ADVICE r7 #2)."""
    snap_k, snap_dir, max_k = 0, None, 0
    batch_dirs: list[tuple[int, str]] = []
    if os.path.isdir(state_dir):
        for name in sorted(os.listdir(state_dir)):
            path = os.path.join(state_dir, name)
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                continue
            if name.startswith("compacted="):
                k = int(name.split("=", 1)[1])
                max_k = max(max_k, k)
                # usable iff it contains no batch the caller must not see
                if (before_batch is None or k <= before_batch) and k > snap_k:
                    snap_k, snap_dir = k, path
            elif name.startswith("batch_id="):
                batch_dirs.append((int(name.split("=", 1)[1]), path))
    if before_batch is not None and max_k > before_batch:
        # A committed snapshot subsumes every batch below its point; the
        # dirs this read needs (snap_k..before_batch-1) may be GC'd.  If
        # any is absent the read would be PARTIAL — fail loudly.
        have = {bid for bid, _ in batch_dirs}
        missing = [b for b in range(snap_k, before_batch) if b not in have]
        if missing:
            raise ValueError(
                f"state read at before_batch={before_batch} is below the "
                f"committed snapshot compacted={max_k} and batch dirs "
                f"{missing} it subsumed are gone — mid-range state for "
                "this point no longer exists (reads below a compaction "
                "point are contract-violating: compaction only covers "
                "batches that can never replay)"
            )
    dirs = [snap_dir] if snap_dir else []
    dirs += [
        p
        for bid, p in batch_dirs
        if bid >= snap_k
        and (before_batch is None or bid < before_batch)
    ]
    if not dirs:
        return spark.createDataFrame([], SIG_SCHEMA)
    return spark.read.schema(SIG_SCHEMA).parquet(*dirs)


def compact_signature_state(
    spark: SparkSession, state_dir: str, *, up_to: int
) -> int:
    """Merge the per-batch signature directories with batch_id < `up_to`
    into one `compacted=<up_to>` snapshot — the Delta/Iceberg
    checkpoint-plus-tail pattern in plain parquet.  At 100 TB a
    long-running ingestion stream accumulates one small directory per
    micro-batch; reading state then unions thousands of fragments and the
    scan becomes listing-bound.  Compaction restores one fat snapshot +
    a short incremental tail.

    Safety contract (`up_to` must be ≤ the latest CHECKPOINTED batch + 1):
    Structured Streaming only ever replays the latest uncommitted batch,
    so batches below the checkpoint can never replay and their per-batch
    read boundaries are no longer needed.  Crash-safe by write ordering:
    the snapshot is written (with Spark's own _SUCCESS marker) BEFORE the
    source dirs are deleted, and read_signature_state ignores batch dirs
    below a committed snapshot — a crash between commit and GC leaves
    overlap that is never double-counted, and re-running compaction is
    idempotent garbage collection.  Returns the number of directories
    compacted."""
    import shutil

    victims = []
    covered_through = 0  # batches 0..covered_through-1 are committed
    if os.path.isdir(state_dir):
        for name in sorted(os.listdir(state_dir)):
            path = os.path.join(state_dir, name)
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                continue
            if name.startswith("batch_id="):
                bid = int(name.split("=", 1)[1])
                covered_through = max(covered_through, bid + 1)
                if bid < up_to:
                    victims.append(path)
            elif name.startswith("compacted="):
                k = int(name.split("=", 1)[1])
                covered_through = max(covered_through, k)
                if k > up_to:
                    # Backwards compaction: batch dirs below k are already
                    # gone, so a smaller snapshot would silently miss them
                    # and mid-range readers would lose data.  Compaction
                    # points must be monotone (they track the stream's
                    # checkpoint, which only advances).
                    raise ValueError(
                        f"compaction point {up_to} is below the existing "
                        f"snapshot compacted={k}; compaction is monotone"
                    )
                if k < up_to:
                    # an older snapshot is subsumed by the new one
                    victims.append(path)
    if up_to > covered_through:
        # A snapshot claiming batches that never committed would hide
        # every later real batch from full-state reads (the tail filter
        # is bid >= snapshot point) and make mid-range replay reads skip
        # the snapshot entirely — permanent silent data loss either way.
        raise ValueError(
            f"compaction point {up_to} exceeds the committed state "
            f"(batches 0..{covered_through - 1}); pass a point at most "
            "one past the last checkpointed batch"
        )
    snap = os.path.join(state_dir, f"compacted={up_to}")
    if not os.path.exists(os.path.join(snap, "_SUCCESS")):
        merged = read_signature_state(spark, state_dir, before_batch=up_to)
        merged.write.mode("overwrite").parquet(snap)
    for path in victims:
        shutil.rmtree(path, ignore_errors=True)
    return len(victims)


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    kept_dir: str,
    threshold: float = 0.9,
) -> None:
    """One micro-batch of the ingestion loop: dedup `batch_df` against the
    committed signature state, write kept docs' ids and signatures to this
    batch's own (overwrite-on-replay) directories.  Signing and banding use
    the module defaults of dedup (`LSH_*`), so state written here matches
    every other reader of a signature table."""
    spark = batch_df.sparkSession
    sigs = read_signature_state(spark, state_dir, before_batch=batch_id)
    kept_ids = incremental_kept_against(sigs, batch_df, threshold=threshold)
    kept_docs = batch_df.join(kept_ids, on="doc_id", how="left_semi")
    kept_docs.select("doc_id").write.mode("overwrite").parquet(
        f"{kept_dir}/batch_id={batch_id}"
    )
    build_signature_table(kept_docs).write.mode("overwrite").parquet(
        f"{state_dir}/batch_id={batch_id}"
    )
    # incremental_kept_against persists the batch signature frame in the
    # session registry; a long-running stream must not accumulate one
    # cached frame per micro-batch.
    release_persisted()


def dedup_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    *,
    state_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    max_files_per_trigger: int = 1,
):
    """File-source ingestion stream: each arriving parquet file of documents
    becomes a micro-batch deduped against everything accepted before it.
    Returns the started StreamingQuery (caller awaits/stops)."""
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: dedup_ingest_batch(
                df, bid, state_dir=state_dir, kept_dir=kept_dir,
                threshold=threshold,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
