"""The write-once warehouse artifact lifecycle and its session memo.

Every corpus-scale precomputation (signature/digest/lang-stats tables,
the pair graph and its prefix state, the IVF k-means model, the IVF and
PQ codebooks, the PQ index, the layout copies) lives in one directory
under `spark-warehouse/` named by `artifact_path`, and goes through the
three helpers here:

- `ensure_artifact`: memo hit, else write unless `_SUCCESS` exists, then
  read and memoize.  Spark writes `_SUCCESS` last, so a torn write from a
  killed process has part files but no marker, and is rebuilt.
- `fold_artifact`: append a batch as a staged commit (see its docstring).
- `warehouse_gc.drop_artifacts`: forget and delete every artifact of one
  source corpus.

The memo exists because through round 6 every CALL re-ran
`os.path.exists` plus a read — a parquet schema discovery for the table
handles, and for the codebook a real 16-row collect() job.  Measured
per-call cost at sf0.1: 155 ms (codebook), 83 ms (signature table) — pure
overhead in multi-query sessions (a 50-query correctness sweep calls
the ingestion family repeatedly), VERDICT r6 item 5.

The memo key includes the SparkSession's applicationId: a DataFrame is
bound to the session that created it, so a fresh session (driver run,
test run, bench run) never sees another session's handles.  Parameter
changes change the path and therefore the key.  An entry is dropped only
by the paths that change or delete an artifact mid-session, and each
drops it itself: a fold (`fold_artifact`), an in-place rewrite of the
codebook (`refresh_codebook_table`, `update_codebook_table`), and the
deletion of a scratch corpus's artifacts (`drop_artifacts`, used by the
scratch-corpus check queries and the tests).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import threading
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, bucketed_name

_MEMO: dict[tuple[str, str], Any] = {}
# All _MEMO mutations and iteration hold this lock (ADVICE r8 #2): the
# eviction sweep in memo_put iterates the dict, and a concurrent insert
# from another thread (a sweep harness running queries in parallel) would
# raise "dictionary changed size during iteration" mid-comprehension.
_MEMO_LOCK = threading.Lock()


def memo_get(spark: SparkSession, path: str) -> Any | None:
    with _MEMO_LOCK:
        return _MEMO.get((spark.sparkContext.applicationId, path))


def memo_put(spark: SparkSession, path: str, value: Any) -> Any:
    app = spark.sparkContext.applicationId
    # Evict dead sessions' entries: a long-lived process (pytest run,
    # notebook host) cycles SparkSessions, and a stopped session's
    # DataFrame handles would otherwise pin its JVM references forever
    # (ADVICE r7 #5).  One applicationId is live per process at a time
    # (getOrCreate semantics; newSession() shares the id), so keeping
    # only the current app's keys is exact, not heuristic.
    with _MEMO_LOCK:
        for key in [k for k in _MEMO if k[0] != app]:
            del _MEMO[key]
        _MEMO[(app, path)] = value
    return value


def memo_invalidate(spark: SparkSession, path: str) -> None:
    with _MEMO_LOCK:
        _MEMO.pop((spark.sparkContext.applicationId, path), None)


def memo_invalidate_where(
    spark: SparkSession, matches: Callable[[str], bool]
) -> None:
    """Drop this session's entries whose path satisfies `matches`."""
    app = spark.sparkContext.applicationId
    with _MEMO_LOCK:
        for key in [k for k in _MEMO if k[0] == app and matches(k[1])]:
            del _MEMO[key]


def artifact_path(
    table: str, sf_dir: str, n_buckets: int = 1, sources: tuple[str, ...] = ()
) -> str:
    """The warehouse directory of one artifact of `sf_dir`; `table` carries
    every parameter that changes the artifact's content.  An artifact
    built from the `sf_dir` source tables named in `sources` also carries
    their `_source_fingerprint`, so a source rewritten in place names a
    new directory and the artifact is rebuilt there; the old one stays
    until its corpus is dropped (`warehouse_gc`), since the path tag is
    unchanged.  The fingerprint stats every file of those sources on
    each call, memo hits included: O(source files) of driver-side
    listing per call."""
    if sources:
        table = f"{table}_{_source_fingerprint(sf_dir, sources)}"
    return os.path.join(_WAREHOUSE, bucketed_name(table, sf_dir, n_buckets))


def _source_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> str:
    """8-hex md5 of the file listing of `sf_dir`'s `tables` sources: the
    relative name, size and mtime_ns of every file under each, no data
    read."""
    listing = []
    for table in tables:
        src = os.path.join(sf_dir, f"{table}.parquet")
        files = (
            [src]
            if os.path.isfile(src)
            else sorted(os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        )
        for f in files:
            st = os.stat(f)
            rel = os.path.relpath(f, src)
            listing.append((table, rel, st.st_size, st.st_mtime_ns))
    return hashlib.md5(repr(listing).encode()).hexdigest()[:8]


def ensure_artifact(
    spark: SparkSession,
    path: str,
    write: Callable[[str], None],
    read: Callable[[str], Any] | None = None,
) -> Any:
    """Return the session's memoized `read(path)`; on a miss, first run
    `write(path)` unless the artifact is committed (`_SUCCESS` present).
    A writer that leaves no top-level marker (MLlib's model save writes
    only `metadata/` and `data/`) is committed here once it returns, so a
    write that raises first is redone by the next call.  `read` defaults
    to a parquet read.  The memo value is shared by every later caller in
    the session: a caller returning mutable values copies them."""
    cached = memo_get(spark, path)
    if cached is not None:
        return cached
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        write(path)
        if not os.path.exists(marker):
            open(marker, "w").close()
    return memo_put(spark, path, (read or spark.read.parquet)(path))


def fold_artifact(spark: SparkSession, path: str, frame: DataFrame) -> None:
    """Append `frame`'s rows to the committed artifact at `path`.

    Torn-fold safety (ADVICE r11 #3): the batch is written to a staging
    dir first, then its part files MOVE into the live artifact (uniquely
    prefixed — same-filesystem renames).  A crash during the Spark write
    leaves only an orphaned staging dir the artifact never reads (swept
    here on the next fold, and by `gc_warehouse` once its corpus is
    dropped); the exposure window shrinks from a job-long append under
    the live _SUCCESS marker to the rename loop of already-written files.
    The sweep is safe under the single-writer contract every fold
    assumes.  Exactly-once is the caller's contract.  Drops the session
    memo and Spark's cached file listing under `path`, so later reads see
    the appended rows."""
    for stale in glob.glob(path + ".staging-*"):
        shutil.rmtree(stale, ignore_errors=True)
    tag = uuid.uuid4().hex[:12]
    staging = f"{path}.staging-{tag}"
    frame.write.mode("overwrite").parquet(staging)
    for fn in os.listdir(staging):
        if not fn.startswith(("_", ".")):
            os.rename(
                os.path.join(staging, fn), os.path.join(path, f"fold-{tag}-{fn}")
            )
    shutil.rmtree(staging, ignore_errors=True)
    memo_invalidate(spark, path)
    spark.catalog.refreshByPath(path)
