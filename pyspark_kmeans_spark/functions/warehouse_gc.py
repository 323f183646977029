"""Warehouse artifact garbage collection (VERDICT r7 stretch #8).

Every persisted artifact family (bucketed/partitioned/sorted/Z-order
layouts, signature/digest/lang-stats tables, the pair graph, the IVF
k-means model, the IVF and PQ codebooks, the PQ index) is keyed by
`sources.bucketed.bucketed_name`: one directory per (artifact,
parameter-set, source sf_dir) under `spark-warehouse/`, named
`<artifact>_<leaf>_<md5(abs sf_dir)[:8]>_b<n>`, plus the
`<name>.staging-<hex>` dir a fold writes before it commits.  An artifact
named with `artifact_path(..., sources=...)` carries a fingerprint of
its sources' file listing in `<artifact>`, so a source rewritten in place
leaves its old artifact under the same path tag, and it goes with its
corpus.  Write-once keying is what makes the caches safe — but it also
means the warehouse only ever GROWS: scratch sf_dirs (tests, the check
queries' tmp corpora) leave orphaned artifacts behind forever.  This is the one unbounded-growth path the
engine itself creates; `gc_warehouse` closes it.

Liveness is decided by the path tag: an artifact is LIVE iff its embedded
md5 tag matches one of the caller's `keep_sf_dirs` (the corpora the
deployment still serves).  The tag is a one-way hash, so the caller must
enumerate what to KEEP — the safe direction: an sf_dir the operator forgot
to list costs one rebuild (the ensure_* contract), never data (artifacts
are pure caches of their source tables).

Dry-run by default: the operator reviews the victim listing before
deleting — the pattern every production GC (Delta VACUUM DRY RUN, Iceberg
expire_snapshots) follows.  Entries that do not match the engine's naming
pattern are never touched.

`drop_artifacts` is the targeted form: it forgets and deletes every
artifact of ONE source corpus, for callers that own that corpus (the
scratch-corpus check queries, test fixtures).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import SparkSession

from pyspark_kmeans_spark.functions.warehouse_memo import memo_invalidate_where
from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, path_tag

# <table>_bucketed_<leaf>_<8-hex path tag>_b<bucket/cell count>: the
# bucketed_name shape shared by every artifact writer in the engine.  The
# tag itself comes from sources.bucketed.path_tag — ONE definition for
# writers and GC, so a tag-scheme change cannot make live artifacts read
# as orphaned (the round-8 review finding).  The literal `_bucketed_`
# infix is REQUIRED (ADVICE r8 #3): bucketed_name always emits it, and
# without it a foreign warehouse directory that merely ends in
# `_<8hex>_b<n>` would be rmtree'd on dry_run=False.  The full shape is
# pinned against bucketed_name's real output in tests/test_bucketing.py.
# A fold's staging dir (`<name>.staging-<hex>`, warehouse_memo.fold_artifact)
# carries its artifact's tag and shares its liveness: an orphan from a
# crashed fold must go with its corpus.
_ARTIFACT_RE = re.compile(r"_bucketed_.*_([0-9a-f]{8})_b\d+(\.staging-[0-9a-f]+)?$")


def _artifact_tag(path: str) -> str | None:
    m = _ARTIFACT_RE.search(os.path.basename(path))
    return None if m is None else m.group(1)


def _artifacts(warehouse: str) -> list[tuple[str, str]]:
    """(path, tag) of every engine artifact in `warehouse`, sorted."""
    if not os.path.isdir(warehouse):
        return []
    found = []
    for name in sorted(os.listdir(warehouse)):
        tag = _artifact_tag(name)
        if tag is not None:  # not an engine artifact — never touch
            found.append((os.path.join(warehouse, name), tag))
    return found


def gc_warehouse(
    keep_sf_dirs: list[str],
    *,
    dry_run: bool = True,
    warehouse: str = _WAREHOUSE,
) -> list[str]:
    """List (and with dry_run=False delete) every engine artifact in the
    warehouse whose source sf_dir is not in `keep_sf_dirs`.  Returns the
    victim paths, sorted — the dry-run listing IS the review artifact.

    Not session-aware by design: run it from an operational context, not
    concurrently with jobs that may be building artifacts for a scratch
    corpus (the same rule Delta VACUUM imposes)."""
    keep_tags = {path_tag(d) for d in keep_sf_dirs}
    victims = [p for p, tag in _artifacts(warehouse) if tag not in keep_tags]
    if not dry_run:
        for victim in victims:
            shutil.rmtree(victim, ignore_errors=True)
    return victims


def drop_artifacts(
    spark: SparkSession, sf_dir: str, *, warehouse: str = _WAREHOUSE
) -> list[str]:
    """Delete every warehouse artifact built from `sf_dir`, staging dirs
    included, and return the deleted paths, sorted.

    The session memo is dropped for the corpus's tag BEFORE any directory
    is deleted (ADVICE r9 #1): if a run died between an ensure's memo_put
    and a fold's invalidation, a same-session retry would otherwise get a
    cached DataFrame handle over deleted parquet, and an append could
    recreate a directory holding only the batch — a confusing wrong
    answer instead of a clean rebuild."""
    tag = path_tag(sf_dir)
    memo_invalidate_where(spark, lambda path: _artifact_tag(path) == tag)
    victims = [p for p, t in _artifacts(warehouse) if t == tag]
    for victim in victims:
        shutil.rmtree(victim, ignore_errors=True)
    return victims
