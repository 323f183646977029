"""Daily-ingest flagship invariants: the relationship between the
oracle-checked exact form and the production LSH/k-means form, plus the
persisted-artifact contract.  (Value correctness of `daily_ingest` itself
is oracle-pinned in test_oracle_parity.py / the driver sweep.)"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import pytest

from pyspark_kmeans_spark.operators.ingest import (
    DAILY_BATCH_MOD,
    ORACLES,
    q_daily_ingest,
    q_daily_ingest_lsh,
)
from pyspark_kmeans_spark.schemas import TESTDATA_TABLES
from tests.oracle_util import compare, duckdb_con


def test_lsh_form_kept_subset_of_exact_form(spark, sf_dir):
    """The LSH near-dup stage kills strictly more than the exact-digest
    stage (identical text ⇒ identical token set ⇒ Jaccard 1.0 ≥ 0.9), so
    per (lang, cell-independent) totals the LSH form's accepted batch is
    a subset: batch_docs summed per lang must be ≤ the exact form's, and
    both merge the SAME persisted corpus state."""
    exact = (
        q_daily_ingest(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.sum("batch_docs").alias("docs"),
            F.first("total_docs").alias("total"),
        )
    )
    lsh = (
        q_daily_ingest_lsh(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.sum("batch_docs").alias("docs"),
            F.first("total_docs").alias("total"),
        )
    )
    e = {r["lang"]: r for r in exact.collect()}
    l = {r["lang"]: r for r in lsh.collect()}
    assert l, "LSH form returned no rows"
    for lang, row in l.items():
        assert row["docs"] <= e[lang]["docs"], lang
        # totals = corpus state + that form's own accepted batch
        assert row["total"] == row["docs"] + (
            e[lang]["total"] - e[lang]["docs"]
        ), lang


# slow (90 s): full three-stage ingest trio with two k-means fits; the
# trio's correctness is driver-gated (daily_ingest_semantic_check).
@pytest.mark.slow
def test_trio_marks_chain_and_attribution(spark, sf_dir):
    """The round-9 full-trio flagship: survival marks must be a CHAIN
    (surviving stage N implies surviving stage N-1 — precedence is the
    stage order) and the per-lang report must partition the batch exactly
    (every doc charged to the first rejecting stage, or kept).  The
    deeper interaction equalities are driver-hashed by
    daily_ingest_semantic_check; this pins the frame invariants at test
    scale."""
    from pyspark_kmeans_spark.operators.ingest import (
        q_daily_ingest_semantic,
        trio_stage_marks,
    )

    marks = trio_stage_marks(spark, sf_dir).collect()
    assert marks
    for r in marks:
        if r["_k2"] == 1:
            assert r["_k1"] == 1, r
        if r["_k3"] == 1:
            assert r["_k2"] == 1, r
        # round 12: the ANN-index delta mark covers exactly the accepted
        # set (the twin's n_index_mark_mismatch invariant at test scale)
        assert (r["_k3"] == 1) == (r["_cell"] is not None), r
    for r in q_daily_ingest_semantic(spark, sf_dir).collect():
        assert (
            r["drop_digest"] + r["drop_lsh"] + r["drop_semantic"] + r["n_kept"]
            == r["n_batch"]
        ), r
        assert r["index_rows"] == r["n_kept"], r


def test_persisted_artifacts_written_once(spark, sf_dir):
    """Both ensure_* artifacts exist on disk after a run and a second run
    returns identical output (read-only path)."""
    from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, bucketed_name

    first = sorted(map(tuple, q_daily_ingest(spark, sf_dir).collect()))
    for table in (
        f"doc_digests_m{DAILY_BATCH_MOD}",
        f"lang_stats_m{DAILY_BATCH_MOD}",
    ):
        path = os.path.join(
            _WAREHOUSE, bucketed_name(table, sf_dir, n_buckets=1)
        )
        assert os.path.exists(os.path.join(path, "_SUCCESS")), table
    again = sorted(map(tuple, q_daily_ingest(spark, sf_dir).collect()))
    assert first == again


def test_null_lang_batch_docs_reach_the_report(spark, tmp_sf):
    """documents.lang is nullable: accepted batch docs with a NULL lang
    must land in their own report row with the merged corpus + batch
    totals of the NULL group — not vanish at the rollup ⋈ totals join —
    and the SQL oracle must agree on the planted corpus."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    for t in TESTDATA_TABLES:
        if t != "documents":
            os.symlink(f"{src}/{t}.parquet", f"{tmp_sf}/{t}.parquet")
    docs = pq.read_table(f"{src}/documents.parquet")
    null_lang = pc.equal(pc.bit_wise_and(docs["doc_id"], 3), 0)  # id % 4 == 0
    lang = pc.if_else(null_lang, pa.scalar(None, pa.string()), docs["lang"])
    docs = docs.set_column(docs.schema.get_field_index("lang"), "lang", lang)
    pq.write_table(docs, f"{tmp_sf}/documents.parquet")

    # By-hand expectation for the NULL group: corpus docs + the batch docs
    # the exact-digest stage accepts (new digest, lowest id per digest).
    rows = docs.to_pylist()
    corpus_digests = {
        hashlib.md5(r["text"].encode()).hexdigest()
        for r in rows
        if r["doc_id"] % DAILY_BATCH_MOD != 0
    }
    winners: dict[str, dict] = {}
    for r in rows:
        d = hashlib.md5(r["text"].encode()).hexdigest()
        if r["doc_id"] % DAILY_BATCH_MOD == 0 and d not in corpus_digests:
            if d not in winners or r["doc_id"] < winners[d]["doc_id"]:
                winners[d] = r
    n_tok = lambda r: len(r["text"].split(" "))  # noqa: E731
    kept_null = [r for r in winners.values() if r["lang"] is None]
    group = [r for r in rows if r["doc_id"] % DAILY_BATCH_MOD != 0] + kept_null
    group = [r for r in group if r["lang"] is None]
    assert kept_null, "planted corpus must accept NULL-lang batch docs"

    out = q_daily_ingest(spark, tmp_sf)
    null_rows = [r for r in out.collect() if r["lang"] is None]
    assert null_rows, "NULL-lang batch docs dropped from the report"
    assert sum(r["batch_docs"] for r in null_rows) == len(kept_null)
    assert sum(r["batch_tokens"] for r in null_rows) == sum(map(n_tok, kept_null))
    for r in null_rows:
        assert r["total_docs"] == len(group)
        assert r["total_tokens"] == sum(map(n_tok, group))
    compare(out, duckdb_con(tmp_sf), ORACLES["daily_ingest"])
