"""PageRank invariants on planted graphs (the oracle pins exact values on
testdata; these pin the semantics on known structures)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pyspark_kmeans_spark.operators.graph import (
    PAGERANK_DAMPING,
    pagerank,
    triangle_counts,
)


def _graph(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
    if edge_pairs:
        edges = spark.createDataFrame(edge_pairs, "src long, dst long")
    else:
        edges = nodes.select(
            F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")
        ).filter("src < 0")
    return nodes, edges


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


def test_pagerank_star_center_dominates(spark):
    """In a star (0 linked to 1..4), the center must out-rank every leaf,
    leaves are symmetric, and total rank mass stays in (1-d, 1]."""
    nodes, edges = _graph(
        spark, range(5), _sym([(0, i) for i in range(1, 5)])
    )
    got = {r.doc_id: r.pagerank for r in pagerank(nodes, edges).collect()}
    assert got[0] > max(got[i] for i in range(1, 5))
    assert len({got[i] for i in range(1, 5)}) == 1  # leaf symmetry
    total = sum(got.values())
    assert (1 - PAGERANK_DAMPING) < total <= 1.0 + 1e-9


def test_pagerank_dangling_nodes_keep_teleport_only(spark):
    """A node with no edges at all keeps exactly the teleport term
    (1-d)/N after every iteration."""
    nodes, edges = _graph(spark, range(4), _sym([(0, 1)]))
    got = {r.doc_id: r.pagerank for r in pagerank(nodes, edges).collect()}
    teleport = round((1 - PAGERANK_DAMPING) / 4, 12)
    assert got[2] == pytest.approx(teleport, abs=1e-12)
    assert got[3] == got[2]
    assert got[0] == got[1] > got[2]  # symmetric pair beats dangling


def _oriented(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "doc_a long, doc_b long"
    )


def _clique_plus_triangle(spark, k=10):
    """K_k clique on nodes 0..k-1 (degree k-1 each) plus one disjoint
    triangle on nodes 100..102 (degree 2 each)."""
    clique = [(i, j) for i in range(k) for j in range(i + 1, k)]
    tri = [(100, 101), (100, 102), (101, 102)]
    return _oriented(spark, clique + tri)


def test_triangles_uncapped_counts_clique(spark):
    """K10 has C(9,2)=36 triangles per node, 120 total; the planted
    triangle contributes 1 per node."""
    pairs = _clique_plus_triangle(spark)
    got = {r.doc_id: r.n_triangles for r in triangle_counts(pairs).collect()}
    assert all(got[i] == 36 for i in range(10))
    assert all(got[i] == 1 for i in (100, 101, 102))


def test_triangles_max_degree_sheds_clique_keeps_rest(spark):
    """With max_degree below the clique degree, every clique node is
    removed (output bounded — the d-squared blowup is gone) while the
    low-degree planted triangle survives untouched."""
    pairs = _clique_plus_triangle(spark)
    got = {
        r.doc_id: r.n_triangles
        for r in triangle_counts(pairs, max_degree=5, log_drops=True)
        .collect()
    }
    assert set(got) == {100, 101, 102}
    assert all(v == 1 for v in got.values())


def test_triangles_cap_above_max_degree_is_identity(spark):
    """A cap no node exceeds must not change the result."""
    pairs = _clique_plus_triangle(spark)
    base = sorted(map(tuple, triangle_counts(pairs).collect()))
    capped = sorted(
        map(tuple, triangle_counts(pairs, max_degree=9).collect())
    )
    assert base == capped


def test_pagerank_deterministic_across_partitionings(spark):
    """Same graph, different partition counts → bit-identical ranks (the
    DECIMAL mass sum is the order-independence contract)."""
    pairs = _sym([(i, (i + 1) % 7) for i in range(7)] + [(0, 3), (2, 5)])
    nodes, edges = _graph(spark, range(7), pairs)
    a = sorted(map(tuple, pagerank(nodes, edges).collect()))
    b = sorted(
        map(
            tuple,
            pagerank(nodes.repartition(13), edges.repartition(17)).collect(),
        )
    )
    assert a == b


def test_pairs_table_equals_inline_mining_and_never_remines(
    spark, sf_dir, monkeypatch
):
    """The round-8 write-once edge-list artifact: ensure_pairs_table's
    parquet round-trip must equal the inline jaccard_pairs frame
    row-for-row, and once the artifact exists ALL FOUR registered graph
    queries must run ZERO pair-mining jobs (the ensure_codebook_table
    no-refit contract applied to the graph family) — including through
    the cross-session DISK reuse branch, not just the session memo."""
    import os

    from pyspark_kmeans_spark.functions.warehouse_memo import memo_invalidate
    from pyspark_kmeans_spark.operators import graph as graph_mod
    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs
    from pyspark_kmeans_spark.operators.graph import (
        GRAPH_PAIR_THRESHOLD,
        ensure_pairs_table,
        q_graph_degrees,
        q_graph_pagerank,
        q_graph_triangles,
        q_graph_triangles_capped,
    )
    from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE, bucketed_name
    from pyspark_kmeans_spark.sources.tables import load_table

    stored = {
        (r["doc_a"], r["doc_b"])
        for r in ensure_pairs_table(spark, sf_dir).collect()
    }
    inline = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            threshold=GRAPH_PAIR_THRESHOLD,
        ).select("doc_a", "doc_b").collect()
    }
    assert stored == inline and stored

    def _no_mining(*a, **k):
        raise AssertionError(
            "graph query re-ran pair mining despite the persisted table"
        )

    monkeypatch.setattr(graph_mod, "jaccard_pairs", _no_mining)
    # Drop the session memo so the queries exercise the _SUCCESS/disk
    # reuse branch (what a FRESH session hits) under the mining ban —
    # a memo-only pass would hide a broken cross-session path.
    import re as _re

    t_tag = _re.sub(r"[^0-9a-zA-Z]", "_", repr(GRAPH_PAIR_THRESHOLD))
    path = os.path.join(
        _WAREHOUSE, bucketed_name(f"neardup_pairs_t{t_tag}", sf_dir, n_buckets=1)
    )
    memo_invalidate(spark, path)
    assert q_graph_degrees(spark, sf_dir).count() > 0
    memo_invalidate(spark, path)
    assert q_graph_pagerank(spark, sf_dir).count() > 0
    assert q_graph_triangles(spark, sf_dir).count() > 0
    assert q_graph_triangles_capped(spark, sf_dir).count() > 0


def test_mine_incremental_edges_plan_is_batch_adjacent(spark):
    """Plan golden for the fold's 100 TB shape (round-9 self-review
    finding): the state's prefix explode must be pruned by a broadcast
    LeftSemi BEFORE the candidate shuffle, and the verify arrays must be
    sliced by a second broadcast LeftSemi — so the corpus contributes a
    map-side scan, never a corpus-scale exchange.  No cartesian anywhere."""
    from pyspark.sql import functions as F2

    from pyspark_kmeans_spark.operators.dedup import _prefix_frame, tokens_col
    from pyspark_kmeans_spark.operators.graph import mine_incremental_edges

    docs = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "a b d", "en"), (10, "a b c", "en")],
        "doc_id long, text string, lang string",
    )
    base = docs.select(
        "doc_id", F2.col("lang").alias("_block"), tokens_col("text").alias("_toks")
    )
    freq = base.select(F2.explode("_toks").alias("_tok")).groupBy("_tok").agg(
        F2.count(F2.lit(1)).alias("_df")
    )
    state = _prefix_frame(base.filter("doc_id < 10"), 0.9, "doc_id", freq=freq)
    bpref = _prefix_frame(base.filter("doc_id >= 10"), 0.9, "doc_id", freq=freq)
    edges = mine_incremental_edges(state, bpref, threshold=0.9)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan
    # Semantics smoke on the planted rows: doc 10 is an exact dup of 1.
    got = {(r["doc_a"], r["doc_b"]) for r in edges.collect()}
    assert got == {(1, 10)}


# slow (10 s): two-fold pair-table maintenance vs full re-mine; the
# same equality is driver-gated every round (pairs_update_check).
@pytest.mark.slow
def test_append_pairs_table_two_folds_equal_full_remine(spark, sf_dir, tmp_sf):
    """Incremental pair-table maintenance (round 9): after folding TWO
    successive batches into a pair table built on the 60% corpus, the
    artifact must equal a full re-mine of the union corpus row-for-row —
    including batch1×batch2 edges, which only exist because fold 1
    appended batch1 to the persisted prefix state.  The re-mine orders
    tokens by union frequencies while the folds use the persisted corpus
    frequencies, so an ordering-dependence bug in the prefix-lemma
    application cannot cancel out."""
    import os

    from pyspark_kmeans_spark.operators.dedup import jaccard_pairs
    from pyspark_kmeans_spark.operators.graph import (
        GRAPH_PAIR_THRESHOLD,
        append_pairs_table,
    )
    from pyspark_kmeans_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 5 != 1))
    batch1 = docs.filter(F.col("doc_id") % 5 == 0)
    batch2 = docs.filter(F.col("doc_id") % 5 == 1)
    corpus.write.mode("overwrite").parquet(
        os.path.join(tmp_sf, "documents.parquet")
    )
    append_pairs_table(spark, tmp_sf, batch1)
    folded = append_pairs_table(spark, tmp_sf, batch2)
    got = {(r["doc_a"], r["doc_b"]) for r in folded.collect()}
    want = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_pairs(docs, threshold=GRAPH_PAIR_THRESHOLD)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert got == want and got
    # Append-only discipline: no duplicate edges across folds.
    assert folded.count() == len(got)


def test_cross_source_pairs_normalizes_orientation(spark):
    """(A,B) and (B,A) edges land in ONE unordered source-pair row;
    same-source edges count under (S,S); a doc pair inside one source
    never leaks into a cross row."""
    from pyspark_kmeans_spark.operators.graph import cross_source_pairs

    docs = spark.createDataFrame(
        [(0, "mirror_a"), (1, "mirror_b"), (2, "mirror_a"), (3, "blog")],
        "doc_id long, source string",
    )
    # edges: 0-1 (a,b), 3-2 (blog,a: reversed orientation), 0-2 (a,a)
    pairs = spark.createDataFrame(
        [(0, 1), (3, 2), (0, 2)], "doc_a long, doc_b long"
    )
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in cross_source_pairs(pairs, docs).collect()
    }
    assert got == {
        ("mirror_a", "mirror_b"): 1,
        ("blog", "mirror_a"): 1,
        ("mirror_a", "mirror_a"): 1,
    }
