"""Plan-quality regression tests: pushdown, pruning, broadcast, partial agg,
codegen — the physical-plan contract each operator is designed to keep at
100 TB (SURVEY.md §4).

Construction-time-job contract (round 6, superseding the round-4 "plan-only
consumers stay job-free" note in graph.py): MOST registered queries run
zero Spark jobs at DataFrame-construction time, but the persisted-artifact
and eager-verify families are documented exceptions —

- `ensure_*` write-once warehouse artifacts (signature / digest /
  lang-stats / codebook / near-dup-pair tables: dedup.ensure_signature_table,
  ingest.ensure_digest_table / ensure_lang_stats_table,
  similarity.ensure_codebook_table, graph.ensure_pairs_table — the last
  added in round 8, whose first-touch build is the full pair-mining pass)
  pay a corpus-sized build job on the FIRST call per (sf_dir, params) and
  a bounded read (the codebook adds an O(n_cells) collect) on every later
  call — including plan-only ones.
- the two-wave LSH kept paths (dedup.lsh_near_dedup_kept and
  incremental_kept_against, one core: dedup._two_wave_kept) eagerly
  persist+count their side frames and wave-1 drops at construction, by
  design (the wave-2 input depends on wave-1 results); tests/test_dedup.py
  caps their construction job counts.
- similarity.hybrid_topk runs its survivor guard (a limit+count) at
  construction so a non-selective keyword fails loudly before the
  broadcast, not after.

Plan-only consumers (this audit, .explain) therefore DO pay bounded jobs
for those families; the audit below stays correct because the jobs are
idempotent and the physical plan they return is the production plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_kmeans_spark.operators.relational import (
    q_customer_features,
    q_pricing_summary,
    q_region_volume,
    q_scan_projection,
    q_top_customers,
    q_top_orders,
)
from pyspark_kmeans_spark.plans import (
    assert_no_nested_loop_join,
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_aggregation,
    assert_pushed_filters,
    assert_read_schema_pruned,
    assert_whole_stage_codegen,
    physical_plan,
)
from pyspark_kmeans_spark.sources.tables import load_table


def test_projection_prunes_scan(spark, sf_dir):
    df = q_scan_projection(spark, sf_dir)
    assert_read_schema_pruned(
        df, "customer.parquet", {"c_custkey", "c_name", "c_acctbal"}
    )


def test_filter_pushdown(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    df = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    assert_pushed_filters(df, "EqualTo(c_mktsegment,BUILDING)")
    assert_read_schema_pruned(
        df, "customer.parquet", {"c_custkey", "c_mktsegment"}
    )


def test_top_orders_pushes_segment_filter(spark, sf_dir):
    df = q_top_orders(spark, sf_dir)
    assert_pushed_filters(df, "EqualTo(c_mktsegment,BUILDING)")
    assert_no_cartesian(df)


def test_pricing_summary_partial_agg_and_codegen(spark, sf_dir):
    df = q_pricing_summary(spark, sf_dir)
    assert_partial_aggregation(df)
    assert_whole_stage_codegen(df)
    # the date filter must reach the scan (Catalyst rewrites the
    # to_date(ts) <= d predicate into ts < d+1day → LessThan)
    assert_pushed_filters(df, "LessThan(l_shipdate")


def test_region_volume_broadcasts_dims(spark, sf_dir):
    df = q_region_volume(spark, sf_dir)
    # nation + region are broadcast; no cartesian anywhere
    assert_broadcast_join(df, min_count=2)
    assert_no_cartesian(df)


def test_flagship_plan(spark, sf_dir):
    df = q_customer_features(spark, sf_dir)
    assert_no_cartesian(df)
    # strengths (supplier-per-nation) joins broadcast
    assert_broadcast_join(df, min_count=1)
    # lineitem scan reads only the 3 columns the revenue agg needs
    assert_read_schema_pruned(
        df, "lineitem.parquet", {"l_orderkey", "l_extendedprice", "l_discount"}
    )


def test_top_customers_is_take_ordered(spark, sf_dir):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-partition
    # top-k + merge), not a full global sort.
    plan = physical_plan(q_top_customers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_near_dups_no_nested_loop(spark, sf_dir):
    # VERDICT r1 item 4: the exact cosine pair join must be the blocked
    # bipartite equi-join (bounded per-task memory), never a
    # BroadcastNestedLoopJoin whose broadcast side grows with the corpus.
    from pyspark_kmeans_spark.operators.similarity import q_embedding_near_dups

    df = q_embedding_near_dups(spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_no_cartesian(df)


def test_minhash_lsh_reuses_cached_token_frame(spark, sf_dir):
    """Round-2 regression pin for the LSH runtime fix: the banding side and
    BOTH verify joins must read the one persisted token-hash frame (plan
    shows InMemoryTableScan), and the documents parquet is scanned at most
    once (to build that frame) — re-tokenizing per branch is what cost
    180+ s at sf0.1 in round 1."""
    from pyspark_kmeans_spark.operators.dedup import q_dedup_minhash_lsh

    plan = physical_plan(q_dedup_minhash_lsh(spark, sf_dir))
    n_cached_reads = plan.count("InMemoryTableScan")
    assert n_cached_reads >= 3, plan
    # The formatted plan reprints each cached relation's DEFINITION (with
    # its parquet scan) under every InMemoryTableScan, so the honest
    # assertion is: no parquet scans beyond those embedded definitions —
    # i.e. every consumer branch reads the cache, none re-scans.
    n_parquet = plan.count("Scan parquet")
    assert n_parquet <= n_cached_reads + 1, (
        f"documents re-scanned outside the cache ({n_parquet} scans, "
        f"{n_cached_reads} cached reads):\n{plan}"
    )


def test_pack_sequences_single_exchange(spark, sf_dir):
    """Packing must be exactly one shuffle (the shard-key window) — a
    second exchange would mean the token counting or projection broke the
    window's partitioning reuse."""
    from pyspark_kmeans_spark.operators.curation import q_pack_sequences

    import re

    plan = physical_plan(q_pack_sequences(spark, sf_dir))
    # Count plan NODES (the formatted string repeats each node in the
    # details section), excluding reuse markers.
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n == 1, f"expected exactly 1 Exchange node, got {n}:\n{plan}"


def test_pii_and_frames_zero_shuffle(spark, sf_dir):
    """Redaction is a pure projection and frame sampling is scan →
    MapInPandas: any Exchange means a regression that would shuffle the
    full corpus/payload volume at 100 TB."""
    from pyspark_kmeans_spark.operators.curation import q_pii
    from pyspark_kmeans_spark.operators.multimodal import q_multimodal_frames

    for q in (q_pii, q_multimodal_frames):
        plan = physical_plan(q(spark, sf_dir))
        assert "Exchange" not in plan, f"{q.__name__} shuffles:\n{plan}"


def test_resample_ffill_bounded_join_and_partial_agg(spark, sf_dir):
    """The hourly aggregation must be partial+final and the spine↔sums
    join must not be cartesian; the fill window reuses the series
    partitioning (no exchange directly above the join)."""
    from pyspark_kmeans_spark.operators.analytics import q_event_resample_ffill

    df = q_event_resample_ffill(spark, sf_dir)
    assert_partial_aggregation(df)
    assert_no_cartesian(df)


def test_weighted_sample_uses_topk_not_global_sort(spark, sf_dir):
    """The top-n must be TakeOrderedAndProject (per-partition heaps) — a
    global Sort+Limit would serialize the corpus through one task."""
    from pyspark_kmeans_spark.operators.analytics import q_weighted_sample

    plan = physical_plan(q_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_cdc_apply_windows_feed_not_base(spark, sf_dir):
    """The latest-wins window must run over the change feed only; the base
    snapshot contributes one anti-join, no window, no nested loop."""
    from pyspark_kmeans_spark.operators.relational import q_cdc_apply

    import re

    df = q_cdc_apply(spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    # Exactly one Window NODE (the latest-wins rank over the feed): the
    # anti-join branch must use the raw feed's distinct keys, not re-run
    # the window subtree per union branch.
    assert len(re.findall(r"Window \(\d+\)", plan)) == 1, plan  # tree form; WindowGroupLimit does not match
    assert "LeftAnti" in plan, plan


def test_training_order_windows_are_bucket_partitioned(spark, sf_dir):
    """Both shuffles are linear: the big window partitions by bucket (no
    whole-corpus single-task sort) and the offsets join is broadcast."""
    from pyspark_kmeans_spark.operators.analytics import q_training_order

    df = q_training_order(spark, sf_dir)
    assert_no_cartesian(df)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # The row-rank window must be partitioned on the bucket column — an
    # empty partitionBy would compile to a single-partition Exchange over
    # the whole corpus.
    assert "hashpartitioning(_bkt" in plan, plan


def test_minhash_verify_joins_never_broadcast(spark, sf_dir):
    """The verify-join sides are corpus-scale and the candidate frame is
    explode-derived (static size estimate is garbage — at a 64x corpus
    Catalyst 'estimated' it broadcastable and died collecting 12 GiB).
    The shuffle_hash hints must hold: no BroadcastHashJoin anywhere in
    the LSH pair plan."""
    import re

    from pyspark_kmeans_spark.operators.dedup import q_dedup_minhash_lsh

    plan = physical_plan(q_dedup_minhash_lsh(spark, sf_dir))
    assert "BroadcastHashJoin" not in plan, plan
    assert len(re.findall(r"ShuffledHashJoin", plan)) >= 2, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction must be available: on a
    selective fact-fact join the big side's scan gains a might_contain
    filter fed by a bloom_filter_agg over the selective side, so at scale
    most lineitem rows die at the scan instead of crossing the shuffle.
    Spark enables the rewrite by default but gates it on a 10 GiB
    application-side scan threshold — exactly the 100 TB case; the test
    lowers the gate so the sf-fixture scan crosses it, and forces the
    join off the broadcast path (a broadcast join already prunes via its
    own runtime filter)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 450000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tokenize_vocab_join_never_broadcast(spark, sf_dir):
    """The tokenize id-join's vocab side is an explode-derived aggregate
    (static size estimate is garbage — same crash class as the minhash
    verify joins) and the token key is Zipfian: the shuffle_hash pin must
    hold so neither a static broadcast nor a sort-merge-on-skew sneaks
    in."""
    from pyspark_kmeans_spark.operators.curation import q_tokenize_docs

    plan = physical_plan(q_tokenize_docs(spark, sf_dir))
    # The id-map join is the only LeftOuter in this plan; the broadcast
    # inside build_vocab (distinct-counts offsets frame, provably tiny)
    # is Inner and allowed.
    assert "BroadcastHashJoin LeftOuter" not in plan, plan
    assert "ShuffledHashJoin LeftOuter" in plan, plan


# slow (504 s): builds ALL 191 registered plans (several run eager
# actions at build time).  Headline shapes stay pinned in the default
# suite by test_plan_goldens + the targeted asserts above; the global
# audit runs with -m slow (VERDICT r12 item 1).
@pytest.mark.slow
def test_all_registered_plans_no_unbounded_cross(spark, sf_dir):
    """Global plan audit: no registered query may compile to a
    CartesianProduct or an unexpected BroadcastNestedLoopJoin.

    A BNLJ whose broadcast side grows with the data is the classic
    silent 100 TB killer (it OOMs the driver collecting the 'small'
    side); one whose broadcast side is a 1-row aggregate is fine.  The
    allowlist names every query whose BNLJ is a documented bounded
    cross: text_tfidf and curation_importance cross in single-row
    totals frames (text.py / curation.py: `crossJoin(...agg(...))`),
    and ann_topk_cosine IS the brute-force baseline whose contract is
    'every corpus partition sees every probe' (similarity.py:60-92; the
    scale paths are ann_lsh_topk / ann_ivf_topk, both equi-joins);
    idle_rich_customers crosses in a 1-row global-average scalar
    (relational.py: `join(F.broadcast(threshold))`, TPC-H Q22's scalar
    subquery); graph_pagerank crosses in the 1-row node-count scalar the
    same way (graph.py: `join(F.broadcast(n_frame))`). Any new entry here
    needs the same justification."""
    import __spark_entry__ as entrymod

    bounded_bnlj = {
        "text_tfidf",
        "curation_importance",
        "ann_topk_cosine",
        "idle_rich_customers",
        "graph_pagerank",
        # tpch_q11 crosses in the 1-row total-value scalar (TPC-H Q11's
        # HAVING subquery — tpch.py: `join(F.broadcast(total))`);
        # dedup_lsh_recall crosses two 1-row count aggregates
        # (checks.py: `n_exact.crossJoin(n_hit)`); kmeans_check crosses
        # each vector with the k-row (k=8) centers frame — bounded by k,
        # not by the corpus (checks.py: `crossJoin(F.broadcast(centers))`).
        "tpch_q11",
        "dedup_lsh_recall",
        "kmeans_check",
        # hybrid_search is cosine_topk over the keyword-FILTERED corpus —
        # the same broadcast-probes brute-force contract as
        # ann_topk_cosine above (similarity.py:q_hybrid_search; the
        # keyword predicate is pushed to the documents scan and the
        # corpus side only shrinks).
        "hybrid_search",
        # ann_recall_check crosses three 1-row count aggregates
        # (checks.py: `n_exact.crossJoin(ivf_hits).crossJoin(lsh_hits)`).
        "ann_recall_check",
        # dedup_simhash_recall crosses four 1-row count aggregates
        # (checks.py: `n_exact.crossJoin(n_truth).crossJoin(n_complete)
        # .crossJoin(n_jac_hit)`) — the dedup_lsh_recall pattern.
        "dedup_simhash_recall",
        # daily_ingest_check crosses four 1-row count aggregates
        # (checks.py: `n_batch.crossJoin(n_kept_exact)
        # .crossJoin(n_subset_viol).crossJoin(n_total_mismatch)`) — the
        # same pattern.
        "daily_ingest_check",
        # lsh_twowave_check crosses the 1-row equality audit with the
        # 1-row over-cap-bucket count (checks.py:
        # `audit.crossJoin(over_cap)`) — the dedup_lsh_recall pattern.
        "lsh_twowave_check",
        # keep_best_lsh_check crosses three 1-row count aggregates
        # (checks.py: `n_docs.crossJoin(viol).crossJoin(over_cap)`) —
        # the same pattern.
        "keep_best_lsh_check",
        # curation_lm_score crosses in the 1-row vocabulary-size scalar
        # (curation.py: `join(F.broadcast(vocab))`).
        "curation_lm_score",
        # mixture_weights crosses the source-cardinality frame with two
        # 1-row broadcast aggregates (corpus token total, p^alpha
        # normalizer) — bounded by 1, never by the corpus
        # (curation.py: `crossJoin(F.broadcast(tot/zsum))`).
        "mixture_weights",
        # curation_token_budget crosses in the 1-row global token-budget
        # scalar twice (curation.py: `crossJoin(F.broadcast(budget))`
        # onto the bounded score-class frame and onto the per-lang
        # report) — bounded by 1, never by the corpus.
        "curation_token_budget",
        # epoch_plan embeds the mixture_weights weight computation (same
        # two 1-row scalar crosses); its own join is a broadcast equi-join
        # on the group key.
        "epoch_plan",
        # daily_ingest_semantic_check crosses the batch-sized audit frame
        # with the 1-row over-cap-bucket witness (checks.py:
        # `audited.crossJoin(F.broadcast(_over_cap_witness(docs)))`) —
        # the lsh_twowave_check pattern.
        "daily_ingest_semantic_check",
        # curation_domain_stats crosses the bounded mean-quality class
        # frame with the 1-row total-source-count scalar (curation.py:
        # `crossJoin(F.broadcast(tot))` — the curation_token_budget
        # pattern); curation_domain_filter embeds the same computation.
        "curation_domain_stats",
        "curation_domain_filter",
        # ann_pq_topk's ADC stage broadcasts the probe rows+LUTs against
        # the encoded corpus (non-equi probe!=neighbor join) — the
        # ann_topk_cosine broadcast-probes brute-force contract, with the
        # corpus side shrunk to 8 B codes/vector; pq_recall_check embeds
        # both it and cosine_topk plus 1-row count crosses.
        "ann_pq_topk",
        "pq_recall_check",
        # ivfpq_recall_check embeds the brute-force cosine_topk EXACT
        # baseline (the broadcast-probes non-equi contract) plus 1-row
        # count crosses; the ann_ivfpq_topk path under test is itself a
        # pure cell equi-join and is deliberately NOT in this list.
        "ivfpq_recall_check",
    }
    violations = {}
    for name, fn in entrymod.queries().items():
        plan = physical_plan(fn(spark, sf_dir))
        hits = [
            p
            for p in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if p in plan
        ]
        if hits == ["BroadcastNestedLoopJoin"] and name in bounded_bnlj:
            continue
        if hits:
            violations[name] = hits
        spark.catalog.clearCache()
    assert not violations, violations
