"""Bucketed-table co-located join: writing both fact tables bucketed on the
join key lets the join run with NO shuffle exchange on either side — the
layout-level optimization that matters most for repeated 100 TB joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_kmeans_spark.sources.tables import load_table

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    (
        li.write.mode("overwrite")
        .option("path", str(warehouse / "li"))
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
    )
    (
        orders.write.mode("overwrite")
        .option("path", str(warehouse / "ord"))
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("ord_bucketed")
    )
    yield spark.table("li_bucketed"), spark.table("ord_bucketed")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_join_has_no_exchange(spark, sf_dir, bucketed_tables):
    li, orders = bucketed_tables
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_custkey"
    ).agg(F.count(F.lit(1)).alias("n"))
    # Disable broadcast so the join strategy decision is about shuffles.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined.collect()
        full = joined._jdf.queryExecution().executedPlan().toString()
        # AQE prints Final + Initial sections; judge only the final plan.
        plan = full.split("== Initial Plan ==")[0]
        # the join must read bucketed scans directly: no Exchange below the
        # SortMergeJoin (the only exchange allowed is for the groupBy on
        # o_custkey ABOVE the join)
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, plan
        assert plan.count("Exchange") <= 1, plan
        assert "Bucketed: true" in plan, plan
        # correctness: equals the plain parquet join
        plain = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted((r.o_custkey, r.n) for r in joined.collect()) == sorted(
            (r.o_custkey, r.n) for r in plain.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")


def test_registered_bucketed_query_plan_and_values(spark, sf_dir):
    """The registered bucketed_order_revenue query must (a) join the
    bucketed scans with no Exchange below the SortMergeJoin when broadcast
    is off, and (b) return exactly the plain-parquet join's values."""
    from pyspark_kmeans_spark.sources.bucketed import q_bucketed_order_revenue

    joined = q_bucketed_order_revenue(spark, sf_dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows = joined.collect()
        full = joined._jdf.queryExecution().executedPlan().toString()
        plan = full.split("== Initial Plan ==")[0]
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, plain.collect()))


def test_fresh_catalog_registers_existing_copy_without_rewrite(
    spark, sf_dir, monkeypatch
):
    """VERDICT r9 "What's wrong" #3: the default catalog is process-local,
    so a fresh process used to REWRITE the bucketed copies even though the
    parquet already sat in the warehouse.  Pin the ensure-contract: with
    the copies on disk but absent from the catalog (simulated by DROP
    TABLE — the copies are external, files survive), a re-ensure must
    perform ZERO writes (saveAsTable monkeypatched to fail loudly), and
    the registered table must keep the zero-exchange join plan and the
    plain-parquet values."""
    import pyspark.sql.readwriter as rw

    from pyspark_kmeans_spark.sources.bucketed import (
        bucketed_name,
        ensure_bucketed_tables,
        q_bucketed_order_revenue,
    )

    ensure_bucketed_tables(spark, sf_dir)  # guarantee the copies exist
    for tbl in ("lineitem", "orders"):
        spark.sql(f"DROP TABLE {bucketed_name(tbl, sf_dir)}")

    def _no_write(self, *a, **k):
        raise AssertionError(
            "saveAsTable called — ensure rewrote an existing bucketed copy"
        )

    monkeypatch.setattr(rw.DataFrameWriter, "saveAsTable", _no_write)
    joined = q_bucketed_order_revenue(spark, sf_dir)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows = joined.collect()
        full = joined._jdf.queryExecution().executedPlan().toString()
        plan = full.split("== Initial Plan ==")[0]
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, plain.collect()))


def test_gc_warehouse_dry_run_lists_then_delete_spares_live(tmp_path):
    """The warehouse GC (the engine's only unbounded-growth path): dry-run
    returns the orphaned artifacts without touching disk; a real run
    deletes exactly them — live-tagged artifacts and non-artifact entries
    (metastore, Spark side dirs) are never victims."""
    from pyspark_kmeans_spark.functions.warehouse_gc import gc_warehouse
    from pyspark_kmeans_spark.sources.bucketed import bucketed_name

    wh = tmp_path / "wh"
    wh.mkdir()
    live_sf, dead_sf = str(tmp_path / "sf_live"), str(tmp_path / "sf_dead")
    # Names come from the REAL writer-side generator, so this test ties
    # the GC's pattern to bucketed_name's actual output — a naming-scheme
    # change that desynchronizes them fails here instead of deleting
    # every live artifact in production.
    live = wh / bucketed_name("doc_sigs_m5_s7", live_sf, n_buckets=64)
    dead = wh / bucketed_name("ivf_codebook_m5_s1", dead_sf, n_buckets=16)
    # A crashed fold's orphaned staging dir follows its artifact's tag.
    live_staging = wh / f"{live.name}.staging-0123456789ab"
    dead_staging = wh / f"{dead.name}.staging-0123456789ab"
    other = wh / "metastore_db"
    for d in (live, dead, live_staging, dead_staging, other):
        d.mkdir()
    victims = gc_warehouse([live_sf], warehouse=str(wh))
    assert victims == [str(dead), str(dead_staging)]
    assert dead.exists(), "dry run must not delete"
    gc_warehouse([live_sf], dry_run=False, warehouse=str(wh))
    assert not dead.exists() and not dead_staging.exists()
    assert live.exists() and live_staging.exists() and other.exists()


def test_gc_pattern_requires_bucketed_infix(tmp_path):
    """ADVICE r8 #3: a foreign directory that merely ends in
    `_<8hex>_b<n>` (the loose suffix) but lacks the engine's literal
    `_bucketed_` infix must never be a GC victim — every engine artifact
    name comes from bucketed_name, which always emits the infix."""
    from pyspark_kmeans_spark.functions.warehouse_gc import (
        _ARTIFACT_RE,
        gc_warehouse,
    )
    from pyspark_kmeans_spark.sources.bucketed import bucketed_name

    wh = tmp_path / "wh"
    wh.mkdir()
    foreign = wh / "userdata_deadbeef_b8"  # loose suffix, no infix
    engine_dead = wh / bucketed_name("digest", str(tmp_path / "gone"), 1)
    for d in (foreign, engine_dead):
        d.mkdir()
    assert _ARTIFACT_RE.search(foreign.name) is None
    assert _ARTIFACT_RE.search(engine_dead.name) is not None
    victims = gc_warehouse([], dry_run=False, warehouse=str(wh))
    assert victims == [str(engine_dead)]
    assert foreign.exists() and not engine_dead.exists()
