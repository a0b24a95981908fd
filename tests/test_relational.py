"""Registry-level checks beyond the oracle harness: plan shape (the
scale-sensitive properties) and operator unit behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from actuarial_reserve_modelling_spark.operators.joins import asof_join
from actuarial_reserve_modelling_spark.plans.registry import load_all

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def registry():
    return load_all()


@pytest.mark.slow
def test_all_queries_run_at_smoke_sf(registry_run):
    for name, r in registry_run.items():
        assert r.build_error is None and r.count_error is None, (
            name, r.build_error or r.count_error
        )
        assert r.count >= 0, name


def test_projection_prunes_scan(spark, registry):
    """P2: the physical scan must read only the referenced columns."""
    df = registry["p2_project_prune"].spark_fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_extendedprice" not in plan
    assert "l_orderkey" in plan


def test_filter_pushed_to_scan(spark, registry):
    """P3/P6: predicates must reach the parquet reader."""
    df = registry["p3_p6_compound_filter"].spark_fn(spark, SF_SMOKE)
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in scan
    assert "IsNotNull(l_quantity)" in scan or "LessThan(l_quantity" in scan


def test_broadcast_join_is_broadcast(spark, registry):
    """J1: the nation dim must broadcast — no shuffle of the fact side."""
    df = registry["j1_broadcast_join_agg"].spark_fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_topk_avoids_global_sort(spark, registry):
    """O3: ordered limit must plan TakeOrderedAndProject, not a full
    range-partitioned sort."""
    df = registry["o1_o3_topk"].spark_fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [Row(k="a", t=5, lv="L5"), Row(k="a", t=1, lv="L1"), Row(k="b", t=3, lv="L3")]
    )
    right = spark.createDataFrame(
        [
            Row(k="a", t=2, rv=20.0),
            Row(k="a", t=5, rv=50.0),
            Row(k="b", t=4, rv=40.0),
        ]
    )
    out = asof_join(
        left, right, on="t", by=["k"], value_cols=["rv"], allow_exact_matches=True
    )
    got = {(r["k"], r["t"]): r["rv_right"] for r in out.collect()}
    # a@5 matches the equal-ts right row; a@1 has no prior; b@3 none (right at 4)
    assert got == {("a", 5): 50.0, ("a", 1): None, ("b", 3): None}

    strict = asof_join(
        left, right, on="t", by=["k"], value_cols=["rv"], allow_exact_matches=False
    )
    got2 = {(r["k"], r["t"]): r["rv_right"] for r in strict.collect()}
    # strict: a@5 now takes the ts=2 row instead of the equal-ts one
    assert got2 == {("a", 5): 20.0, ("a", 1): None, ("b", 3): None}


def test_s4_listing_source_names(spark, registry):
    """S4 rows-only query: the listing must surface exactly the ten
    tables with nonzero sizes."""
    rows = registry["s4_listing_source"].spark_fn(spark, SF_SMOKE).collect()
    names = sorted(r["file_name"] for r in rows)
    expected = sorted(
        f"{t}.parquet"
        for t in "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    assert names == expected
    assert all(r["size_bytes"] > 0 for r in rows)


def test_repartition_by_range_bucketing(spark):
    """O2's scale path: repartitionByRange gives contiguous, sorted,
    non-overlapping key ranges per partition (the entrypoint.sh ceil-div
    slicing, distributed)."""
    from pyspark.sql import functions as F2

    df = spark.range(0, 1000).select(F2.col("id"))
    parts = (
        df.repartitionByRange(8, "id")
        .select("id", F2.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(F2.min("id").alias("lo"), F2.max("id").alias("hi"), F2.count("*").alias("n"))
        .orderBy("lo")
        .collect()
    )
    assert len(parts) == 8
    assert sum(p["n"] for p in parts) == 1000
    for a, b in zip(parts, parts[1:]):
        assert a["hi"] < b["lo"]  # non-overlapping contiguous ranges


def test_approx_percentile_tolerance(spark, registry):
    approx = (
        registry["a10b_approx_percentile"]
        .spark_fn(spark, SF_SMOKE)
        .collect()[0]["approx_median"]
    )
    from actuarial_reserve_modelling_spark.catalog import load_table

    exact = (
        load_table(spark, SF_SMOKE, "orders")
        .agg(F.median("o_totalprice"))
        .collect()[0][0]
    )
    assert abs(approx - exact) / exact < 0.05


def test_tablesample_seeded_reproducible(spark, registry):
    a = registry["o6_tablesample"].spark_fn(spark, SF_SMOKE).collect()[0]
    b = registry["o6_tablesample"].spark_fn(spark, SF_SMOKE).collect()[0]
    assert tuple(a) == tuple(b)
    from actuarial_reserve_modelling_spark.catalog import load_table

    total = load_table(spark, SF_SMOKE, "lineitem").count()
    assert abs(a["n_sampled"] / total - 0.1) < 0.03


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing: co-located storage layout removes the join shuffle —
    both sides bucketed by the key into the same bucket count join with
    zero Exchange operators (the 100 TB repeated-join optimization)."""
    import uuid

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    from actuarial_reserve_modelling_spark.catalog import load_table

    suffix = uuid.uuid4().hex[:8]
    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode("overwrite").saveAsTable(
        f"b_orders_{suffix}"
    )
    cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode("overwrite").saveAsTable(
        f"b_cust_{suffix}"
    )
    bo = spark.table(f"b_orders_{suffix}")
    bc = spark.table(f"b_cust_{suffix}")
    # disable auto-broadcast so the join would otherwise shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bo.join(bc, bo.o_custkey == bc.c_custkey).groupBy("c_mktsegment").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the join itself must not exchange either side (only the final
        # aggregate exchanges)
        join_part = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert join_part.count("Exchange") == 0, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS b_orders_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS b_cust_{suffix}")


def test_bloom_filter_bounds(spark, registry):
    """No false negatives; false-positive rate within the sketch's
    design bound (n=10k keys, 80k bits → fpp ≈ 2-3%)."""
    row = registry["a13_bloom_filter"].spark_fn(spark, SF_SMOKE).collect()[0]
    from actuarial_reserve_modelling_spark.catalog import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    cust = load_table(spark, SF_SMOKE, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    true_n = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    ).count()
    assert row["n_true"] == true_n  # zero false negatives
    total = orders.count()
    fp = row["n_bloom_pass"] - true_n
    assert fp / max(total - true_n, 1) < 0.1


def test_hll_sketch_union_accuracy(spark, registry):
    """Sketch-union estimate within HLL error bounds of the exact
    distinct count, and invariant to partitioning (mergeability)."""
    row = registry["a16_hll_sketch_union"].spark_fn(spark, SF_SMOKE).collect()[0]
    from actuarial_reserve_modelling_spark.catalog import load_table

    exact = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey")
        .distinct()
        .count()
    )
    assert abs(row["approx_total_custkeys"] - exact) / exact < 0.05
    assert row["n_sketches"] == 5


def test_approx_count_distinct_rsd(spark, registry):
    exact = (
        registry["a5_count_distinct"].spark_fn(spark, SF_SMOKE).collect()[0]["n_cust"]
    )
    approx = (
        registry["a6_approx_count_distinct"]
        .spark_fn(spark, SF_SMOKE)
        .collect()[0]["approx_n_cust"]
    )
    assert abs(approx - exact) / exact < 0.1


def test_observe_data_quality_metrics(spark):
    """df.observe: data-quality counters collected during the job itself
    (no second pass over the data) — the production pattern for row
    counts / null counts / invalid-value counts at 100 TB, where a
    separate validation scan doubles the cost."""
    from pyspark.sql import Observation

    from actuarial_reserve_modelling_spark.catalog import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    obs = Observation("quality")
    checked = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("bad_qty"),
        F.sum(F.col("l_extendedprice").isNull().cast("int")).alias("null_price"),
    )
    checked.write.mode("overwrite").format("noop").save()
    m = obs.get
    assert m["n_rows"] > 0
    assert m["bad_qty"] == 0
    assert m["null_price"] == 0


def test_rebalance_hint_in_plan(spark):
    """REBALANCE hint: AQE splits/coalesces output partitions to the
    advisory size — the knob that fixes the small-files problem on
    100 TB writes without hand-picking a repartition count."""
    from actuarial_reserve_modelling_spark.catalog import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    df = li.hint("rebalance").select("l_orderkey", "l_quantity")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in plan, plan[:500]


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Catalyst injects a runtime bloom filter on the FACT side of a
    shuffled join whose other side is selective — semi-join reduction
    without any manual bloom plumbing (the a13 operator's automatic
    twin). At 100 TB this is the difference between shuffling the whole
    fact table and shuffling only rows that can match; the test pins
    that our session config keeps the feature live. Thresholds are
    lowered because the local testdata is far below the production
    defaults (10 MB creation side / 10 GB scan side)."""
    from actuarial_reserve_modelling_spark.catalog import load_table

    from .conftest import SF_CORRECTNESS

    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        li = load_table(spark, SF_CORRECTNESS, "lineitem")
        orders = load_table(spark, SF_CORRECTNESS, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            saved["spark.sql.autoBroadcastJoinThreshold"],
        )
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed+sorted on the join key with equal bucket
    counts must join with ZERO shuffle exchanges and both scans reading
    bucketed (the write-once/join-many layout). Broadcast is disabled
    for the check — it simulates the fact-x-fact case the layout exists
    for, where neither side fits in memory."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.sources.sinks import write_bucketed

    sf = "/root/testdata/sf0.001"
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    write_bucketed(cust, "t_bkt_cust", "c_custkey", buckets=4)
    write_bucketed(orders, "t_bkt_ord", "c_custkey", buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bkt_cust").join(spark.table("t_bkt_ord"), "c_custkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
        # and the join is still CORRECT through the bucketed path
        got = j.count()
        expect = cust.join(orders, "c_custkey").count()
        assert got == expect
        # idempotent rebuild (same session): overwrite, not duplicate
        write_bucketed(cust, "t_bkt_cust", "c_custkey", buckets=4)
        assert spark.table("t_bkt_cust").count() == cust.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_topk_equals_plain_window_on_skewed_input(spark):
    """salted_topk must reproduce the plain rank-window answer row for
    row when the order is total — including on the skew shape it
    exists for (one key holding most of the rows), and its phase-1
    exchange must hash on (key, salt) with a WindowGroupLimit on each
    side of both exchanges."""
    from pyspark.sql import Window

    from actuarial_reserve_modelling_spark.operators.skew import salted_topk

    # hot key 0 has 5000 rows; 50 cold keys have 10 each
    rows = [(0, i, float((i * 37) % 991)) for i in range(5000)]
    rows += [(k, 10_000 + k * 10 + j, float(j * k)) for k in range(1, 51) for j in range(10)]
    df = spark.createDataFrame(rows, "key int, id long, score double")

    order = [F.col("score").desc(), F.col("id")]
    got = salted_topk(df, keys=["key"], order=order, k=5, num_salts=8, salt_cols=["id"])
    w = Window.partitionBy("key").orderBy(*order)
    want = (
        df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    )
    got_rows = {tuple(r) for r in got.select("key", "id", "score", "rn").collect()}
    want_rows = {tuple(r) for r in want.select("key", "id", "score", "rn").collect()}
    assert got_rows == want_rows and len(want_rows) == 51 * 5

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 4  # partial+final, both phases
    assert "_salt" in plan.split("Window ")[0] or "_salt" in plan


def test_salted_topk_rejects_colliding_column_names(spark):
    """Inputs that already carry the internal working columns (or the
    rank column) must fail loudly instead of producing wrong ranks
    (ADVICE r8)."""
    import pytest

    from actuarial_reserve_modelling_spark.operators.skew import salted_topk

    base = spark.createDataFrame([(1, 2, 0.5)], "key int, id long, score double")
    order = [F.col("score").desc(), F.col("id")]
    for bad in ("_salt", "_rn1", "rn"):
        df = base.withColumn(bad, F.lit(1))
        with pytest.raises(ValueError, match="collides"):
            salted_topk(df, keys=["key"], order=order, k=1)
    with pytest.raises(ValueError, match="collides"):
        salted_topk(base, keys=["key"], order=order, k=1, rank_col="_salt")
    # a non-default rank_col frees up 'rn' as an input column
    ok = salted_topk(
        base.withColumn("rn", F.lit(9)), keys=["key"], order=order, k=1, rank_col="r2"
    )
    assert ok.columns.count("r2") == 1 and ok.count() == 1


def test_fixed_vecs_rejects_ragged_rows():
    """A ragged list column whose total element count divides evenly by
    the row count must raise, not silently mis-reshape (ADVICE r8)."""
    import pyarrow as pa
    import pytest

    from actuarial_reserve_modelling_spark.operators.arrowkit import fixed_vecs

    # 2 rows, 6 elements total: len(flat)//n == 3 but rows are 2 and 4
    ragged = pa.array([[1.0, 2.0], [3.0, 4.0, 5.0, 6.0]])
    with pytest.raises(ValueError, match="uniform rows"):
        fixed_vecs(ragged)
    with pytest.raises(ValueError, match="uniform rows"):
        fixed_vecs(ragged, d=2)
    uniform = pa.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
    assert fixed_vecs(uniform).shape == (2, 3)
