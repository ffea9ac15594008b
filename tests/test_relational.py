"""Batch-6 operators: decorrelated-subquery shapes, training shards,
quality-aware canonicalization.

Value correctness vs DuckDB is pinned by the oracle gate
(tools/check_correctness.py); these tests pin the semantics on hand-made
edge inputs and the physical-plan properties that matter at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from anomalydetection_spark.operators import dedup, packing
from anomalydetection_spark.plans import driver_queries_relational as dqr
from anomalydetection_spark.plans import driver_queries_training as dqt

SF = "/root/testdata/sf0.01"


def _formatted(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# shard_assign
# ---------------------------------------------------------------------------


def test_shard_assign_deterministic_and_bounded(spark):
    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["shard"] for r in packing.shard_assign(docs, "doc_id", 16).collect()}
    b = {r["doc_id"]: r["shard"] for r in packing.shard_assign(docs, "doc_id", 16).collect()}
    assert a == b  # reproducible run to run
    assert all(0 <= s < 16 for s in a.values())


def test_shard_assign_balances_sequential_ids(spark):
    # hash-mod must spread sequential ids (the adversarial case for
    # range/modulo sharding) roughly evenly: no shard > 2x the mean
    docs = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    counts = (
        packing.shard_assign(docs, "doc_id", 16)
        .groupBy("shard")
        .count()
        .collect()
    )
    assert len(counts) == 16
    sizes = [r["count"] for r in counts]
    assert max(sizes) < 2 * (4000 / 16)
    assert min(sizes) > 0.5 * (4000 / 16)


# ---------------------------------------------------------------------------
# keep_best canonicalization
# ---------------------------------------------------------------------------


def test_keep_best_picks_highest_quality(spark):
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "node long, comp long"
    )
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.4), (11, 0.4)],
        "doc_id long, quality double",
    )
    out = {
        r["cluster_id"]: r
        for r in dedup.keep_best(comp, scored, "doc_id", "quality").collect()
    }
    assert out[1]["keep_id"] == 2 and out[1]["n_members"] == 3
    assert abs(out[1]["best_score"] - 0.9) < 1e-12
    # tie on quality → lowest id survives
    assert out[10]["keep_id"] == 10 and out[10]["n_members"] == 2


def test_keep_best_is_agg_not_window(spark):
    comp = spark.createDataFrame([(1, 1), (2, 1)], "node long, comp long")
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9)], "doc_id long, quality double"
    )
    plan = _formatted(spark, dedup.keep_best(comp, scored, "doc_id", "quality"))
    assert "Window" not in plan  # struct-max hash agg, partial-aggregated
    assert "partial_max" in plan or "partial_count" in plan


# ---------------------------------------------------------------------------
# decorrelated-subquery shapes
# ---------------------------------------------------------------------------


def test_q4_plans_hash_semi_join(spark):
    plan = _formatted(spark, dqr.q4_priority_late_exists(spark, SF))
    assert "LeftSemi" in plan
    # the correlated date predicate rides the hash join condition — never
    # a nested-loop or cartesian plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # lineitem scan reads only the two referenced columns
    li_schema = [
        seg.splitlines()[0]
        for seg in plan.split("ReadSchema: ")[1:]
        if "l_orderkey" in seg.splitlines()[0]
    ]
    assert li_schema and all("l_quantity" not in s for s in li_schema)


def test_q17_partial_agg_before_join_back(spark):
    plan = _formatted(spark, dqr.q17_small_quantity_share(spark, SF))
    # the per-part average is ONE partial-aggregated hash agg on the fact
    # table, joined back — never a per-row correlated subquery
    assert "partial_sum(qty" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_q21_self_joins_hash_on_orderkey(spark):
    plan = _formatted(spark, dqr.q21_sole_blame_suppliers(spark, SF))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    # the suppkey inequality is a residual condition on the l_orderkey
    # hash joins — no nested loop over the fact table
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts


def test_q22_scalar_agg_no_window(spark):
    df = dqr.q22_idle_rich_customers(spark, SF)
    plan = _formatted(spark, df)
    assert "Window" not in plan  # global avg via scalar agg + broadcast
    assert "LeftAnti" in plan
    # fixed-point output: no float column crosses the boundary
    kinds = dict(df.dtypes)
    assert kinds["total_acctbal_fp"] == "bigint"


def test_q15_scalar_max_no_window_no_sort(spark):
    df = dqr.q15_top_revenue_supplier(spark, SF)
    plan = _formatted(spark, df)
    # the argmax is a scalar-max broadcast crossJoin over the aggregated
    # per-supplier view — never a global sort or a partition-less window
    assert "Window" not in plan
    assert "Sort (" not in plan or "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert dict(df.dtypes)["total_revenue_fp"] == "bigint"


def test_q15_ties_emit_every_argmax_row(spark):
    li = spark.createDataFrame(
        [(1, 100.0, 0.0), (2, 50.0, 0.0), (2, 50.0, 0.0)],
        "l_suppkey long, l_extendedprice double, l_discount double",
    )
    sup = spark.createDataFrame(
        [(1, "a"), (2, "b")], "s_suppkey long, s_name string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(f"{d}/lineitem.parquet")
        sup.write.parquet(f"{d}/supplier.parquet")
        rows = sorted(
            (r["s_suppkey"], r["total_revenue_fp"])
            for r in dqr.q15_top_revenue_supplier(spark, d).collect()
        )
    assert rows == [(1, 10000), (2, 10000)]  # both maxima surface


def test_q19_disjunction_is_post_filter_on_hash_join(spark):
    plan = _formatted(spark, dqr.q19_branded_revenue(spark, SF))
    # the OR spans both join sides → post-join filter on a plain hash
    # equi-join on the part key, never a nested loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q20_prunes_fact_before_heavy_agg(spark):
    plan = _formatted(spark, dqr.q20_heavy_suppliers(spark, SF))
    # the part-name family filter semi-joins the fact table BEFORE the
    # per-(part,supplier) agg: the semi-join must appear below the partial agg
    semi_pos = plan.find("LeftSemi")
    agg_pos = plan.find("partial_sum")
    assert semi_pos != -1 and agg_pos != -1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_q7_broadcasts_nations_no_nested_loop(spark):
    plan = _formatted(spark, dqr.q7_volume_shipping(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation dims broadcast
    # lineitem scan projects only the 4 referenced leaf columns
    assert "l_returnflag" not in plan


def test_q8_share_is_conditional_agg_single_pass(spark):
    df = dqr.q8_market_share(spark, SF)
    plan = _formatted(spark, df)
    # numerator and denominator come from ONE agg — no self-join/union of
    # two scans, no window
    assert "Window" not in plan
    assert "Union" not in plan
    kinds = dict(df.dtypes)
    assert kinds["nation_fp"] == "bigint" and kinds["total_fp"] == "bigint"


def test_q9_semi_join_prunes_before_agg(spark):
    plan = _formatted(spark, dqr.q9_product_profit(spark, SF))
    semi_pos = plan.find("LeftSemi")
    agg_pos = plan.find("partial_sum")
    assert semi_pos != -1 and agg_pos != -1
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_aggregates_before_customer_join(spark):
    plan = _formatted(spark, dqr.q10_returned_items(spark, SF))
    # per-customer revenue aggregates BEFORE the customer/nation joins so
    # c_name never rides the big exchange; top-20 plans TakeOrdered
    assert "TakeOrderedAndProject" in plan
    # returnflag filter pushes to the lineitem scan
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan \
        or "EqualTo(l_returnflag,R)" in plan


def test_q12_q14_single_agg_no_window(spark):
    for fn in (dqr.q12_late_priority_lines, dqr.q14_promo_share):
        plan = _formatted(spark, fn(spark, SF))
        assert "Window" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_q2_groupwise_min_keeps_ties_no_window(spark):
    plan = _formatted(spark, dqr.q2_cheapest_supplier(spark, SF))
    # the correlated min decorrelates into a per-part agg joined back —
    # never a window or nested loop; part/nation dims broadcast
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_min" in plan


def test_q11_threshold_is_scalar_agg_single_derivation(spark):
    df = dqr.q11_important_stock(spark, SF)
    assert "Window" not in _formatted(spark, df)
    assert dict(df.dtypes)["part_val"] == "bigint"
    # the global total derives from the SAME per-part aggregate: AQE reuses
    # the groupBy(l_partkey) exchange at runtime, so lineitem is scanned
    # and partially aggregated exactly once
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in executed


def test_ppl_buckets_no_window_no_smj(spark):
    plan = _formatted(spark, dqt.ppl_buckets_by_source(spark, SF))
    assert "Window" not in plan
    kinds = dict(dqt.ppl_buckets_by_source(spark, SF).dtypes)
    assert kinds["n_docs"] == "bigint" and kinds["n_tokens"] == "bigint"
