"""Physical-plan regression tests: the optimizations the engine relies on
at 100 TB must be visible in the plan, not assumed.

Each assertion pins a property that silently regressing would make the
plan correct-but-unscalable: filter pushdown to the parquet scan, column
pruning, broadcast (not shuffle) joins for dimensions, partial+final hash
aggregation, and no Python row-loop operators in JVM-only pipelines.
"""

from __future__ import annotations

import pytest

from anomalydetection_spark.datagen import DataGenConfig, generate_documents, generate_media_assets
from anomalydetection_spark.operators import reassembly, referential, stats, uniqueness
from anomalydetection_spark.plans import driver_queries as dq

SF = "/root/testdata/sf0.01"


def _formatted(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_pushdown_and_pruning(spark):
    plan = _formatted(spark, dq.q1_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # pruned scan: the 16-column table reads only the 7 referenced columns
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "partial_sum" in plan  # map-side partial aggregation before the exchange


def test_q6_scan_only_needed_columns(spark):
    plan = _formatted(spark, dq.q6_revenue_filter(spark, SF))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_discount" in read_schema
    assert "l_returnflag" not in read_schema
    assert "PushedFilters" in plan and "GreaterThanOrEqual(l_discount,0.05)" in plan


def test_referential_uses_broadcast_join(spark):
    cfg = DataGenConfig(n_docs=200, n_partitions=2)
    docs = generate_documents(spark, cfg)
    media = generate_media_assets(spark, cfg)
    exploded = reassembly.explode_spans_meta(docs)
    _, violations = referential.check(exploded, media)
    plan = _formatted(spark, violations)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_q3_join_build_sides_broadcast(spark):
    plan = _formatted(spark, dq.q3_shipping_priority(spark, SF))
    # dimension sides broadcast at this scale (AQE may re-plan larger scales)
    assert "BroadcastHashJoin" in plan
    # top-k plans as TakeOrderedAndProject, not global sort
    assert "TakeOrderedAndProject" in plan


def test_uniqueness_two_phase(spark):
    """Uniqueness is one combinable aggregate in two phases — map-side
    partials, then a single shuffle keyed by doc_id into the final merge.
    partial_collect_set is among the partials, so a hot doc_id reaches its
    reducer as one row per map task without a salt."""
    import re

    cfg = DataGenConfig(n_docs=200, n_partitions=2)
    docs = generate_documents(spark, cfg)
    plan = _formatted(spark, uniqueness.duplicate_keys(docs))
    exchanges = re.findall(r"\(\d+\) Exchange\n.*\nArguments: (.*)", plan)
    assert len(exchanges) == 1, plan
    assert re.match(r"hashpartitioning\(doc_id#\d+, \d+\)", exchanges[0]), exchanges
    assert "partial_collect_set" in plan and "partial_count" in plan


def test_stats_single_aggregate_no_python(spark):
    cfg = DataGenConfig(n_docs=200, n_partitions=2)
    docs = generate_documents(spark, cfg)
    exploded = reassembly.explode_spans_meta(docs)
    verdicts, _ = stats.check(docs, exploded)
    plan = _formatted(spark, verdicts)
    # pure JVM: no Arrow/Python eval nodes in the stats path
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_whole_stage_codegen_in_parse(spark):
    from anomalydetection_spark import pipeline

    raw = spark.createDataFrame([("- a b c d e f g h i j",)], "value string")
    plan = _formatted(spark, pipeline.mine_templates(pipeline.parse_logs(raw)))
    # formatted mode marks fused operators with codegen ids (* prefix)
    assert "[codegen id : " in plan
    assert "BatchEvalPython" not in plan


def test_roc_auc_no_global_sort_window(spark):
    """Exact AUC must rank within score-range buckets — a partition-less
    Window (single-task global sort) is the 100-TB scale killer."""
    plan = _formatted(spark, dq.roc_auc_embeddings(spark, SF))
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            # empty partition spec renders as "], [], [" before the ordering
            assert "], [], [" not in line, line
    assert "Window" in plan  # the bucketed within-partition rank remains


def test_drift_no_partitionless_window(spark):
    plan = _formatted(spark, dq.drift_kl_psi_by_source(spark, SF))
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "], [], [" not in line, line


def test_uniqueness_preserves_column_pruning(spark, tmp_path):
    """duplicate_keys must not defeat parquet column pruning: the scan
    reads (doc_id, partition_id), never the wide spans column."""
    from anomalydetection_spark.datagen import DataGenConfig, generate_documents

    generate_documents(spark, DataGenConfig(n_docs=200, n_partitions=2)).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    plan = _formatted(spark, uniqueness.duplicate_keys(docs))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read_schema and "partition_id" in read_schema
    assert "spans" not in read_schema, read_schema


def test_suite_branches_prune_nested_leaves(spark, tmp_path):
    """The pruning-friendly exploded view: per-branch parquet scans read
    only the struct leaves that branch needs — span_order reads just
    offset, referential just kind+media_ref. Reading all four leaves
    (incl. the fat text) in every branch was the round-2 scan-volume bug."""
    from anomalydetection_spark.datagen import DataGenConfig, generate_documents
    from anomalydetection_spark.operators import referential as ref_op

    generate_documents(spark, DataGenConfig(n_docs=200, n_partitions=2)).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    media = generate_media_assets(spark, DataGenConfig(n_docs=200, n_partitions=2))

    so_verdicts, _ = reassembly.check(docs)
    plan = _formatted(spark, so_verdicts)
    # two scans: the permutation check's, and the per-partition row count's
    schemas = [part.splitlines()[0] for part in plan.split("ReadSchema: ")[1:]]
    assert any("offset" in s for s in schemas), schemas
    assert not any("text" in s for s in schemas), schemas

    exploded = reassembly.explode_spans_meta(docs)
    _, viol = ref_op.check(exploded, media)
    plan = _formatted(spark, viol)
    for part in plan.split("ReadSchema: ")[1:]:
        schema = part.splitlines()[0]
        if "spans" in schema:
            assert "text:string" not in schema, schema

    # pattern/cross_column share the contract: kind+media_ref leaves only
    from anomalydetection_spark.operators import patterns

    fused = patterns.fused_check(exploded)
    for verdicts in (
        patterns.pattern_check(exploded)[0],
        patterns.cross_column_check(exploded)[0],
        # the fused single-scan path keeps the same pruning contract
        fused["pattern"][1],
        fused["cross_column"][0],
    ):
        plan = _formatted(spark, verdicts)
        for part in plan.split("ReadSchema: ")[1:]:
            schema = part.splitlines()[0]
            if "spans" in schema:
                assert "text:string" not in schema, schema


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucket-expansion rewrite must plan as a broadcast HASH join on
    the day bucket — a BroadcastNestedLoopJoin here means the containment
    predicate fell through as the join condition and every event row is
    tested against every window."""
    plan = _formatted(spark, dq.range_join_windows(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join layout (§2.3 at scale): two tables bucketed on the
    join key plan a SortMergeJoin with NO Exchange on either side — the
    recurring-join shuffle is paid once at write time."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.sources.io import write_bucketed

    a = spark.range(50_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(50_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bkt_plan_a", "k", n_buckets=8)
    write_bucketed(b, "bkt_plan_b", "k", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_plan_a").join(spark.table("bkt_plan_b"), "k")
        plan = _formatted(spark, j)
        n = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_plan_a")
        spark.sql("DROP TABLE IF EXISTS bkt_plan_b")
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan
    assert n == 50_000


def test_resume_scan_prunes_hive_partitions(spark, tmp_path):
    """Manifest resume at 10^12 docs only works if the pending-partition
    filter becomes a PARTITION filter on a partition_id-partitioned table —
    pruned at file listing, zero data read for done partitions — not a
    post-scan row filter over the whole table."""
    from pyspark.sql import functions as F

    docs = generate_documents(spark, DataGenConfig(n_docs=2000, n_partitions=8))
    path = str(tmp_path / "docs_part")
    docs.write.partitionBy("partition_id").mode("overwrite").parquet(path)

    pending = [2, 5]
    resumed = spark.read.parquet(path).filter(F.col("partition_id").isin(pending))
    plan = _formatted(spark, resumed)

    part_filter = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part_filter, plan
    assert "partition_id" in part_filter[0], part_filter[0]
    # the predicate must NOT degrade to a post-scan data filter
    data_filter = [ln for ln in plan.splitlines() if ln.strip().startswith("PushedFilters")]
    if data_filter:
        assert "partition_id" not in data_filter[0], data_filter[0]
    n_rows = resumed.count()
    expected = docs.filter(F.col("partition_id").isin(pending)).count()
    assert n_rows == expected > 0


def test_pii_scan_is_map_only(spark):
    """The PII scan reads every byte of the corpus — it must compile to a
    single map-only stage: no Exchange, no Python evaluation, all regex
    work inside whole-stage codegen."""
    from anomalydetection_spark.operators import pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(spark, pii.pii_scan(docs, "doc_id", "text"))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan


def test_packing_no_single_task_global_sort(spark):
    """token_spans' global prefix-sum must be the two-phase scan: a range
    Exchange (ordered partitions at full parallelism) — never a global
    Sort into one task and never a partition-less Window."""
    from anomalydetection_spark.operators import packing

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spans = packing.token_spans(
        docs.selectExpr("doc_id", "n_chars as n_tok"), "doc_id", "n_tok"
    )
    plan = _formatted(spark, spans)
    assert "rangepartitioning" in plan.lower()
    assert "Window" not in plan
    # the sort must sit above the range exchange (sortWithinPartitions →
    # global=false), not re-shuffle into a single partition
    assert "SinglePartition" not in plan
    spans.unpersist() if hasattr(spans, "unpersist") else None


def test_boilerplate_shuffle_carries_hashes_not_text(spark):
    """paragraph_boilerplate compares paragraphs by 60-bit hash; the fat
    paragraph string must be projected away before any Exchange."""
    from anomalydetection_spark.operators import textops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = textops.paragraph_boilerplate(docs, "doc_id", "text")
    plan = _formatted(spark, out)
    # every Exchange's output schema: only ids/hashes/counters, no _p
    # paragraph column and no raw text column
    for chunk in plan.split("Exchange ")[1:]:
        sig = chunk.splitlines()[0]
        assert "_p#" not in sig and "text#" not in sig, sig


def test_quality_classifier_map_only_into_agg(spark):
    from anomalydetection_spark.plans import driver_queries_training as dqt

    plan = _formatted(spark, dqt.quality_classifier_stats(spark, SF))
    # the whole scorer is JVM expressions: no join, no Python, one agg pair
    assert "Join" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" in read_schema and "n_chars" not in read_schema


def test_q18_partial_agg_before_join_and_topk(spark):
    from anomalydetection_spark.plans import driver_queries_training as dqt

    plan = _formatted(spark, dqt.q18_large_orders(spark, SF))
    # the fact table is reduced by a partial-aggregated group-filter
    # BEFORE any join; the final top-100 never global-sorts
    assert "partial_sum(cast(l_quantity" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # both joins broadcastable at this scale
    li_schema = [
        seg.splitlines()[0]
        for seg in plan.split("ReadSchema: ")[1:]
        if "l_orderkey" in seg.splitlines()[0]
    ]
    assert li_schema and all("l_extendedprice" not in s for s in li_schema)


def test_dup_window_shuffles_hashes_not_text(spark):
    from anomalydetection_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    cov = dedup.duplicate_window_coverage(docs, "doc_id", "text", k=5)
    plan = _formatted(spark, cov)
    # every Exchange moves only ids/positions/60-bit hashes — the window
    # text dies map-side before any shuffle
    for seg in plan.split("Exchange")[1:]:
        first = seg.splitlines()[0:2]
        assert "shingle" not in str(first) and "text" not in str(first)
    assert "whash" in plan and "conv(substring(md5" in plan


def test_semdedup_assignment_broadcasts_centroids(spark):
    from anomalydetection_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    cents = vecs.filter("vec_id < 2")
    marked = similarity.semdedup(vecs, cents, "vec_id", "embedding")
    plan = _formatted(spark, marked)
    # centroid assignment is a broadcast crossJoin (k rows), never shuffled;
    # the only non-broadcast join key is the cluster cell
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bm25_vocab_broadcast_no_full_posting_shuffle(spark):
    from anomalydetection_spark.operators import retrieval

    d = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    q = spark.createDataFrame([(1, "b d")], "query_id long, qtext string")
    plan = _formatted(spark, retrieval.bm25_topk(d, q, "doc_id", "text"))
    # the query vocabulary / df / corpus stats all broadcast — the token
    # stream is filtered before the tf agg, never shuffled raw
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_metric_anomaly_window_is_series_partitioned(spark):
    """Anomaly flags rank within each metric series — the history window
    must carry the series key in its partition spec, never a global
    single-task window."""
    from anomalydetection_spark.plans import driver_queries_events as dqe

    plan = _formatted(spark, dqe.anomaly_daily_event_counts(spark, SF))
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "], [], [" not in line, line
        assert "event_type" in line


def test_mutual_information_single_table_pass(spark):
    """MI's marginals and total derive from the persisted joint counts:
    the source table feeds exactly one aggregation subtree; every other
    consumer reads the InMemoryRelation."""
    from anomalydetection_spark.plans import driver_queries_quality as dqq

    df = dqq.mi_lang_source(spark, SF)
    plan = _formatted(spark, df)
    assert plan.count("InMemoryTableScan") >= 3  # marginals + total + join side
    assert "SortMergeJoin" not in plan  # cell-sized frames broadcast


def test_schema_check_scans_nothing_with_metadata_partitions(spark):
    """With the metadata partition list, the schema constraint's verdicts
    never touch the docs table — no file-source scan in the plan."""
    from anomalydetection_spark.operators.schema_check import (
        SchemaThresholds,
        check,
        relax_nullability,
    )
    from anomalydetection_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.read.parquet(f"{SF}/documents.parquet")  # wrong shape on purpose
    parts = spark.createDataFrame([(0,), (1,)], "partition_id int")
    verdicts, _ = check(
        docs, relax_nullability(DOCUMENTS_SCHEMA), SchemaThresholds(), parts
    )
    plan = _formatted(spark, verdicts)
    assert "Scan parquet" not in plan


def test_expression_rules_fuse_into_one_scan(spark):
    """N expression rules cost ONE scan + one hash aggregate for the
    verdicts: the plan has a single file source, partial aggregation
    before the exchange, and no Python evaluation."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.operators.expression import ExpressionRule, check

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "partition_id", F.pmod(F.col("doc_id"), F.lit(8)).cast("int")
    )
    rules = tuple(
        ExpressionRule(f"r{i}", f"n_chars > {i * 10}") for i in range(6)
    )
    verdicts, violations = check(docs, rules)
    plan = _formatted(spark, verdicts)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan  # map-side combine on the partition agg
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # violations are a filter over the same single-scan projection
    vplan = _formatted(spark, violations)
    assert vplan.count("Location: InMemoryFileIndex") == 1


def test_reconcile_summary_no_fact_side_key_shuffle(spark):
    """summary() shuffles only the per-GROUP aggregates (partial_ before
    the exchange on both sides); the raw tables are never exchanged on
    the reconciliation key."""
    from anomalydetection_spark.operators.reconcile import summary

    left = spark.read.parquet(f"{SF}/orders.parquet")
    s = summary(
        left, left, ["o_orderkey"], ["o_totalprice"], "o_orderstatus"
    )
    plan = _formatted(spark, s)
    assert plan.count("Location: InMemoryFileIndex") == 2  # one per side, nothing extra
    assert "partial_count" in plan and "partial_sum" in plan
    # the join is on the 3-value group key over aggregated rows — any
    # hashpartitioning must be on the group key, never o_orderkey
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "o_orderkey" not in line


def test_moments_one_scan_partial_agg_no_window(spark):
    """The shape analyzers are ONE mergeable hash aggregate: a single
    parquet scan, map-side partial aggregation, no window, no join."""
    from anomalydetection_spark.plans import driver_queries_quality as dqq

    plan = _formatted(spark, dqq.moments_n_chars_by_lang(spark, SF))
    assert plan.count("Scan parquet  (") == 1  # one tree node (details repeat the name)
    assert "partial_" in plan  # map-side partials before the exchange
    assert "windowspecdefinition" not in plan
    assert "Join" not in plan


def test_drift_bounded_windows_are_group_partitioned(spark):
    """KS's cumulative CDF windows partition by the drift group — never a
    partition-less (single-task) window."""
    plan = _formatted(spark, dq.drift_ks_js_hellinger_by_source(spark, SF))
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "], [], [" not in line, line
        assert "source" in line


def test_rrf_fusion_windows_per_query_no_cartesian(spark):
    """Both retriever rank windows and the fused top-k window partition by
    query_id; the only cross product is the broadcast query-corpus score
    grid (dense retrieval), never an unbroadcast cartesian."""
    from anomalydetection_spark.plans import driver_queries_training as dqt

    plan = _formatted(spark, dqt.hybrid_rrf_topk(spark, SF))
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "], [], [" not in line, line
        assert "query_id" in line
    assert "CartesianProduct" not in plan


def test_media_near_dup_hash_joins_only(spark):
    """The banded self-join and the verify joins are hash equi-joins with
    the bucket-size filter broadcast — no nested-loop/cartesian path, and
    the verify side shuffles (n_bytes, hist) summaries, never payloads."""
    from anomalydetection_spark.plans import driver_queries_dedup as dqd

    df = dqd.media_near_dup_pairs(spark, SF)
    plan = _formatted(spark, df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # bucket-size cap + verify sides
    # the candidate/verify exchanges never carry the payload bytes
    exchange_lines = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert exchange_lines
    for line in exchange_lines:
        assert "content" not in line, line


def test_topk_rank_drift_baseline_avoids_global_window(spark):
    """The global baseline top-k plans as TakeOrderedAndProject (+ a k-row
    broadcast beats-join); only the per-group rank uses a window, and it
    partitions by the group column."""
    from anomalydetection_spark.plans import driver_queries_events as dqe

    plan = _formatted(spark, dqe.topk_rank_drift_events(spark, SF))
    assert "TakeOrderedAndProject" in plan
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "], [], [" not in line, line
        assert "event_type" in line


def test_epoch_order_no_global_sort(spark):
    """The epoch shuffle's rank window partitions by shard — the plan must
    show shard-partitioned window specs and no global (partition-less)
    Sort feeding a single task."""
    from anomalydetection_spark.plans import driver_queries_training as dqt

    plan = _formatted(spark, dqt.epoch_order_stats(spark, SF))
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs
    for line in specs:
        assert "], [], [" not in line, line
        assert "shard" in line


def test_flagship_suite_releases_its_caches(spark):
    """suite_verdicts caches the derived spans table for its suite run
    (under the size gate) and must release it with the suite's caches."""
    from anomalydetection_spark.plans import flagship

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001

    before = n_persisted()
    assert flagship.suite_verdicts(spark, SF).count() > 0
    assert n_persisted() <= before
