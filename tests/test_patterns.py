"""Golden tests: pattern + cross_column constraints vs the pandas oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark import oracle
from anomalydetection_spark.datagen import DataGenConfig, generate_documents
from anomalydetection_spark.operators import patterns, reassembly

CFG = DataGenConfig(
    n_docs=1200,
    n_partitions=4,
    n_media=300,
    malformed_ref_rate=0.04,
    missing_ref_rate=0.03,
)


@pytest.fixture(scope="module")
def data(spark):
    docs = generate_documents(spark, CFG).cache()
    exploded = reassembly.explode_spans_meta(docs).cache()
    pdocs = docs.toPandas()
    pdocs["spans"] = pdocs["spans"].apply(
        lambda arr: [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in arr
        ]
    )
    psp = oracle.explode(pdocs)
    return docs, exploded, psp


def test_pattern_vs_oracle(data):
    docs, exploded, psp = data
    th = patterns.PatternThresholds()
    verdicts, violations = patterns.pattern_check(exploded, th)
    want = oracle.pattern_violations(psp, th.ref_pattern)
    assert len(want) > 0, "fixture must inject malformed refs"
    got = {(r["partition_id"], r["doc_id"], r["pos"]) for r in violations.collect()}
    assert got == set(zip(want["partition_id"], want["doc_id"], want["pos"]))
    counts = want.groupby("partition_id").size().to_dict()
    for r in verdicts.collect():
        assert r["violation_count"] == counts.get(r["partition_id"], 0)
        assert r["passed"] == (r["violation_count"] == 0)
        assert r["row_count"] == len(psp[psp["partition_id"] == r["partition_id"]])
        rate = r["metrics"]["malformed_ref_rate"]
        assert abs(rate - r["violation_count"] / r["row_count"]) < 1e-12


def test_cross_column_vs_oracle(data):
    docs, exploded, psp = data
    verdicts, violations = patterns.cross_column_check(exploded)
    want = oracle.cross_column_violations(psp)
    assert len(want) > 0, "fixture must inject missing refs"
    got = {(r["partition_id"], r["doc_id"], r["pos"]) for r in violations.collect()}
    assert got == set(zip(want["partition_id"], want["doc_id"], want["pos"]))
    counts = want.groupby("partition_id").size().to_dict()
    for r in verdicts.collect():
        assert r["violation_count"] == counts.get(r["partition_id"], 0)
        assert r["passed"] == (r["violation_count"] == 0)


def test_violation_details(data):
    _, exploded, _ = data
    _, pv = patterns.pattern_check(exploded)
    assert pv.filter(~F.col("detail").startswith("malformed media_ref=REF_")).count() == 0
    _, cv = patterns.cross_column_check(exploded)
    details = [r["detail"] for r in cv.limit(50).collect()]
    assert all(d.startswith("media span missing media_ref") for d in details)


def test_clean_refs_pass(spark):
    """Dangling refs are format-valid: pattern/cross_column stay green on a
    corpus whose only ref problem is referential (orthogonal constraints)."""
    cfg = DataGenConfig(n_docs=600, n_partitions=3, n_media=100, dangling_rate=0.2)
    exploded = reassembly.explode_spans_meta(generate_documents(spark, cfg))
    pverd, _ = patterns.pattern_check(exploded)
    cverd, _ = patterns.cross_column_check(exploded)
    assert all(r["passed"] for r in pverd.collect())
    assert all(r["passed"] for r in cverd.collect())


def test_null_and_unknown_kind_flagged(spark):
    """NULL kind must be flagged by cross_column on all three paths
    (Spark, pandas oracle, flagship DuckDB twin): a bare ~isin() is NULL
    for NULL kind and would silently drop the row (ADVICE r2)."""
    rows = [
        ("p0", "d0", 0, None, None),        # NULL kind → unknown-kind violation
        ("p0", "d0", 1, "gif", "m-12345"),  # out-of-domain kind
        ("p0", "d1", 0, "text", None),      # clean text span
        ("p0", "d1", 1, "image", "m-00001"),  # clean media span
    ]
    exploded = spark.createDataFrame(
        rows, "partition_id string, doc_id string, pos int, kind string, media_ref string"
    ).withColumn("text_len", F.lit(3)).withColumn("offset", F.col("pos"))
    verdicts, violations = patterns.cross_column_check(exploded)
    got = {(r["pos"], r["detail"]) for r in violations.collect()}
    assert got == {
        (0, "unknown kind=NULL"),
        (1, "unknown kind=gif"),
    }
    v = verdicts.collect()[0]
    assert v["violation_count"] == 2 and not v["passed"]


def test_fused_check_parity_and_single_scan(spark, tmp_path):
    """fused_check == per-constraint checks row-for-row (verdicts and
    violations), and its shared violation frame plans exactly ONE scan of
    the span source where the pair of separate checks planned two."""
    import re

    from anomalydetection_spark.datagen import DataGenConfig, generate_documents
    from anomalydetection_spark.operators import reassembly
    from anomalydetection_spark.operators.patterns import (
        cross_column_check,
        fused_check,
        pattern_check,
    )

    cfg = DataGenConfig(
        n_docs=600, n_partitions=4, n_media=100,
        malformed_ref_rate=0.05, missing_ref_rate=0.05,
    )
    path = str(tmp_path / "docs_pq")
    generate_documents(spark, cfg).write.parquet(path)
    exploded = reassembly.explode_spans_meta(spark.read.parquet(path))

    fused = fused_check(exploded)
    plain = {
        "pattern": pattern_check(exploded),
        "cross_column": cross_column_check(exploded),
    }
    vkey = lambda df: sorted(map(tuple, df.collect()))
    for c in ("pattern", "cross_column"):
        assert vkey(fused[c][1]) == vkey(plain[c][1]), c  # violations
        assert vkey(fused[c][0]) == vkey(plain[c][0]), c  # verdicts
    assert fused["pattern"][1].count() > 0
    assert fused["cross_column"][1].count() > 0

    # one scan node in the fused violation-union plan
    both = fused["pattern"][1].unionByName(fused["cross_column"][1])
    plan = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        both._jdf.queryExecution(), "formatted"
    )
    # the fused frame is built once; both branches filter the same scan —
    # formatted explain numbers each distinct scan node once
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2  # one per branch pre-persist
    fused_p = fused_check(exploded, cache=lambda df: df.persist())
    bothp = fused_p["pattern"][1].unionByName(fused_p["cross_column"][1])
    bothp.count()
    planp = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        bothp._jdf.queryExecution(), "formatted"
    )
    # both branches read the ONE cached fused frame; the only parquet scan
    # left in the plan text is the cache's stored definition (inside
    # InMemoryRelation), executed once at materialization
    assert planp.count("InMemoryTableScan") >= 2, planp
    assert len(re.findall(r"\(\d+\) Scan parquet", planp)) <= 1, planp
    spark.catalog.clearCache()
