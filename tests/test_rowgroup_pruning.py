"""Row-group pruning: the in-file tier below manifest file stats.

``docstore.load`` returns a snapshot's visible rows as plain parquet
scans, so a row predicate the caller applies reaches Spark's parquet
reader as a pushed filter, and the reader skips every row group whose
footer statistics prove it holds no match — a kept file's non-matching
groups are never decoded. The manifest plans files (``where``), the
parquet footers prune row groups: the Iceberg/parquet split of
responsibilities. The scan node's ``numOutputRows`` makes the skip
observable: it counts the rows of the row groups actually read.

Scale: at 100 TB a clustered file holds hundreds of row groups; a point
or range predicate on the cluster column reads O(matching groups), not
O(file).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.sources import docstore


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """One docstore table whose single data file holds ~10 row groups
    clustered by user_id (sorted write + small Arrow batches), so the
    MANIFEST stats span everything (file-level pruning can't help) while
    footer stats separate the groups."""
    path = str(tmp_path_factory.mktemp("rgtab") / "t")
    docstore.register(spark)
    df = spark.range(10_000).select(
        F.col("id").cast("int").alias("user_id"),
        (F.col("id") % 7).cast("int").alias("partition_id"),
        F.concat(F.lit("u-"), F.col("id")).alias("name"),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
    try:
        (
            df.orderBy("user_id")
            .coalesce(1)
            .write.format("docstore")
            .option("path", path)
            .mode("append")
            .save()
        )
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    return path


def _scan_output_rows(df, node: str) -> int:
    """Sum of ``numOutputRows`` over the executed plan's ``node`` scans
    (call after an action on ``df``)."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == node:
            total += p.metrics().apply("numOutputRows").value()
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def _scan(spark, path, journal, predicate):
    """(matching user_ids, rows the parquet scan read, files planned)."""
    os.makedirs(journal)
    df = docstore.load(spark, path, journal=journal).filter(predicate)
    rows = sorted(r["user_id"] for r in df.collect())
    return rows, _scan_output_rows(df, "FileSourceScanExec"), len(os.listdir(journal))


def test_range_predicate_skips_row_groups(spark, table, tmp_path):
    rows, read, files = _scan(
        spark, table, str(tmp_path / "j1"), F.col("user_id").between(4200, 4300)
    )
    assert rows == list(range(4200, 4301))
    assert files == 1  # one file: manifest stats cannot help
    # 101 consecutive ids in ~1000-row sorted groups → at most 2 groups
    assert 1000 <= read <= 2000


def test_in_set_predicate_skips_row_groups(spark, table, tmp_path):
    rows, read, _ = _scan(
        spark, table, str(tmp_path / "j2"), F.col("user_id").isin(17, 9911)
    )
    assert rows == [17, 9911]
    assert read <= 2000 < 10_000


def test_unclustered_predicate_prunes_nothing_but_stays_correct(
    spark, table, tmp_path
):
    # partition_id cycles 0..6 in every group: stats can never exclude
    rows, read, _ = _scan(
        spark, table, str(tmp_path / "j3"), F.col("partition_id") == 3
    )
    assert rows == [u for u in range(10_000) if u % 7 == 3]
    assert read == 10_000


def test_plain_scan_reads_every_group(spark, table, tmp_path):
    # the format("docstore") reader takes no filters: its Python scan
    # streams every row of the file and Spark filters afterwards
    journal = str(tmp_path / "j4")
    os.makedirs(journal)
    df = (
        spark.read.format("docstore")
        .option("path", table)
        .option("journal", journal)
        .load()
        .filter(F.col("user_id") < 5)
    )
    assert len(df.collect()) == 5
    assert _scan_output_rows(df, "BatchScanExec") == 10_000
    assert len(os.listdir(journal)) == 1


def test_position_deletes_survive_group_skipping(spark, table, tmp_path):
    """Position deletes address rows by file-absolute index; skipping
    earlier groups must not shift which rows a later group drops."""
    # delete a slice living deep in the file (group ~8 of 10)
    out = docstore.delete_where_mor(
        spark, table, "user_id >= 8100 AND user_id < 8120"
    )
    assert out["deleted_rows"] == 20
    rows, read, _ = _scan(
        spark, table, str(tmp_path / "j5"), F.col("user_id").between(8000, 8200)
    )
    assert rows == [u for u in range(8000, 8201) if not (8100 <= u < 8120)]
    assert read < 10_000
    # and the same rows come back from the Python reader, which reads
    # every group
    plain = sorted(
        r["user_id"]
        for r in spark.read.format("docstore")
        .option("path", table)
        .load()
        .filter(F.col("user_id").between(8000, 8200))
        .collect()
    )
    assert plain == rows
