"""Field-ID-based schema evolution (the Iceberg column-ID model): rename
and drop are metadata-only commits; reads resolve each data file's
physical columns through per-file id→name maps, so a rename never
rewrites data and a dropped-then-re-added name never resurrects the old
column's bytes (the name-based-mapping hazard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.sources import docstore


def _df(spark, ddl, rows):
    return spark.createDataFrame(rows, ddl)


@pytest.fixture()
def table(spark, tmp_path):
    docstore.register(spark)
    t = str(tmp_path / "t")
    _df(
        spark,
        "doc_id string, n int, partition_id int",
        [("a", 1, 0), ("b", 2, 0), ("c", 3, 1)],
    ).coalesce(1).write.format("docstore").option("path", t).mode("overwrite").save()
    return t


def _read(spark, t):
    return spark.read.format("docstore").option("path", t).load()


def test_rename_is_metadata_only_and_reads_old_files(spark, table):
    files_before = {f["path"] for f in docstore.load_manifest(table)["files"]}
    docstore.rename_column(table, "n", "count_n")
    m = docstore.load_manifest(table)
    assert {f["path"] for f in m["files"]} == files_before  # no rewrite
    got = {r["doc_id"]: r["count_n"] for r in _read(spark, table).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}
    assert "n" not in _read(spark, table).columns


def test_rename_then_append_mixes_old_and_new_files(spark, table):
    docstore.rename_column(table, "n", "count_n")
    _df(
        spark,
        "doc_id string, count_n int, partition_id int",
        [("d", 4, 1)],
    ).write.format("docstore").option("path", table).mode("append").save()
    got = {r["doc_id"]: r["count_n"] for r in _read(spark, table).collect()}
    assert got == {"a": 1, "b": 2, "c": 3, "d": 4}


def test_rename_conflicts_rejected(spark, table):
    with pytest.raises(ValueError):
        docstore.rename_column(table, "n", "doc_id")  # name taken
    with pytest.raises(ValueError):
        docstore.rename_column(table, "missing", "x")


def test_drop_then_readd_does_not_resurrect(spark, table):
    docstore.drop_column(table, "n")
    assert "n" not in _read(spark, table).columns
    # re-add a column with the SAME name via append: fresh field id — the
    # old files' physical 'n' bytes belong to the retired id and must NOT
    # leak into the new column
    _df(
        spark,
        "doc_id string, n int, partition_id int",
        [("d", 99, 1)],
    ).write.format("docstore").option("path", table).mode("append").save()
    got = {r["doc_id"]: r["n"] for r in _read(spark, table).collect()}
    assert got == {"a": None, "b": None, "c": None, "d": 99}


def test_rename_survives_cow_rewrite(spark, table):
    docstore.rename_column(table, "n", "count_n")
    # COW delete rewrites a pre-rename file: the rewrite must read the old
    # file THROUGH the id mapping and emit current-named data
    r = docstore.delete_where(spark, table, "doc_id = 'a'")
    assert r["deleted_rows"] == 1
    got = {r2["doc_id"]: r2["count_n"] for r2 in _read(spark, table).collect()}
    assert got == {"b": 2, "c": 3}
    # the rewritten file records stats under the CURRENT name
    m = docstore.load_manifest(table)
    new_entries = [f for f in m["files"] if "count_n" in (f.get("stats") or {})]
    assert new_entries


def test_rename_visible_in_cdc_stream(spark, table, tmp_path):
    docstore.rename_column(table, "n", "count_n")
    _df(
        spark,
        "doc_id string, count_n int, partition_id int",
        [("d", 4, 1)],
    ).write.format("docstore").option("path", table).mode("append").save()
    q = (
        spark.readStream.format("docstore")
        .option("path", table)
        .option("cdc", "true")
        .option("startingVersion", 0)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    feed = spark.read.parquet(str(tmp_path / "out"))
    assert "count_n" in feed.columns
    got = {r["doc_id"]: r["count_n"] for r in feed.collect()}
    assert got == {"a": 1, "b": 2, "c": 3, "d": 4}


def test_pruning_safe_across_rename(spark, table, tmp_path):
    """Old files carry stats under the old name: planning on the new name
    reads them through the file's id map, so an old file is kept exactly
    when its own bytes can hold a wanted value — never pruned on another
    column's stats, never kept for lack of a stat under the new name."""
    import os

    docstore.rename_column(table, "n", "count_n")
    _df(
        spark,
        "doc_id string, count_n int, partition_id int",
        [("d", 100, 1)],
    ).write.format("docstore").option("path", table).mode("append").save()

    def planned(values):
        j = str(tmp_path / f"journal{len(values)}")
        os.makedirs(j)
        df = docstore.load(spark, table, where={"count_n": values}, journal=j)
        got = {r["doc_id"] for r in df.filter(F.col("count_n").isin(values)).collect()}
        return got, len(os.listdir(j))

    # the old file holds count_n = 2 under its physical name n: it is opened
    assert planned([2, 100]) == ({"b", "d"}, 2)
    # its n stats [1, 3] exclude 100: only the new file is opened
    assert planned([100]) == ({"d"}, 1)


def test_legacy_manifest_without_field_ids_still_reads(spark, table):
    """A manifest committed before field-id tracking (no field_ids key, no
    per-file name_map) falls back to name-based mapping byte-identically."""
    m = docstore.load_manifest(table)
    files = [{k: v for k, v in f.items() if k != "name_map"} for f in m["files"]]
    legacy = {"version": m["version"], "schema": m["schema"], "files": files}
    import json
    import os

    with open(
        os.path.join(table, f"manifest-v{m['version']}.json"), "w"
    ) as fh:  # rewrite in place: simulate a legacy table
        json.dump(legacy, fh)
    got = {r["doc_id"]: r["n"] for r in _read(spark, table).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}


def test_zorder_compaction_after_rename(spark, tmp_path):
    """Cross-feature edge: z-order compaction keyed by a RENAMED column —
    the rewrite reads old files through their id maps, clusters on the
    current name, and the compacted snapshot presents the current schema
    while time travel keeps the original."""
    docstore.register(spark)
    path = str(tmp_path / "zren")
    spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10).alias("x"),
        (F.col("id") % 7).alias("y"),
    ).repartition(4).write.format("docstore").option("path", path).mode(
        "append"
    ).save()
    docstore.rename_column(path, "x", "xcol")
    docstore.compact_snapshot(spark, path, zorder_by=["xcol", "y"])
    got = spark.read.format("docstore").option("path", path).load()
    assert got.columns == ["doc_id", "xcol", "y"]
    assert got.count() == 200
    assert got.agg(F.sum("xcol")).collect()[0][0] == sum(i % 10 for i in range(200))
    v1 = spark.read.format("docstore").option("path", path).option(
        "version", "1"
    ).load()
    assert v1.columns == ["doc_id", "x", "y"]
