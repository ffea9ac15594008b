"""Equality deletes (the Iceberg V2 second delete flavor).

Sequence-scoped key-value deletes: O(|keys|) commit cost, applied at
read time by every surface — batch reader, rewrite paths, CDC stream
diffs, changelog, incremental-validation change detection — with
re-inserts of a deleted key escaping (they out-sequence the delete).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.datagen import (
    DataGenConfig,
    clean_config,
    generate_documents,
)
from anomalydetection_spark.sources import docstore as ds
from anomalydetection_spark.sources.io import read_table, write_table

CFG = DataGenConfig(n_docs=300, n_partitions=3, n_media=150)
CLEAN = clean_config(CFG)


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def _read(spark, path, **opts):
    r = spark.read.format("docstore").option("path", path)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "t")
    docs = generate_documents(spark, CLEAN)
    write_table(docs, path, fmt="docstore")
    return path, docs


def test_eq_delete_and_reinsert_escapes(spark, table):
    """Deleted keys vanish from every read; a LATER re-insert of the same
    key is visible (file.seq > delete.seq — the Iceberg sequence rule);
    time travel before the delete still sees the original rows."""
    path, docs = table
    all_ids = _ids(docs)
    victims = all_ids[:7]
    out = ds.delete_where_eq(spark, path, "doc_id", victims)
    assert out["n_keys"] == 7

    left = _ids(_read(spark, path))
    assert set(left) == set(all_ids) - set(victims)
    assert _ids(_read(spark, path, version=1)) == all_ids  # time travel intact

    # re-insert two of the victims: new files out-sequence the delete
    back = docs.filter(F.col("doc_id").isin(victims[:2]))
    back.write.format("docstore").option("path", path).mode("append").save()
    now = _ids(_read(spark, path))
    assert set(now) == (set(all_ids) - set(victims)) | set(victims[:2])

    # a SECOND eq delete hits the re-inserted rows too (newer seq)
    ds.delete_where_eq(spark, path, "doc_id", victims[:1])
    assert victims[0] not in set(_ids(_read(spark, path)))
    assert victims[1] in set(_ids(_read(spark, path)))


def test_eq_delete_dataframe_keys_and_nulls(spark, table):
    """Keys as a DataFrame (the distributed path — driver never holds the
    set); NULL keys are dropped at write; an all-null key frame no-ops."""
    path, docs = table
    all_ids = _ids(docs)
    keys = (
        docs.select("doc_id").limit(5)
        .unionByName(spark.createDataFrame([(None,)], "doc_id string"))
    )
    out = ds.delete_where_eq(spark, path, "doc_id", keys)
    assert out["n_keys"] == 5
    assert len(_ids(_read(spark, path))) == len(all_ids) - 5

    v_before = ds.current_version(path)
    out2 = ds.delete_where_eq(spark, path, "doc_id", [None])
    assert out2["n_keys"] == 0 and out2["delete_file"] is None
    assert ds.current_version(path) == v_before  # no empty commit


def test_eq_delete_survives_rename(spark, table):
    """The delete binds by FIELD ID: renaming the key column after the
    delete keeps it applied; a delete issued AFTER a rename still scopes
    files written under the old name."""
    path, docs = table
    all_ids = _ids(docs)
    ds.delete_where_eq(spark, path, "doc_id", all_ids[:3])
    ds.rename_column(path, "doc_id", "document_id")
    left = sorted(
        r["document_id"]
        for r in _read(spark, path).select("document_id").collect()
    )
    assert set(left) == set(all_ids) - set(all_ids[:3])

    ds.delete_where_eq(spark, path, "document_id", all_ids[3:5])
    left2 = sorted(
        r["document_id"]
        for r in _read(spark, path).select("document_id").collect()
    )
    assert set(left2) == set(all_ids) - set(all_ids[:5])


def test_rewrites_never_resurrect_eq_deleted_rows(spark, table):
    """compact_snapshot reads through the eq filter — the rewritten
    snapshot holds the surviving rows only and carries NO eq deletes
    (they are folded in); a COW delete_where on another predicate also
    keeps eq-deleted rows out of its rewritten files."""
    path, docs = table
    all_ids = _ids(docs)
    ds.delete_where_eq(spark, path, "doc_id", all_ids[:4])
    survivors = set(all_ids) - set(all_ids[:4])

    ds.compact_snapshot(spark, path, n_files=2)
    m = ds.load_manifest(path)
    assert not m.get("eq_deletes")  # folded away by the rewrite
    assert set(_ids(_read(spark, path))) == survivors

    # fresh table for the COW interaction (compaction already folded)
    path2 = path + "_cow"
    write_table(docs, path2, fmt="docstore")
    ds.delete_where_eq(spark, path2, "doc_id", all_ids[:4])
    gone_too = [i for i in sorted(survivors)][:2]
    ds.delete_where(spark, path2, f"doc_id in ('{gone_too[0]}', '{gone_too[1]}')")
    assert set(_ids(_read(spark, path2))) == survivors - set(gone_too)


def test_cdc_emits_eq_deleted_rows_once(spark, table, tmp_path):
    """The CDC stream surfaces an eq-delete commit as 'delete' rows for
    exactly the removed keys; a second eq delete does not re-emit the
    first one's rows."""
    path, docs = table
    all_ids = _ids(docs)
    v0 = ds.current_version(path)
    ds.delete_where_eq(spark, path, "doc_id", all_ids[:3])
    ds.delete_where_eq(spark, path, "doc_id", all_ids[3:5])

    feed = (
        spark.readStream.format("docstore")
        .option("path", path)
        .option("cdc", "true")
        .option("startingVersion", str(v0))
        .load()
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("eq_cdc")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from eq_cdc").collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["doc_id"] for r in rows) == sorted(all_ids[:5])
    by_commit = {}
    for r in rows:
        by_commit.setdefault(r["_commit_version"], set()).add(r["doc_id"])
    assert by_commit[v0 + 1] == set(all_ids[:3])
    assert by_commit[v0 + 2] == set(all_ids[3:5])  # no re-emit of the first 3


def test_changelog_and_changed_partitions_see_eq_deletes(spark, table):
    """Batch changelog over an eq-delete range emits the removed rows as
    deletes; changed_partitions flags the scoped files' partitions even
    though the FILE LIST never changed."""
    path, docs = table
    all_ids = _ids(docs)
    v0 = ds.current_version(path)
    ds.delete_where_eq(spark, path, "doc_id", all_ids[:3])
    v1 = ds.current_version(path)

    ch = ds.changelog(spark, path, "doc_id", v0, v1).collect()
    assert sorted(r["doc_id"] for r in ch) == sorted(all_ids[:3])
    assert all(r["_change_type"] == "delete" for r in ch)

    pids = ds.changed_partitions(path, v0, v1)
    assert pids is not None and len(pids) > 0  # eq-only commit still detected


def test_maintenance_keeps_eq_files(spark, table):
    """expire_snapshots and remove_orphan_files treat eq-delete files as
    live data; reads after maintenance stay correct."""
    path, docs = table
    all_ids = _ids(docs)
    ds.delete_where_eq(spark, path, "doc_id", all_ids[:3])
    eqf = ds.load_manifest(path)["eq_deletes"][0]["path"]

    ds.expire_snapshots(path, keep_last=1)
    out = ds.remove_orphan_files(path, older_than_seconds=0)
    assert os.path.exists(os.path.join(path, eqf))
    assert set(_ids(_read(spark, path))) == set(all_ids) - set(all_ids[:3])

    # fold the delete away, expire history: the eq file becomes dead
    ds.compact_snapshot(spark, path, n_files=1)
    ds.expire_snapshots(path, keep_last=1)
    assert not os.path.exists(os.path.join(path, eqf))
    assert set(_ids(_read(spark, path))) == set(all_ids) - set(all_ids[:3])


def test_eq_delete_on_imported_files(spark, tmp_path):
    """Cross-feature edge: an equality delete over an `add_files` import
    (absolute-path entries, footer-derived stats, minted field ids) must
    bind by field id, filter reads, and emit exactly the removed rows in
    the change feed — no rewrite of the external files."""
    import glob as _glob

    ds.register(spark)
    ext = str(tmp_path / "ext")
    spark.range(0, 100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("grp")
    ).repartition(4).write.parquet(ext)
    path = str(tmp_path / "imported")
    ds.add_files(spark, path, ext)
    n_ext = len(_glob.glob(f"{ext}/*.parquet"))

    rep = ds.delete_where_eq(spark, path, "grp", [2])
    assert rep["n_keys"] == 1
    got = spark.read.format("docstore").option("path", path).load()
    assert got.count() == 80
    assert got.filter("grp = 2").count() == 0
    # external files untouched (merge-on-read, not rewrite)
    assert len(_glob.glob(f"{ext}/*.parquet")) == n_ext

    ch = ds.changelog(spark, path, "doc_id", 1, 2)
    rows = ch.collect()
    assert len(rows) == 20
    assert all(r["_change_type"] == "delete" and r["grp"] == 2 for r in rows)


def _formatted(spark, df):
    return spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_rewrite_eq_deletes_folds_many_commits(spark, table):
    """Maintenance primitive #4 (round-4 verdict ask #5): 50
    delete_where_eq commits grow the rewrite read path by one
    sequence-scoped anti-join EACH; rewrite_eq_deletes folds them all
    into per-file position deletes, after which the visible-rows plan
    carries at most 2 joins (the single position anti-join + its
    delete-file-to-data-file broadcast map) and rows are byte-identical —
    including the re-insert-escape rule, which position deletes encode
    structurally (the re-inserted file simply has no deleted positions).
    Older snapshots still time-travel through the original eq files."""
    path, docs = table
    all_ids = _ids(docs)
    victims = all_ids[:50]
    for k in victims:  # 50 separate eq-delete COMMITS
        ds.delete_where_eq(spark, path, "doc_id", [k])
    # re-insert two victims AFTER their deletes: must stay visible
    back = docs.filter(F.col("doc_id").isin(victims[:2]))
    back.write.format("docstore").option("path", path).mode("append").save()

    m = ds.load_manifest(path)
    assert len(m.get("eq_deletes") or []) == 50
    pre_rows = sorted(
        tuple(r) for r in _read(spark, path).select("doc_id", "partition_id").collect()
    )
    pre_version = m["version"]

    rep = ds.rewrite_eq_deletes(spark, path)
    assert rep["eq_files_folded"] == 50
    assert rep["deleted_rows"] == 50  # 50 victims, re-inserts escape
    m2 = ds.load_manifest(path)
    assert not m2.get("eq_deletes")

    post_rows = sorted(
        tuple(r) for r in _read(spark, path).select("doc_id", "partition_id").collect()
    )
    assert post_rows == pre_rows
    assert set(r[0] for r in post_rows) == (set(all_ids) - set(victims)) | set(
        victims[:2]
    )

    # the rewrite/probe read path now plans ≤2 joins, no In literal
    import re

    vis = ds._read_files_visible(spark, path, m2["files"], manifest=m2)
    plan = _formatted(spark, vis)
    join_nodes = re.findall(
        r"\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join", plan
    )
    assert len(join_nodes) <= 2, plan
    assert " IN (" not in plan

    # pre-fold snapshot still reads through the eq files (time travel)
    tt = _ids(_read(spark, path, version=pre_version))
    assert set(tt) == (set(all_ids) - set(victims)) | set(victims[:2])

    # idempotent: a second fold is a no-op commit-free call
    rep2 = ds.rewrite_eq_deletes(spark, path)
    assert rep2["eq_files_folded"] == 0 and rep2["deleted_rows"] == 0


def test_position_delete_antijoin_at_scale(spark, tmp_path):
    """Round-4 verdict weak #2 done-criterion: ≥10⁵ deleted positions
    across files must apply through the distributed anti-join — no
    per-position In literal in the plan, no driver materialization of
    positions — with exact surviving rows."""
    ds.register(spark)
    path = str(tmp_path / "big")
    spark.range(0, 200_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
    ).repartition(8).write.format("docstore").option("path", path).mode("append").save()

    rep = ds.delete_where_mor(spark, path, "doc_id % 2 = 0")
    assert rep["deleted_rows"] == 100_000
    assert rep["delete_files"] == 8  # every data file got a bitmap

    m = ds.load_manifest(path)
    vis = ds._read_files_visible(spark, path, m["files"], manifest=m)
    plan = _formatted(spark, vis)
    assert " IN (" not in plan  # never an In literal over positions
    assert "LeftAnti" in plan
    assert vis.count() == 100_000
    assert vis.filter("doc_id % 2 = 0").count() == 0

    # the COW rewrite path consumes the same reader: compaction purges
    # the bitmaps and preserves exactly the surviving rows
    ds.compact_snapshot(spark, path, n_files=2)
    got = spark.read.format("docstore").option("path", path).load()
    assert got.count() == 100_000
    assert got.filter("doc_id % 2 = 0").count() == 0


def test_mor_and_fold_over_imported_files(spark, tmp_path):
    """Path-keyed delete matching (the _split_affected rule extended to
    the MOR surfaces): add_files imports carry ABSOLUTE entry paths, so
    basename keying would silently attach no delete bitmap in
    delete_where_mor (reporting deleted_rows > 0 while removing nothing)
    and would detach the eq-delete seq bound in rewrite reads. Position
    deletes, eq deletes, and the eq→position fold must all bind to
    imported files exactly."""
    import glob as _glob

    ds.register(spark)
    ext = str(tmp_path / "ext_src")
    spark.range(0, 120).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("grp")
    ).repartition(3).write.parquet(ext)
    path = str(tmp_path / "imported_mor")
    ds.add_files(spark, path, ext)
    n_ext = len(_glob.glob(f"{ext}/*.parquet"))

    # MOR position delete over the imported files
    rep = ds.delete_where_mor(spark, path, "grp = 1")
    assert rep["deleted_rows"] == 30
    assert rep["delete_files"] >= 1  # bitmaps actually attached
    got = spark.read.format("docstore").option("path", path).load()
    assert got.count() == 90 and got.filter("grp = 1").count() == 0
    # the rewrite read path agrees (same delete bitmaps, anti-join form)
    m = ds.load_manifest(path)
    vis = ds._read_files_visible(spark, path, m["files"], manifest=m)
    assert vis.count() == 90

    # eq delete on top, then fold it into position deletes
    ds.delete_where_eq(spark, path, "grp", [2])
    rep2 = ds.rewrite_eq_deletes(spark, path)
    assert rep2["eq_files_folded"] == 1 and rep2["deleted_rows"] == 30
    m2 = ds.load_manifest(path)
    assert not m2.get("eq_deletes")
    got2 = spark.read.format("docstore").option("path", path).load()
    assert got2.count() == 60
    assert got2.filter("grp IN (1, 2)").count() == 0
    # external source files never rewritten
    assert len(_glob.glob(f"{ext}/*.parquet")) == n_ext


def test_rewrite_eq_deletes_after_rename(spark, table):
    """The fold binds eq keys by FIELD ID like every other eq consumer: a
    column rename between the delete and the fold must not detach it —
    the fold's semi-join probes the CURRENT column name resolved from
    the delete's recorded field id."""
    path, docs = table
    all_ids = _ids(docs)
    ds.delete_where_eq(spark, path, "doc_id", all_ids[:4])
    ds.rename_column(path, "doc_id", "document_id")

    rep = ds.rewrite_eq_deletes(spark, path)
    assert rep["eq_files_folded"] == 1 and rep["deleted_rows"] == 4
    assert not ds.load_manifest(path).get("eq_deletes")
    left = sorted(
        r["document_id"]
        for r in _read(spark, path).select("document_id").collect()
    )
    assert set(left) == set(all_ids) - set(all_ids[:4])


def test_fold_commit_is_changelog_invisible(spark, table):
    """rewrite_eq_deletes changes the table's DELETE REPRESENTATION, not
    its visible rows — so the change feed across the fold commit must be
    EMPTY (rows the new bitmaps name were already eq-invisible at the
    parent version; without the v_from eq guard they re-emitted as
    phantom deletes), while ranges crossing the original eq commits
    still emit exactly the deleted rows once."""
    path, docs = table
    all_ids = _ids(docs)
    v0 = ds.current_version(path)
    ds.delete_where_eq(spark, path, "doc_id", all_ids[:5])
    v_eq = ds.current_version(path)
    ds.rewrite_eq_deletes(spark, path)
    v_fold = ds.current_version(path)

    assert ds.changelog(spark, path, "doc_id", v_eq, v_fold).count() == 0
    span = ds.changelog(spark, path, "doc_id", v0, v_fold).collect()
    assert sorted(r["doc_id"] for r in span) == sorted(all_ids[:5])
    assert all(r["_change_type"] == "delete" for r in span)


def test_delete_files_metadata_table(spark, table):
    """The `delete_files` metadata table: one row per live delete file of
    a snapshot, both flavors, rows from footers only — and after a fold
    the equality rows disappear while position bitmaps appear, giving
    maintenance its trigger metric."""
    path, docs = table
    all_ids = _ids(docs)
    ds.delete_where_mor(spark, path, f"doc_id = '{all_ids[0]}'")
    ds.delete_where_eq(spark, path, "doc_id", all_ids[1:4])

    md = ds.metadata_table(spark, path, "delete_files").collect()
    by_type = {}
    for r in md:
        by_type.setdefault(r["type"], []).append(r)
    assert len(by_type["position"]) == 1
    assert by_type["position"][0]["rows"] == 1
    assert by_type["position"][0]["data_file"] is not None
    assert len(by_type["equality"]) == 1
    eq = by_type["equality"][0]
    assert eq["rows"] == 3 and eq["key_col"] == "doc_id" and eq["seq"] >= 1

    ds.rewrite_eq_deletes(spark, path)
    md2 = ds.metadata_table(spark, path, "delete_files").collect()
    assert all(r["type"] == "position" for r in md2)
    assert sum(r["rows"] for r in md2) == 4  # 1 MOR + 3 folded


def test_mor_deletes_bind_under_space_and_plus_in_table_dir(spark, tmp_path):
    """Spark reports ``_metadata.file_path`` as a URI, so a table dir
    holding a space reads ``%20`` there; a literal ``+`` must survive the
    decode. Position and folded eq deletes must still bind to their data
    files: unbound, the deleted rows come back."""
    ds.register(spark)
    path = str(tmp_path / "docs dir+v1")
    spark.range(0, 120).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("grp")
    ).repartition(3).write.format("docstore").option("path", path).mode("append").save()

    rep = ds.delete_where_mor(spark, path, "grp = 1")
    got = spark.read.format("docstore").option("path", path).load()
    assert got.count() == 90 and got.filter("grp = 1").count() == 0
    assert rep["deleted_rows"] == 30 and rep["delete_files"] == 3
    m = ds.load_manifest(path)
    vis = ds._read_files_visible(spark, path, m["files"], manifest=m)
    assert vis.count() == 90 and vis.filter("grp = 1").count() == 0

    ds.delete_where_eq(spark, path, "grp", [2])
    rep2 = ds.rewrite_eq_deletes(spark, path)
    assert rep2["deleted_rows"] == 30
    got2 = spark.read.format("docstore").option("path", path).load()
    assert got2.count() == 60 and got2.filter("grp IN (1, 2)").count() == 0
    ds.compact_snapshot(spark, path, n_files=1)
    assert spark.read.format("docstore").option("path", path).load().count() == 60
