"""``docstore.load``: the engine's one batch read of a docstore snapshot.

Files are planned once on the driver (``plan_files``) and the visible
rows come back from JVM parquet scans. These tests pin its edge cases
(no files planned, all-NULL nested columns), its row parity with the
``format("docstore")`` Python reader on a hostile table, and that no
engine module reads a table through the Python reader.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from anomalydetection_spark.sources import docstore as ds

PACKAGE = os.path.join(os.path.dirname(__file__), "..", "anomalydetection_spark")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_load_empty_snapshot_and_fully_pruned_plan(spark, tmp_path):
    """A snapshot without files (the empty v1 a write-audit-publish run
    commits for a new table) and a ``where`` that prunes every file both
    load as an empty frame with the snapshot's schema."""
    ds.register(spark)
    path = str(tmp_path / "empty")
    df = spark.createDataFrame(
        [(1, 0, "a"), (2, 1, "b")], "doc_id long, partition_id int, body string"
    )
    df.limit(0).write.format("docstore").option("path", path).mode("append").save()
    assert ds.load_manifest(path)["files"] == []
    empty = ds.load(spark, path)
    assert empty.schema.simpleString() == df.schema.simpleString()
    assert empty.count() == 0

    df.write.format("docstore").option("path", path).mode("append").save()
    j = str(tmp_path / "journal")
    os.makedirs(j)
    pruned = ds.load(spark, path, where={"partition_id": [7]}, journal=j)
    assert pruned.schema.simpleString() == df.schema.simpleString()
    assert pruned.count() == 0 and os.listdir(j) == []
    assert ds.load(spark, path, where={"doc_id": []}).count() == 0
    # time travel to the empty v1 still reads as empty
    assert ds.load(spark, path, version=1).count() == 0
    assert ds.load(spark, path).count() == 2


def test_load_all_null_spans(spark, tmp_path):
    """A documents table whose nested ``spans`` column is NULL on every
    row reads back exactly (no stats exist for a nested column, so
    planning on other columns still prunes)."""
    from anomalydetection_spark.datagen import DataGenConfig, generate_documents
    from anomalydetection_spark.operators import reassembly

    docs = generate_documents(spark, DataGenConfig(n_docs=60, n_partitions=3))
    nulls = docs.withColumn("spans", F.lit(None).cast(docs.schema["spans"].dataType))
    path = str(tmp_path / "null_spans")
    ds.register(spark)
    nulls.repartitionByRange(3, "partition_id").write.format("docstore").option(
        "path", path
    ).mode("append").save()
    got = ds.load(spark, path)
    assert got.schema.simpleString() == docs.schema.simpleString()
    assert got.count() == 60 and got.filter(F.col("spans").isNull()).count() == 60
    one = ds.load(spark, path, where={"partition_id": [1]}).filter("partition_id = 1")
    assert _rows(one, ["doc_id"]) == _rows(nulls.filter("partition_id = 1"), ["doc_id"])
    assert reassembly.explode_spans_meta(got, outer=True).count() == 60


def test_load_matches_python_reader_on_hostile_table(spark, tmp_path):
    """Both read paths return identical rows on one table that has MOR
    position deletes, equality deletes (one bound through a renamed key
    column), a renamed and a dropped column, an add_files import and a
    table dir with non-ASCII characters — also when time-travelling."""
    ds.register(spark)
    path = str(tmp_path / "tâble ü" / "docs")
    cols = "doc_id long, grp long, payload string, junk string"

    def frame(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).alias("grp"),
            F.concat(F.lit("p"), F.col("id").cast("string")).alias("payload"),
            F.lit("x").alias("junk"),
        )

    frame(0, 300).repartition(3).write.format("docstore").option(
        "path", path
    ).mode("append").save()
    ext = str(tmp_path / "ext ö")
    frame(300, 400).repartition(2).write.parquet(ext)
    ds.add_files(spark, path, ext)
    ds.delete_where_mor(spark, path, "doc_id % 10 = 1")
    ds.delete_where_eq(spark, path, "doc_id", [2, 12, 302])
    v_mid = ds.current_version(path)
    ds.rename_column(path, "payload", "body")
    ds.delete_where_eq(spark, path, "body", ["p20", "p320"])
    ds.drop_column(path, "junk")
    spark.range(400, 410).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).alias("grp"),
        F.concat(F.lit("q"), F.col("id").cast("string")).alias("body"),
    ).write.format("docstore").option("path", path).mode("append").save()
    assert ds.load_manifest(path)["eq_deletes"]
    assert any(os.path.isabs(f["path"]) for f in ds.load_manifest(path)["files"])

    names = ["doc_id", "grp", "body"]
    want = sorted(
        [
            (i, i % 3, f"p{i}")
            for i in range(400)
            if i % 10 != 1 and i not in (2, 12, 302, 20, 320)
        ]
        + [(i, i % 3, f"q{i}") for i in range(400, 410)]
    )
    reader = spark.read.format("docstore").option("path", path).load()
    loaded = ds.load(spark, path)
    assert loaded.columns == reader.columns == names
    assert loaded.schema.simpleString() == reader.schema.simpleString()
    assert _rows(loaded, names) == _rows(reader, names) == want

    old_names = ["doc_id", "grp", "payload", "junk"]
    old_reader = (
        spark.read.format("docstore").option("path", path)
        .option("version", str(v_mid)).load()
    )
    old = ds.load(spark, path, version=v_mid)
    assert old.columns == old_names
    assert _rows(old, old_names) == _rows(old_reader, old_names)
    assert len(_rows(old, old_names)) == 400 - 40 - 3


def _docstore_batch_reads(source: str) -> list[int]:
    """Lines of ``source`` that may open a batch read through the Python
    reader: a ``.format(x)`` call, or a call with a ``format=``/``source=``
    keyword, where ``x`` is ``"docstore"`` or not a literal at all (a
    variable could hold it), unless the call chain is a write or a
    ``readStream``."""
    import ast

    def chain(node):
        names = []
        while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
            if isinstance(node, ast.Attribute):
                names.append(node.attr)
            node = node.value if not isinstance(node, ast.Call) else node.func
        return names, node

    def may_name_docstore(arg):
        return not isinstance(arg, ast.Constant) or arg.value == "docstore"

    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        args = [k.value for k in node.keywords if k.arg in ("format", "source")]
        if isinstance(node.func, ast.Attribute) and node.func.attr == "format":
            args += node.args[:1]
        if not any(may_name_docstore(a) for a in args):
            continue
        names, root = chain(node.func)
        if isinstance(root, (ast.Constant, ast.JoinedStr)):
            continue  # str.format
        if {"write", "writeStream", "readStream"} & set(names):
            continue
        hits.append(node.lineno)
    return hits


def test_docstore_read_detector_catches_every_spelling():
    flagged = [
        'spark.read.format("docstore").option("path", p).load()',
        'spark.read.option("path", p).format("docstore").load()',
        'spark.read.load(p, format="docstore")',
        "spark.read.format(fmt).load(p)",
        'r = spark.read\nr.format("docstore").load(p)',
    ]
    spared = [
        'df.write.format("docstore").option("path", p).save()',
        'spark.readStream.format("docstore").option("path", p).load()',
        'spark.read.format("iceberg").load(p)',
        'df.writeStream.format("memory").start()',
        '"{}-{}".format(a, b)',
        "SQL.format(cx=cx)",
    ]
    assert [bool(_docstore_batch_reads(s)) for s in flagged] == [True] * len(flagged)
    assert [bool(_docstore_batch_reads(s)) for s in spared] == [False] * len(spared)


def test_engine_reads_docstore_only_through_load():
    """The engine has one batch read path: no module but the docstore
    source itself may read a table through ``spark.read`` with the
    ``docstore`` format (the Python reader), however the read is spelled.
    CDC streaming (``readStream``) is exempt."""
    offenders = []
    for f in glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True):
        rel = os.path.relpath(f, PACKAGE).replace(os.sep, "/")
        if rel == "sources/docstore.py":
            continue
        with open(f, encoding="utf-8") as fh:
            offenders += [f"{rel}:{n}" for n in _docstore_batch_reads(fh.read())]
    assert offenders == [], offenders
