"""Source/sink connectors (SURVEY §2.1 S1-S9).

The engine's canonical storage is Iceberg-shaped parquet; the Iceberg
catalog itself needs its runtime jars, which this environment doesn't
ship, so `read_table`/`write_table` gate the `format('iceberg')` path
behind a capability probe and fall back to plain parquet with identical
call shapes — the swap is a config change, not a code change.

The reference's ad-hoc formats map as:
- line-oriented labeled logs (drain.py:11-21)  → read_labeled_logs
- CSV template tables (preprocessing.py:5)     → read_csv (explicit schema)
- .npy matrices (SimCLR_utils.py:19)           → parquet with array<float>
- JSON config blobs (SimCLR_utils.py:99-100)   → read_json / F.from_json
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, path_or_table: str, fmt: str = "auto") -> DataFrame:
    """Iceberg table if the runtime has it (and fmt allows), else parquet.

    ``fmt='docstore'`` reads the from-scratch table format
    (sources/docstore.py) through ``docstore.load``: the main head's
    visible rows from manifest-planned parquet scans — the jar-less
    stand-in for the Iceberg read (tests/test_docstore.py)."""
    if fmt == "iceberg" or (fmt == "auto" and "/" not in path_or_table):
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg runtime jars not on the classpath; pass a parquet path "
                "or add org.apache.iceberg:iceberg-spark-runtime to spark.jars.packages"
            )
        return spark.read.format("iceberg").load(path_or_table)
    if fmt == "docstore":
        from anomalydetection_spark.sources import docstore

        return docstore.load(spark, path_or_table)
    if fmt == "orc":
        return spark.read.orc(path_or_table)
    return spark.read.parquet(path_or_table)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """S5/S6: columnar sink by default; ``fmt='csv'`` for the reference's
    report-file shape (header on, escaped) — only for small result tables,
    never for span-bearing data. ``fmt='orc'`` for warehouses standardized
    on ORC (both columnar formats carry the nested span struct and the
    min/max stats pruning relies on)."""
    if fmt == "docstore":
        from anomalydetection_spark.sources import docstore

        docstore.register(df.sparkSession)
        df.write.format("docstore").mode(mode).option("path", path).save()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "csv":
        w.option("header", True).csv(path)
    elif fmt == "orc":
        w.orc(path)
    else:
        w.parquet(path)


def read_labeled_logs(spark: SparkSession, path: str, limit: int | None = None) -> DataFrame:
    """S1: line scan with the label-in-first-token convention and optional
    scan-prefix limit (Catalyst plans LocalLimit into the read)."""
    df = spark.read.text(path)
    if limit:
        df = df.limit(limit)
    head = F.split(F.trim(F.col("value")), " ", 2)
    return df.filter(F.trim("value") != "").select(
        F.when(F.element_at(head, 1) == "-", 0).otherwise(1).alias("label"),
        F.coalesce(F.element_at(head, 2), F.lit("")).alias("log"),
    )


def read_csv(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """S3: CSV with explicit schema — inferSchema double-scans at 100 TB."""
    return spark.read.csv(path, header=True, schema=schema)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Catalog-registered bucketed sink — the co-located-join layout.

    Hash-bucketing both sides of a recurring join key (doc_id, media_ref)
    at WRITE time lets every later equi-join/aggregation on that key plan
    with NO Exchange: Spark reads matching buckets pairwise (plan-asserted
    in tests/test_plans.py). At 10^12 rows this converts the single
    largest recurring shuffle into a one-time layout cost — the
    file-format analog of Iceberg's ``bucket(N, col)`` partition
    transform, which is the production target (write_table + an Iceberg
    catalog); this path covers plain-parquet warehouses.

    ``sort=True`` additionally sorts within buckets, upgrading
    merge-joins to skip their sort. Bucket counts should be sized so a
    bucket fits an executor's memory comfortably (n_buckets ≈ table_bytes
    / 256 MB, rounded to a power of two).
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *cols)
    if sort:
        w = w.sortBy(*cols)
    w.saveAsTable(table_name)


def compact_output(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    partition_by: list[str] | None = None,
) -> dict:
    """Small-file compaction for a parquet output directory.

    Per-partition-id sinks at 10^12-doc scale fragment badly: every
    (task × dynamic-partition) pair emits a file, so a 32k-task
    violations write over thousands of Iceberg partitions leaves
    millions of KB-sized files that throttle every later scan on open()
    overhead. This rewrites the dataset with files sized to
    ``target_file_mb`` (repartition count = ceil(bytes/target)), keeping
    the partitioned layout if ``partition_by`` is given — the
    plain-parquet analog of Iceberg's rewrite_data_files maintenance
    action. With ``partition_by``, rows are hash-repartitioned on the
    partition columns so each task holds whole dynamic partitions and
    writes one file per partition it owns (a plain ``repartition(n)``
    would scatter every partition across all n tasks and re-fragment
    the output into up to n × |partitions| files). Write-then-swap:
    the rewrite lands in a sibling dir and is swapped in only after
    success. The swap is two directory renames, so a concurrent reader
    can race the brief window between them — run compaction when the
    dataset is quiescent (table-format sinks like Iceberg get true
    snapshot-atomic rewrites instead).

    Returns {files_before, files_after, bytes}.
    """
    import shutil
    from pathlib import Path as _P

    root = _P(path)
    before = [p for p in root.rglob("*.parquet") if p.is_file()]
    total_bytes = sum(p.stat().st_size for p in before)
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(path)
    tmp = str(root.with_name(root.name + "._compact_tmp"))
    if partition_by:
        # co-locate each dynamic partition in as few tasks as possible so a
        # task writes one file per partition it owns, not one per task×partition
        w = df.repartition(int(n_files), *partition_by)
    else:
        w = df.repartition(int(n_files))
    writer = w.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)

    backup = str(root.with_name(root.name + "._compact_old"))
    shutil.move(str(root), backup)
    shutil.move(tmp, str(root))
    shutil.rmtree(backup, ignore_errors=True)
    after = [p for p in _P(path).rglob("*.parquet") if p.is_file()]
    return {
        "files_before": len(before),
        "files_after": len(after),
        "bytes": total_bytes,
    }
