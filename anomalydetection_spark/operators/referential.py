"""media_ref referential integrity via left-anti join.

The reference's membership filter (``isin`` semi-join, preprocessing.py:
7-10) keeps the members and silently drops the rest; this engine's
referential constraint materializes the complement (T2 in SURVEY §2.7):
spans whose non-null ``media_ref`` has no match in ``media_assets`` become
violation rows ``(doc_id, pos, media_ref)``.

Scale design: the catalog is the small side — ``F.broadcast`` keeps the
anti-join shuffle-free regardless of the fact side's size. A catalog that
outgrows broadcast (multi-GB) takes the Bloom pre-filter path instead
(operators/bloom.dangling_refs_scalable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONSTRAINT = "referential"


def dangling_refs(exploded: DataFrame, media: DataFrame) -> DataFrame:
    """Span rows whose media_ref is absent from the catalog."""
    refs = exploded.filter(F.col("media_ref").isNotNull())
    return refs.join(F.broadcast(media.select("media_ref")), "media_ref", "left_anti")


def check(exploded: DataFrame, media: DataFrame) -> tuple[DataFrame, DataFrame]:
    """referential constraint → (verdicts, violations)."""
    dangling = dangling_refs(exploded, media)

    violations = dangling.select(
        "partition_id",
        F.lit(CONSTRAINT).alias("constraint"),
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.concat(F.lit("dangling media_ref="), F.col("media_ref")).alias("detail"),
    )

    per_part = exploded.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("media_ref").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_refs"),
    )
    viol_per_part = violations.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("violation_count")
    )
    verdicts = per_part.join(viol_per_part, "partition_id", "left").select(
        "partition_id",
        F.lit(CONSTRAINT).alias("constraint"),
        (F.coalesce(F.col("violation_count"), F.lit(0)) == 0).alias("passed"),
        F.coalesce(F.col("violation_count"), F.lit(0)).cast("long").alias("violation_count"),
        F.col("n_spans").alias("row_count"),
        F.create_map(
            F.lit("dangling_ref_rate"),
            F.when(
                F.col("n_refs") > 0,
                F.coalesce(F.col("violation_count"), F.lit(0)) / F.col("n_refs"),
            ).otherwise(F.lit(0.0)),
        ).alias("metrics"),
    )
    return verdicts, violations
