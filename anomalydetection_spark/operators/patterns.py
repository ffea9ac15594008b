"""pattern + cross_column constraints: value-format and field-consistency
checks over the span table.

``pattern``: every non-null ``media_ref`` must match the catalog's id
format (a configurable regex). A crawler or producer that starts emitting
refs in a new scheme corrupts downstream joins even while referential
integrity still *mostly* holds — a format check localizes the cause
(malformed id) instead of reporting the symptom (dangling ref), and
catches malformed ids that happen to collide with valid catalog entries.
The reference gets format safety implicitly from its fixed 9-field
positional parse (drain.py:26-43, under-filled rows blanked); a
declarative engine must check it explicitly.

``cross_column``: the span ``kind`` determines which payload fields may
be set — media kinds must carry ``media_ref``, texty kinds must not, and
``kind`` itself must come from the known domain. This is the Deequ
"satisfies"/TFX feature-presence class of constraint: inter-field
consistency that single-column stats can never see (a NULL media_ref is
fine on a text span and fatal on an image span).

Both run on the narrow exploded meta view (kind + media_ref leaves only
— the parquet scan skips the text leaf, same pruning contract as
referential/frequent_items) and follow the suite's (verdicts,
violations) shape: one hash aggregate per constraint with map-side
partials, violation rows bounded by offenders, no extra shuffle of the
span table.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PATTERN_CONSTRAINT = "pattern"
CROSS_CONSTRAINT = "cross_column"

MEDIA_KINDS = ("image", "audio", "video")
TEXT_KINDS = ("text", "code")
KIND_DOMAIN = MEDIA_KINDS + TEXT_KINDS


@dataclass(frozen=True)
class PatternThresholds:
    # default matches both the synthetic catalog (m-%08d) and the derived
    # flagship catalog (m-%05d)
    ref_pattern: str = r"^m-[0-9]{5,8}$"


def _verdicts(
    exploded: DataFrame, violations: DataFrame, constraint: str, rate_metric: str
) -> DataFrame:
    """Shared verdict rollup: per-partition span totals joined with the
    constraint's violation counts (the totals aggregate is over the narrow
    view; the join is |partitions|-sized)."""
    per_part = exploded.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("n_spans")
    )
    viol_per_part = violations.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("violation_count")
    )
    return per_part.join(viol_per_part, "partition_id", "left").select(
        "partition_id",
        F.lit(constraint).alias("constraint"),
        (F.coalesce("violation_count", F.lit(0)) == 0).alias("passed"),
        F.coalesce("violation_count", F.lit(0)).cast("long").alias("violation_count"),
        F.col("n_spans").alias("row_count"),
        F.create_map(
            F.lit(rate_metric),
            F.when(
                F.col("n_spans") > 0,
                F.coalesce("violation_count", F.lit(0)) / F.col("n_spans"),
            ).otherwise(F.lit(0.0)),
        ).alias("metrics"),
    )


def pattern_check(
    exploded: DataFrame, th: PatternThresholds = PatternThresholds()
) -> tuple[DataFrame, DataFrame]:
    """pattern constraint → (verdicts, violations): non-null media_refs
    failing the format regex become violation rows."""
    bad = exploded.filter(
        F.col("media_ref").isNotNull() & ~F.col("media_ref").rlike(th.ref_pattern)
    )
    violations = bad.select(
        "partition_id",
        F.lit(PATTERN_CONSTRAINT).alias("constraint"),
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.concat(F.lit("malformed media_ref="), F.col("media_ref")).alias("detail"),
    )
    return _verdicts(exploded, violations, PATTERN_CONSTRAINT, "malformed_ref_rate"), violations


def _inconsistent(kind: Column, media_ref: Column) -> Column:
    # NULL kind must be flagged too: a bare `~isin` evaluates to NULL (not
    # true) for NULL kind and the filter would silently drop the row, while
    # the pandas oracle (isin→False on NaN) flags it.
    return (
        (kind.isin(*MEDIA_KINDS) & media_ref.isNull())
        | (kind.isin(*TEXT_KINDS) & media_ref.isNotNull())
        | kind.isNull()
        | ~kind.isin(*KIND_DOMAIN)
    )


def cross_column_check(exploded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """cross_column constraint → (verdicts, violations): kind-vs-media_ref
    consistency plus the kind domain check."""
    bad = exploded.filter(_inconsistent(F.col("kind"), F.col("media_ref")))
    detail = (
        F.when(
            F.col("kind").isNull() | ~F.col("kind").isin(*KIND_DOMAIN),
            F.concat(F.lit("unknown kind="), F.coalesce("kind", F.lit("NULL"))),
        )
        .when(
            F.col("media_ref").isNull(),
            F.concat(F.lit("media span missing media_ref (kind="), "kind", F.lit(")")),
        )
        .otherwise(
            F.concat(
                F.lit("text span carries media_ref="),
                "media_ref",
                F.lit(" (kind="),
                "kind",
                F.lit(")"),
            )
        )
    )
    violations = bad.select(
        "partition_id",
        F.lit(CROSS_CONSTRAINT).alias("constraint"),
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        detail.alias("detail"),
    )
    return _verdicts(exploded, violations, CROSS_CONSTRAINT, "inconsistent_rate"), violations


def fused_check(
    exploded: DataFrame,
    th: PatternThresholds = PatternThresholds(),
    cache: Callable[[DataFrame], DataFrame] | None = None,
) -> dict[str, tuple[DataFrame, DataFrame]]:
    """pattern + cross_column in ONE scan of the span table.

    Run separately, each constraint scans the narrow meta view twice (its
    violation filter and its per-partition totals) — four scans for two
    per-span predicate checks. Here one pass emits a tagged violation
    array per span (explode drops clean spans), and BOTH constraints'
    violation sets, violation counts, and the shared per-partition span
    totals derive from that frame plus one totals aggregate — two scans
    total when ``cache`` (run_suite's recorder) takes the tagged frame
    (violation-bounded, not span-bounded) and the totals. The outputs are
    row-identical to the per-constraint builders (suite hash-pinned by the
    flagship oracle).

    Returns {constraint: (verdicts, violations)}.
    """
    pat_bad = F.col("media_ref").isNotNull() & ~F.col("media_ref").rlike(th.ref_pattern)
    pat_detail = F.concat(F.lit("malformed media_ref="), F.col("media_ref"))
    cross_bad = _inconsistent(F.col("kind"), F.col("media_ref"))
    cross_detail = (
        F.when(
            F.col("kind").isNull() | ~F.col("kind").isin(*KIND_DOMAIN),
            F.concat(F.lit("unknown kind="), F.coalesce("kind", F.lit("NULL"))),
        )
        .when(
            F.col("media_ref").isNull(),
            F.concat(F.lit("media span missing media_ref (kind="), "kind", F.lit(")")),
        )
        .otherwise(
            F.concat(
                F.lit("text span carries media_ref="),
                "media_ref",
                F.lit(" (kind="),
                "kind",
                F.lit(")"),
            )
        )
    )
    tags = F.filter(
        F.array(
            F.when(
                pat_bad,
                F.struct(
                    F.lit(PATTERN_CONSTRAINT).alias("constraint"),
                    pat_detail.alias("detail"),
                ),
            ),
            F.when(
                cross_bad,
                F.struct(
                    F.lit(CROSS_CONSTRAINT).alias("constraint"),
                    cross_detail.alias("detail"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    both = exploded.select(
        "partition_id",
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.explode(tags).alias("_t"),
    ).select(
        "partition_id",
        F.col("_t.constraint").alias("constraint"),
        "doc_id",
        "pos",
        F.col("_t.detail").alias("detail"),
    )
    totals = exploded.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("n_spans")
    )
    if cache is not None:
        both, totals = cache(both), cache(totals)

    out: dict[str, tuple[DataFrame, DataFrame]] = {}
    for constraint, rate_metric in (
        (PATTERN_CONSTRAINT, "malformed_ref_rate"),
        (CROSS_CONSTRAINT, "inconsistent_rate"),
    ):
        viol = both.filter(F.col("constraint") == constraint)
        viol_per_part = viol.groupBy("partition_id").agg(
            F.count("*").cast("long").alias("violation_count")
        )
        verdicts = totals.join(viol_per_part, "partition_id", "left").select(
            "partition_id",
            F.lit(constraint).alias("constraint"),
            (F.coalesce("violation_count", F.lit(0)) == 0).alias("passed"),
            F.coalesce("violation_count", F.lit(0)).cast("long").alias("violation_count"),
            F.col("n_spans").alias("row_count"),
            F.create_map(
                F.lit(rate_metric),
                F.when(
                    F.col("n_spans") > 0,
                    F.coalesce("violation_count", F.lit(0)) / F.col("n_spans"),
                ).otherwise(F.lit(0.0)),
            ).alias("metrics"),
        )
        out[constraint] = (verdicts, viol)
    return out
