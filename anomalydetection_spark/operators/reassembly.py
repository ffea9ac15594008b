"""Span explode / reassemble with the span-sequence-equality invariant.

The reference aligns everything positionally (feature matrices and report
frames glued by row index, end_to_end_prediction.py:502-516, guarded only
by row-count equality). That silently breaks under any reordering. Here
order is carried explicitly: ``posexplode`` keeps ``pos``, reassembly sorts
by the span's own ``offset`` — so the pipeline is correct under arbitrary
shuffles (the 1000-executor case), not just single-threaded execution.

Invariant (BASELINE.json input_hint): for every doc,
``reassemble(explode(doc)) == array_sort_by_offset(doc.spans)`` on
``(kind, text, media_ref, offset)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONSTRAINT = "span_order"


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span: (doc_id, partition_id, pos, kind, text, media_ref, offset).

    ``posexplode`` (not ``explode``) so the original array position survives
    independently of the declared ``offset`` — the two are compared by the
    span_order constraint. Docs with empty span arrays are dropped here
    (they are doc-level, handled by stats).
    """
    return docs.select(
        "doc_id",
        "partition_id",
        F.posexplode("spans").alias("pos", "span"),
    ).select(
        "doc_id",
        "partition_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def explode_spans_meta(docs: DataFrame, outer: bool = False) -> DataFrame:
    """Narrow per-span view for the constraint suite: raw ``text`` replaced
    by ``text_len`` (NULL iff text NULL). The suite's aggregations never
    need the string bytes — carrying lengths instead cuts the exploded row
    width ~3×, which is what flows through the shared exchange / agg hash
    tables at 10^12 spans.

    ``outer=True`` switches to ``posexplode_outer``: a ZERO-SPAN doc
    yields one row with NULL pos/kind/text_len/media_ref instead of
    vanishing. The suite's span-level constraints correctly never see
    span-less docs (default inner), but DOC-IDENTITY consumers must:
    the manifest's doc_id Bloom/KMV blobs bound resumed-uniqueness and
    ripple probes, and a cross-partition duplicate whose done-side copy
    has no spans would be invisible to an inner-exploded blob — the
    probe would skip its partition and the resumed verdict would differ
    from a full scan.

    Built as per-field array extractions (``spans.kind`` etc. —
    GetArrayStructFields) zipped back by position, NOT
    ``posexplode(spans)`` on the whole struct: Catalyst's nested-schema
    pruning reaches through field extractions but not through a
    generator over the full struct, so a consumer that drops a column
    here (referential uses only kind+media_ref, drift only
    kind+text_len) gets a parquet scan that skips the fat ``text`` leaf
    entirely — measured as every span-level branch of the suite reading
    ALL leaves before this formulation."""
    base = docs.select(
        "doc_id",
        "partition_id",
        F.col("spans.kind").alias("_kinds"),
        F.transform("spans", lambda s: F.length(s["text"])).alias("_tlens"),
        F.col("spans.media_ref").alias("_refs"),
        F.col("spans.offset").alias("_offsets"),
    )
    gen = F.posexplode_outer if outer else F.posexplode
    return base.select(
        "doc_id",
        "partition_id",
        gen("_kinds").alias("pos", "kind"),
        "_tlens",
        "_refs",
        "_offsets",
    ).select(
        "doc_id",
        "partition_id",
        "pos",
        "kind",
        F.element_at("_tlens", F.col("pos") + 1).alias("text_len"),
        F.element_at("_refs", F.col("pos") + 1).alias("media_ref"),
        F.element_at("_offsets", F.col("pos") + 1).alias("offset"),
    )


def reassemble(exploded: DataFrame) -> DataFrame:
    """Rebuild (doc_id, partition_id, spans) ordered by span offset.

    ``array_sort(collect_list(struct(offset, ...)))`` — sorting by the
    carried key, never by shuffle order (struct comparison is
    lexicographic, offset first; offsets are unique per doc for valid
    docs). Fields are then re-projected to the canonical
    (kind, text, media_ref, offset) order.

    Precondition: ``doc_id`` unique (duplicate keys would merge span sets —
    exactly what the uniqueness constraint flags first).
    """
    return (
        exploded.groupBy("doc_id", "partition_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("_sorted")
        )
        .select(
            "doc_id",
            "partition_id",
            F.transform(
                "_sorted",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def sorted_spans(docs: DataFrame) -> DataFrame:
    """Docs with spans canonically ordered by offset (no explode round-trip)."""
    return docs.select(
        "doc_id",
        "partition_id",
        F.array_sort(
            F.transform("spans", lambda s: F.struct(
                s["offset"].alias("offset"), s["kind"].alias("kind"),
                s["text"].alias("text"), s["media_ref"].alias("media_ref"),
            ))
        ).alias("_sorted"),
    ).select(
        "doc_id",
        "partition_id",
        F.transform("_sorted", lambda s: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"), s["offset"].alias("offset"),
        )).alias("spans"),
    )


def check(
    docs: DataFrame, cache: Callable[[DataFrame], DataFrame] | None = None
) -> tuple[DataFrame, DataFrame]:
    """span_order constraint → (verdicts, violations).

    Verdict counts derive from the violation rows plus a plain
    per-partition row count, so when ``cache`` (run_suite's recorder)
    caches the violations the permutation check (array_sort + sequence
    compare per doc) runs once instead of once per action.

    A doc violates iff its offsets are not exactly a permutation of
    0..n_spans-1 (nulls, duplicates, gaps). Reversed-but-complete offsets
    are VALID (order is recoverable); the reference's positional pipeline
    would silently corrupt those — this engine reorders them.

    Single narrow pass: the permutation test is pure array arithmetic on
    the spans column (no explode, no shuffle except the final per-partition
    count agg).
    """
    # spans.offset (GetArrayStructFields) instead of transform(spans, …):
    # nested pruning reaches through the field extraction, so this check's
    # parquet scan reads ONLY the offset leaf — not kind/text/media_ref
    offsets = F.col("spans.offset")
    is_perm = F.array_sort(offsets) == F.sequence(F.lit(0), F.size(offsets) - 1)
    ok = F.when(F.size(offsets) == 0, F.lit(True)).otherwise(is_perm)
    violations = docs.filter(~ok).select(
        "partition_id",
        F.lit(CONSTRAINT).alias("constraint"),
        "doc_id",
        F.lit(None).cast("int").alias("pos"),
        F.lit("offsets are not a permutation of 0..n-1").alias("detail"),
    )
    if cache is not None:
        violations = cache(violations)

    rows = docs.groupBy("partition_id").agg(F.count("*").cast("long").alias("row_count"))
    bad = violations.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("violation_count")
    )
    n_bad = F.coalesce(F.col("violation_count"), F.lit(0))
    verdicts = rows.join(bad, "partition_id", "left").select(
        "partition_id",
        F.lit(CONSTRAINT).alias("constraint"),
        (n_bad == 0).alias("passed"),
        n_bad.cast("long").alias("violation_count"),
        "row_count",
        F.create_map(F.lit("violation_rate"), n_bad / F.col("row_count")).alias("metrics"),
    )
    return verdicts, violations
