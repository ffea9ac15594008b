"""ValidationSuite — the engine's top-level plan builder.

Composes the constraint operators (stats, uniqueness, referential, drift,
frequent_items, pattern, cross_column) plus the span_order invariant into
ONE lazy DataFrame DAG:

    scan → posexplode (once) → {stats agg | anti-join | histogram agg}
         ⊎ doc-level {permutation check | uniqueness group-count}
         → union verdicts / union violations → per-partition rollup

This replaces the reference's eager file-materialized stage chain
(end_to_end_prediction.py:618-667: each step writes .csv/.npy before the
next starts) with a single Catalyst-optimized plan: stage boundaries exist
only at shuffles, and the exploded span view is computed once and shared
(Spark reuses the scan; with ``persist_exploded=True`` it is cached for the
multi-consumer fan-out). ``run_suite`` alone decides what is cached; the
result records it, and ``ValidationResult.unpersist`` releases it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetection_spark.operators import (
    drift,
    expression,
    freqitems,
    freshness,
    patterns,
    placement,
    referential,
    reassembly,
    schema_check,
    stats,
    uniqueness,
    volume,
)


@dataclass(frozen=True)
class SuiteConfig:
    stats: stats.StatsThresholds = field(default_factory=stats.StatsThresholds)
    drift: drift.DriftThresholds = field(default_factory=drift.DriftThresholds)
    freq: freqitems.FreqThresholds = field(default_factory=freqitems.FreqThresholds)
    pattern: patterns.PatternThresholds = field(default_factory=patterns.PatternThresholds)
    volume: volume.VolumeThresholds = field(default_factory=volume.VolumeThresholds)
    placement: placement.PlacementThresholds = field(
        default_factory=placement.PlacementThresholds
    )
    freshness: freshness.FreshnessThresholds = field(
        default_factory=freshness.FreshnessThresholds
    )
    # named row-level SQL predicates (operators/expression.py) — the
    # generic escape hatch for table-specific business rules. All rules
    # fuse into one scan; each reports/gates as "expression:<name>".
    expressions: tuple[expression.ExpressionRule, ...] = ()
    schema: schema_check.SchemaThresholds = field(
        default_factory=schema_check.SchemaThresholds
    )
    # contract the schema constraint validates against; None = the
    # canonical interleaved-documents schema (anomalydetection_spark.schema)
    expected_schema: object | None = None
    # persist the (narrow, text-free) exploded span view for the
    # multi-consumer fan-out. True/False force it; None (default) applies a
    # size gate: persist only when Catalyst's plan-stats estimate for the
    # SOURCE table is at most persist_exploded_max_bytes. Caching the span
    # view of a 100 TB corpus spills the whole run's memory budget for a
    # view that nested-leaf-pruned columnar re-scans reproduce cheaply —
    # the re-scan path is the at-scale default, the cache a small-input
    # optimization. Unknown sizes (no stats) count as big.
    persist_exploded: bool | None = None
    persist_exploded_max_bytes: int = 8 << 30
    # deterministic sample rate (parts-per-million) applied to the emitted
    # VIOLATION rows only — verdict counts stay exact. At 10^12 docs a
    # pathological batch (every doc violating) makes the violation sink the
    # largest output of the run; a ppm cap bounds it map-only (one hash
    # predicate, no shuffle, no count), reproducibly across retries and
    # engines. None = emit every violation row.
    violation_sample_ppm: int | None = None
    # constraints demoted to WARNING severity: their verdicts still report
    # passed/violations faithfully, but a failure does not gate the
    # partition rollup or the global pass — the Deequ check-level split
    # (e.g. run a new, still-tuning drift threshold as warn before
    # promoting it to error)
    warn_constraints: tuple[str, ...] = ()


@dataclass
class ValidationResult:
    verdicts: DataFrame      # VERDICTS_SCHEMA: one row per (partition, constraint)
    violations: DataFrame    # VIOLATIONS_SCHEMA
    partition_rollup: DataFrame  # (partition_id, passed, violation_count, row_count)
    warn_constraints: tuple[str, ...] = ()  # report-only, non-gating (cfg echo)
    cached: tuple[DataFrame, ...] = ()  # every frame run_suite cached for this run

    def unpersist(self) -> None:
        """Release every frame run_suite cached for this result. Call it
        after the last action on the result's frames; a later action still
        returns the same rows, recomputed. Dependents go before what they
        were derived from, so no half-released plan is re-cached."""
        for df in reversed(self.cached):
            df.unpersist()

    @property
    def global_verdicts(self) -> DataFrame:
        """Table-level rollup, one row per constraint: did it pass
        EVERYWHERE, how many partitions failed, total violations, and its
        severity (a warn-level constraint reports failures but never
        gates). The |partitions × constraints|-sized verdict frame
        aggregates to |constraints| rows — the summary a scheduler keys a
        promote/block decision on without reading per-partition detail."""
        if self.warn_constraints:
            sev = F.when(
                F.col("constraint").isin(*self.warn_constraints), F.lit("warn")
            ).otherwise(F.lit("error"))
        else:
            sev = F.lit("error")
        return (
            self.verdicts.groupBy("constraint")
            .agg(
                F.bool_and("passed").alias("passed"),
                F.count(F.lit(1)).cast("long").alias("n_partitions"),
                F.sum(F.when(~F.col("passed"), 1).otherwise(0))
                .cast("long")
                .alias("n_failed_partitions"),
                F.sum("violation_count").cast("long").alias("violation_count"),
            )
            .withColumn("severity", sev)
        )


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (bytes). File sources report
    actual on-disk bytes scaled by projection; plans without statistics
    report spark.sql.defaultSizeInBytes (Long.MaxValue) — i.e. unknown
    counts as 'too big to cache', the safe direction for the persist gate."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001


def _default_contract():
    """Canonical interleaved-documents contract, nullability-relaxed (the
    suite's batch frames come off parquet scans / derivations that don't
    carry non-null flags)."""
    from anomalydetection_spark.schema import DOCUMENTS_SCHEMA

    return schema_check.relax_nullability(DOCUMENTS_SCHEMA)


ALL_CONSTRAINTS = (
    "schema",
    "column_stats",
    "uniqueness",
    "referential",
    "distribution_drift",
    "span_order",
    "frequent_items",
    "pattern",
    "cross_column",
    "volume",
)

# opt-in constraints: valid in ``constraints``/declarative specs but not in
# the default run — each needs caller-supplied configuration with no safe
# default (placement needs the table's partition transform)
OPTIONAL_CONSTRAINTS = ("placement", "freshness")


def run_suite(
    docs: DataFrame,
    media: DataFrame,
    baseline_hist: DataFrame,
    cfg: SuiteConfig = SuiteConfig(),
    uniqueness_scope: DataFrame | None = None,
    constraints: tuple[str, ...] | list[str] | None = None,
    expected_partitions: DataFrame | None = None,
) -> ValidationResult:
    """Build the full-suite validation plan (lazy — caller triggers actions).

    ``uniqueness_scope``: full table for global duplicate detection when
    ``docs`` is a resumed subset (see operators/uniqueness.py).
    ``constraints``: subset of ALL_CONSTRAINTS to evaluate (None = all) —
    the hook the declarative spec layer (plans/declarative.py) drives.
    ``expected_partitions``: partition list the volume constraint emits
    n_docs=0 FAIL rows for when absent (operators/volume.py) — the resume
    planner's metadata partition list plugs in here.
    """
    selected = tuple(constraints) if constraints is not None else ALL_CONSTRAINTS
    unknown = set(selected) - set(ALL_CONSTRAINTS) - set(OPTIONAL_CONSTRAINTS)
    if unknown:
        raise ValueError(f"unknown constraints: {sorted(unknown)}")

    # the suite's whole cache policy lives here: operators take this
    # recorder for the frames their verdict and violation actions share,
    # and ValidationResult.unpersist releases what it recorded
    cached: list[DataFrame] = []

    def cache(df: DataFrame) -> DataFrame:
        cached.append(df.persist())
        return cached[-1]

    def shared(pair: tuple[DataFrame, DataFrame]) -> tuple[DataFrame, DataFrame]:
        # verdicts derive from the violation rows, so caching them lets the
        # verdict aggregation and the violation sink share one computation
        # (without it the anti-join / dup detection runs once per action)
        return pair[0], cache(pair[1])

    exploded = reassembly.explode_spans_meta(docs)
    persist_ex = cfg.persist_exploded
    if persist_ex is None:
        persist_ex = plan_size_bytes(docs) <= cfg.persist_exploded_max_bytes
    if persist_ex:
        exploded = cache(exploded)
    # key-level count aggregates are cached only when the exploded view is
    # NOT: with the view cached (small inputs) re-deriving a KB-sized agg
    # from it beats another materialization barrier; with lazy re-scans
    # (big inputs) those caches are what hold each check to one scan
    cache_counts = None if persist_ex else cache

    builders = {
        # structural contract check: reads only df.schema (driver-side
        # metadata, zero scans); the verdict fan-out uses the metadata
        # partition list when given
        "schema": lambda: schema_check.check(
            docs,
            cfg.expected_schema or _default_contract(),
            cfg.schema,
            expected_partitions,
        ),
        "column_stats": lambda: stats.check(docs, exploded, cfg.stats, cache=cache),
        "uniqueness": lambda: shared(uniqueness.check(docs, scope_docs=uniqueness_scope)),
        "referential": lambda: shared(referential.check(exploded, media)),
        "distribution_drift": lambda: drift.check(
            exploded, baseline_hist, cfg.drift, cache=cache, cache_counts=cache_counts
        ),
        "span_order": lambda: reassembly.check(docs, cache=cache),
        "frequent_items": lambda: freqitems.check(exploded, cfg.freq, cache=cache_counts),
        "pattern": lambda: shared(patterns.pattern_check(exploded, cfg.pattern)),
        "cross_column": lambda: shared(patterns.cross_column_check(exploded)),
        # doc-level count agg over the partition column alone — never
        # touches the span table; violations are |partitions|-bounded
        "volume": lambda: volume.check(docs, cfg.volume, expected_partitions),
        # opt-in: map-only partition-transform consistency (needs cfg.placement.expr)
        "placement": lambda: shared(placement.check(docs, cfg.placement)),
        # opt-in: event-time recency bounds (needs cfg.freshness ts_expr + as_of)
        "freshness": lambda: shared(freshness.check(docs, cfg.freshness)),
    }
    # the two per-span predicate constraints fuse into ONE scan (tagged
    # violation array + shared totals, operators/patterns.fused_check) when
    # both are selected — row-identical output, half the span-table passes
    # for this pair
    if {"pattern", "cross_column"} <= set(selected):
        fused = patterns.fused_check(exploded, cfg.pattern, cache=cache)
        builders["pattern"] = lambda: fused["pattern"]
        builders["cross_column"] = lambda: fused["cross_column"]
    all_pairs = [
        builders[name]()
        for name in (*ALL_CONSTRAINTS, *OPTIONAL_CONSTRAINTS)
        if name in selected
    ]
    # config-driven opt-in (like warn_constraints): present rules always
    # evaluate — there is no meaningful default rule set to select from
    if cfg.expressions:
        all_pairs.append(shared(expression.check(docs, cfg.expressions)))
    # the (partitions × constraints)-row verdict table is cached so the
    # verdict sink, the rollup and the global view read it instead of each
    # re-running every constraint's aggregation
    verdicts = cache(reduce(DataFrame.unionByName, [p[0] for p in all_pairs]))
    violations = reduce(DataFrame.unionByName, [p[1] for p in all_pairs])
    if cfg.violation_sample_ppm is not None:
        # applied on TOP of the (persisted) per-constraint frames: verdict
        # counts derive from the unsampled frames, so totals stay exact
        # while the emitted rows are a deterministic, retry-stable sample.
        # doc-keyed rows hash on (doc_id, constraint, pos); key-level rows
        # (frequent_items hot keys, volume/schema facts) hash their detail.
        key = F.xxhash64(
            F.coalesce(F.col("doc_id"), F.col("detail")),
            F.col("constraint"),
            F.coalesce(F.col("pos"), F.lit(-1)),
        )
        violations = violations.filter(
            F.pmod(key, F.lit(1_000_000)) < F.lit(int(cfg.violation_sample_ppm))
        )

    # warn-level constraints report but don't gate: the rollup's pass bit
    # (and therefore the manifest's done-state quality and the CLI's exit
    # summary) considers only error-level verdicts
    gating = F.col("passed")
    if cfg.warn_constraints:
        bad = (
            set(cfg.warn_constraints)
            - set(ALL_CONSTRAINTS)
            - set(OPTIONAL_CONSTRAINTS)
            - {r.constraint for r in cfg.expressions}
        )
        if bad:
            raise ValueError(f"unknown warn constraints: {sorted(bad)}")
        gating = F.when(
            F.col("constraint").isin(*cfg.warn_constraints), F.lit(True)
        ).otherwise(F.col("passed"))
    rollup = verdicts.groupBy("partition_id").agg(
        F.bool_and(gating).alias("passed"),
        F.sum("violation_count").cast("long").alias("violation_count"),
        F.max("row_count").cast("long").alias("row_count"),
    )
    return ValidationResult(
        verdicts=verdicts,
        violations=violations,
        partition_rollup=rollup,
        warn_constraints=tuple(cfg.warn_constraints),
        cached=tuple(cached),
    )


def quarantine_documents(
    docs: DataFrame,
    violations: DataFrame,
    broadcast_max_keys: int = 1_000_000,
) -> DataFrame:
    """Full offending DOCUMENT rows for inspection/repair — the violation
    table carries keys + detail strings; the quarantine carries payloads.

    Violating doc_ids are the exception by construction, so the key set
    is normally aggregated small (collect_set of constraints per doc) and
    broadcast back onto the document table as an inner join — one more
    scan of the fact side, zero fact-side shuffle. But "normally" is a
    data property, not a guarantee: a pathological run where (nearly)
    every document violates would broadcast a corpus-sized key set and
    OOM the driver/executors. The broadcast is therefore GATED on an
    exact key count (one cheap job over the violation frame, which the
    suite persists precisely because verdicts/sinks re-consume it);
    above ``broadcast_max_keys`` the join falls back to a shuffle
    hash/sort-merge join, which scales with the data instead of with
    executor memory. ``broadcast_max_keys=None`` forces the broadcast
    unconditionally (the pre-gate behavior).

    Each offending document ROW is quarantined with all its constraint
    labels (a doc_id duplicated in the table — the uniqueness offender —
    yields one payload row per physical duplicate). Key-level violations
    with no doc_id (e.g. frequent_items hot keys) have no payload row to
    quarantine and are excluded here."""
    keys = (
        violations.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("constraint")).alias("violated_constraints"))
    )
    if broadcast_max_keys is None or keys.count() <= broadcast_max_keys:
        keys = F.broadcast(keys)
    return docs.join(keys, "doc_id")


def clean_documents(
    docs: DataFrame,
    violations: DataFrame,
    broadcast_max_keys: int = 1_000_000,
) -> DataFrame:
    """The promote path — documents with NO violation row under ANY
    constraint, ``quarantine_documents``' complement: what a curation
    pipeline forwards to training after a validation run.

    Same broadcast economics as the quarantine: the violating-key set is
    the exception by construction, so it aggregates small and broadcasts
    into a LEFT ANTI join — one more pass over the document table, zero
    fact-side shuffle; above ``broadcast_max_keys`` the anti-join falls
    back to shuffle so a pathological all-violating batch cannot OOM the
    broadcast. Key-level violations without a doc_id (hot media_refs,
    volume/schema facts) identify no specific document and do not
    disqualify any."""
    keys = violations.filter(F.col("doc_id").isNotNull()).select("doc_id").distinct()
    if broadcast_max_keys is None or keys.count() <= broadcast_max_keys:
        keys = F.broadcast(keys)
    return docs.join(keys, "doc_id", "left_anti")
