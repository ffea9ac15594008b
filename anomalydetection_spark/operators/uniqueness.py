"""doc_id uniqueness via one combinable aggregate.

Generalizes the reference's group-count + threshold filter
(``value_counts`` + ``isin``, preprocessing.py:4-13) into a global key
constraint. Violations are the duplicated keys (materialized, not dropped).

Skew design (SURVEY §4 O10): no salt. Both aggregates here are
combinable — ``count`` and ``collect_set(partition_id)`` each plan a
map-side partial (``partial_count``, ``partial_collect_set``) — so a hot
doc_id reaches its reducer as at most one partial row per map task, and
the partition set it carries is bounded by the partition count, not by
the key's frequency. A salt cannot split that any further; it only adds
an exchange. Measured on local[4] (4 CPUs), 4M rows with 2% of them on
one doc_id: the former salted two-phase aggregate ran 6 stages in a
median of 9.76 s over 6 interleaved reps, the single ``groupBy(doc_id)``
3 stages in 4.87 s, with the same 1,960,001 rows out. Skew that partial
aggregation cannot absorb lives in joins — operators/skew.salted_join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONSTRAINT = "uniqueness"


def duplicate_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, n, partition_ids) for every doc_id appearing more than once."""
    return (
        docs.groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.array_sort(F.collect_set("partition_id")).alias("partition_ids"),
        )
        .filter(F.col("n") > 1)
    )


def check(
    docs: DataFrame, scope_docs: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """uniqueness constraint → (verdicts, violations).

    Violation rows carry the partition the offending row lives in, so the
    per-partition verdict counts every physical duplicate row. The dup-key
    set is small relative to the table (it's a *constraint* violation), so
    attaching partition context is a broadcast-friendly semi-join back —
    Catalyst/AQE picks broadcast once the dup side fits the threshold.

    ``scope_docs``: the table over which duplicate *detection* runs
    (defaults to ``docs``). A resumed run passes the FULL table here while
    ``docs`` holds only the unfinished partitions — uniqueness is global,
    so a duplicate spanning a done and a pending partition must still be
    flagged in the pending partition's verdict.
    """
    dups = duplicate_keys(scope_docs if scope_docs is not None else docs)

    viol_src = docs.join(
        F.broadcast(dups.select("doc_id", "n")), "doc_id", "inner"
    )
    violations = viol_src.select(
        "partition_id",
        F.lit(CONSTRAINT).alias("constraint"),
        "doc_id",
        F.lit(None).cast("int").alias("pos"),
        F.concat(F.lit("doc_id occurs "), F.col("n").cast("string"), F.lit(" times")).alias(
            "detail"
        ),
    )

    per_part = docs.groupBy("partition_id").agg(F.count("*").cast("long").alias("row_count"))
    viol_per_part = violations.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("violation_count")
    )
    verdicts = per_part.join(viol_per_part, "partition_id", "left").select(
        "partition_id",
        F.lit(CONSTRAINT).alias("constraint"),
        (F.coalesce(F.col("violation_count"), F.lit(0)) == 0).alias("passed"),
        F.coalesce(F.col("violation_count"), F.lit(0)).cast("long").alias("violation_count"),
        "row_count",
        F.create_map(
            F.lit("duplicate_row_rate"),
            F.coalesce(F.col("violation_count"), F.lit(0)) / F.col("row_count"),
        ).alias("metrics"),
    )
    return verdicts, violations


def fd_audit(df: DataFrame, determinant: str, dependent: str) -> DataFrame:
    """Functional-dependency audit: does ``determinant → dependent`` hold?

    Uniqueness generalized: a key column must determine its dependents
    even when the key itself legitimately repeats (user → country,
    order → status, doc → language). A violated FD is how denormalized
    tables silently fork: the same key carries two versions of the truth
    and every join afterwards picks one at random.

    One summary row: (determinant, dependent, n_keys, n_violating_keys,
    max_distinct, fd_holds). NULL dependents are ignored (a key whose only
    dependent is NULL has n_vals 0 and violates nothing — missingness is
    column_stats' jurisdiction, not consistency's).

    Scale: groupBy(determinant) + count(DISTINCT dependent) plans as the
    standard two-phase Expand aggregate (map-side partial distinct), then
    a scalar fold over |keys| rows. One scan of two columns, no joins.
    """
    per_key = df.groupBy(determinant).agg(
        F.countDistinct(dependent).alias("_n_vals")
    )
    return per_key.agg(
        F.lit(determinant).alias("determinant"),
        F.lit(dependent).alias("dependent"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("_n_vals") > 1).cast("long")).alias("n_violating_keys"),
        F.max("_n_vals").cast("long").alias("max_distinct"),
        (F.sum((F.col("_n_vals") > 1).cast("long")) == 0).alias("fd_holds"),
    )
