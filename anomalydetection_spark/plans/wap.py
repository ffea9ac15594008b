"""Write-audit-publish (WAP) over the docstore table format.

The workflow the whole engine exists to serve, composed end-to-end: a
producer STAGES a batch on an audit branch (isolated — main readers,
main's CDC feed, and the incremental validator's watermark never see
it), the constraint suite AUDITS the staged state, and only a fully
green verdict PUBLISHES the branch to main via a metadata-only
fast-forward. A red verdict leaves the staged branch in place for
inspection — nothing to roll back, because nothing was ever visible.

This is the Iceberg WAP pattern (stage on a branch / audit /
``fast_forward`` to main) re-expressed over sources/docstore.py's refs,
with the audit step being plans/suite.run_suite instead of an external
checker. Reference analog: the pipeline's quantile gate deciding
pass/fail before results are written out (end_to_end_prediction.py:
447-479) — here the gate guards VISIBILITY of the data itself.

Scale shape: staging is one append commit; the audit validates ONLY the
partitions the batch touched (bounded from manifest metadata by
``changed_partitions`` — no data scan to find them), with uniqueness
scoped against the full branch state so cross-partition duplicates
against ESTABLISHED docs are still caught; publish + branch drop are
metadata-only commits. A 10^12-doc table WAP-ingesting one partition
validates one partition.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetection_spark.plans.suite import SuiteConfig, run_suite
from anomalydetection_spark.sources import docstore as ds

# above this many touched partitions an isin-literal plan stops being
# reasonable — validate the full branch instead (correct, never narrower)
MAX_SCOPED_PARTITIONS = 10_000

# established-partition exclusion: small audited sets plan as NOT IN,
# larger ones as a broadcast anti-join (the pending_partition_filter gate)
_ISIN_MAX_AUDITED = 256


def _bounded_uniqueness_scope(
    spark: SparkSession,
    docs: DataFrame,
    scoped: DataFrame,
    audited: list,
    partition_col: str,
) -> DataFrame:
    """Narrow (doc_id, partition_id) frame over which duplicate detection
    runs: all audited rows plus established rows whose doc_id MAY be an
    audited id (Bloom short-circuit, operators/bloom.py — the
    dangling_keys_scalable composition applied to uniqueness). The
    established side is scanned (two columns) but never shuffled beyond
    the Bloom's survivors."""
    from anomalydetection_spark.operators import bloom as bloomops

    m_bits = min(bloomops.num_bits(scoped.count()), bloomops.LITERAL_MAX_BITS)
    blob = bloomops.blob_from_df(scoped, "doc_id", m_bits=m_bits)
    if len(audited) <= _ISIN_MAX_AUDITED:
        # NULL-partition rows are established too: ~NULL.isin(...) is
        # NULL and would silently drop them from duplicate detection
        # (the anti-join branch below keeps them — NULL never matches)
        established = docs.filter(
            ~F.col(partition_col).isin(audited)
            | F.col(partition_col).isNull()
        )
    else:
        aud_df = spark.createDataFrame(
            [(p,) for p in audited], f"`{partition_col}` long"
        )
        established = docs.join(
            F.broadcast(aud_df.select(F.col(partition_col).cast(docs.schema[partition_col].dataType))),
            partition_col,
            "left_anti",
        )
    narrow = ["doc_id", "partition_id"]
    candidates = established.select(*narrow).filter(
        bloomops.might_contain(F.col("doc_id"), blob)
    )
    return scoped.select(*narrow).unionByName(candidates)


def write_audit_publish(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    media: DataFrame,
    baseline: DataFrame,
    cfg: SuiteConfig = SuiteConfig(),
    constraints: tuple[str, ...] | list[str] | None = None,
    branch: str | None = None,
    scope: str = "staged",
    partition_col: str = "partition_id",
    drop_branch_on_publish: bool = True,
    publish_tag: str | None = None,
) -> dict:
    """Stage ``batch`` on an audit branch, run the suite, publish iff
    every error-severity constraint passed.

    ``scope='staged'`` (default) audits only the partitions the batch
    touched (uniqueness still scoped table-wide); ``'full'`` audits the
    entire staged state. ``branch`` names the audit branch (default: a
    fresh ``audit-<hex>``); on failure the branch SURVIVES with the
    staged commit for drill-down — re-running with the same name fails
    loudly rather than double-staging. ``publish_tag`` tags the published
    snapshot atomically with the publish commit — the marker a replaying
    caller (the streaming sink) checks to skip an already-published batch.

    Returns {published, branch, base_version, staged_version,
    published_version, audited_partitions, verdicts, n_violations,
    violations} — ``verdicts`` is the per-constraint global rollup as
    plain dicts; ``violations`` a DataFrame over the PINNED staged
    version (stays readable after publish/drop until snapshot expiry).
    """
    ds.register(spark)
    name = branch or f"audit-{uuid.uuid4().hex[:12]}"
    if ds.current_version(table_dir) == 0:
        # brand-new table: commit an empty v1 so there is a main to
        # branch from — the batch itself still lands on the audit branch
        (
            batch.limit(0).write.format("docstore")
            .option("path", table_dir).mode("append").save()
        )
    base_main = ds.resolve_ref(table_dir, "main")
    ds.create_branch(table_dir, name)
    (
        batch.write.format("docstore")
        .option("path", table_dir)
        .option("branch", name)
        .mode("append")
        .save()
    )
    staged_v = ds.resolve_ref(table_dir, name)

    # pin the VERSION, not the ref: the returned frames stay planable
    # after the branch is dropped (snapshots outlive refs until expiry)
    docs = ds.load(spark, table_dir, version=staged_v)
    audited = None  # None = full
    scoped = docs
    uniqueness_scope = None
    if scope == "staged":
        pids = ds.changed_partitions(table_dir, base_main, staged_v, partition_col)
        if pids is not None and len(pids) <= MAX_SCOPED_PARTITIONS:
            audited = sorted(pids)
            # file bound: the audit scan opens only the files that can
            # hold the touched partitions; the row filter stays the
            # correctness boundary for spanning/legacy files
            scoped = ds.load(
                spark, table_dir, version=staged_v,
                where={partition_col: audited},
            ).filter(F.col(partition_col).isin(audited))
            # table-wide duplicate detection, BOUNDED: the naive scope
            # (the whole staged table) re-shuffles 10^12 doc_ids per
            # ingest inside duplicate_keys. A duplicate relevant to this
            # audit must involve an audited partition's doc_id, so build
            # a Bloom over the audited ids and map-side-filter the
            # established partitions down to candidate rows before any
            # shuffle (no false negatives ⇒ every established copy of an
            # audited id survives ⇒ verdicts identical; false positives
            # only add established-only rows whose dup groups never join
            # back to audited docs). Filter sized ~12 bits/key and capped
            # at 2 MB of plan literal — a saturated filter degrades to
            # keeping more candidates, never to a missed duplicate.
            uniqueness_scope = _bounded_uniqueness_scope(
                spark, docs, scoped, audited, partition_col
            )
    elif scope != "full":
        raise ValueError(f"unknown scope '{scope}' (staged|full)")

    result = run_suite(
        scoped, media, baseline, cfg,
        uniqueness_scope=uniqueness_scope, constraints=constraints,
    )
    verdicts = [r.asDict() for r in result.global_verdicts.collect()]
    result.unpersist()
    gating_failures = [
        v for v in verdicts if not v["passed"] and v["severity"] == "error"
    ]
    out = {
        "published": False,
        "branch": name,
        "base_version": base_main,
        "staged_version": staged_v,
        "published_version": None,
        "audited_partitions": audited,
        "verdicts": verdicts,
        "n_violations": int(sum(v["violation_count"] for v in verdicts)),
        "violations": result.violations,
    }
    if gating_failures:
        return out  # branch kept for inspection; main never saw the batch
    out["published_version"] = ds.fast_forward(
        table_dir, name, "main", tag=publish_tag
    )
    out["published"] = True
    if drop_branch_on_publish:
        ds.drop_ref(table_dir, name)
    return out
