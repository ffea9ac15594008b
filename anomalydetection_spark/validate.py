"""spark-submit entry point: run the full constraint suite.

Usage (local smoke; on a cluster drop --master and add --py-files):

    spark-submit anomalydetection_spark/validate.py \
        --n-docs 10000 --n-partitions 8 --drift-partitions 7 \
        --out /tmp/validation_out

Generates the deterministic synthetic interleaved documents table (or
reads --docs-path parquet of the same shape), runs
stats + uniqueness + referential + drift + span_order, writes
verdicts/violations parquet, prints a summary JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _verdict_report(verdicts, gate: int):
    """Bounded-driver verdict reporting: one ordered ``limit(gate + 1)``
    collect decides the shape. At or below ``gate`` (partition ×
    constraint) rows it is the whole table, printed per-row; above it
    the report derives from a per-constraint aggregation plus the first
    100 failing partition ids, so a 10⁵-partition run never
    materializes its verdict table on the driver. Returns
    ``(summary_fields, printer)``."""
    from pyspark.sql import functions as F

    rows = verdicts.orderBy("partition_id", "constraint").limit(gate + 1).collect()
    if len(rows) <= gate:
        fields = {
            "partitions_failed": sorted(
                {r["partition_id"] for r in rows if not r["passed"]}
            ),
            "constraints_failed": sorted(
                {r["constraint"] for r in rows if not r["passed"]}
            ),
        }

        def printer():
            for r in rows:
                status = "PASS" if r["passed"] else "FAIL"
                print(
                    f"  partition={r['partition_id']:>4} {r['constraint']:<20}"
                    f" {status} violations={r['violation_count']}"
                )

        return fields, printer

    agg = (
        verdicts.groupBy("constraint")
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum(F.when(F.col("passed"), 0).otherwise(1)).alias("n_failed"),
            F.sum("violation_count").alias("violations"),
        )
        .orderBy("constraint")
        .collect()
    )
    failed = [
        r["partition_id"]
        for r in verdicts.filter(~F.col("passed"))
        .select("partition_id")
        .distinct()
        .orderBy("partition_id")
        .limit(100)
        .collect()
    ]
    fields = {
        "verdict_rows": sum(r["n_partitions"] for r in agg),
        "verdict_report": "aggregated",
        "partitions_failed": failed,
        "partitions_failed_truncated": len(failed) == 100,
        "constraints_failed": sorted(
            r["constraint"] for r in agg if r["n_failed"]
        ),
    }

    def printer():
        for r in agg:
            print(
                f"  constraint={r['constraint']:<20}"
                f" partitions={r['n_partitions']} failed={r['n_failed']}"
                f" violations={r['violations']}"
            )

    return fields, printer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="interleaved-documents validation suite")
    ap.add_argument("--docs-path", help="documents table (doc_id, spans, partition_id)")
    ap.add_argument("--docs-format", default="parquet", choices=["parquet", "docstore"],
                    help="--docs-path format: plain parquet, or the docstore "
                         "snapshot table format (sources/docstore.py — the "
                         "Iceberg-shaped path; reads the current snapshot)")
    ap.add_argument("--media-path", help="media_assets table (media_ref catalog)")
    ap.add_argument("--media-format", default="parquet", choices=["parquet", "docstore"],
                    help="docstore + --state-dir: resumable runs track the catalog's "
                         "snapshot watermark and re-validate only doc partitions whose "
                         "media_ref Blooms contain a changed catalog key")
    ap.add_argument("--baseline-path", help="parquet of baseline histograms")
    ap.add_argument("--n-docs", type=int, default=10_000)
    ap.add_argument("--n-partitions", type=int, default=8)
    ap.add_argument("--n-media", type=int, default=1_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--drift-partitions", type=int, nargs="*", default=[])
    ap.add_argument("--out", help="output dir for verdicts/violations parquet")
    ap.add_argument("--master", default=None, help="override spark master (tests)")
    ap.add_argument("--state-dir", help="manifest dir → resumable run (only unfinished partitions re-validate)")
    ap.add_argument("--max-null-text-rate", type=float, default=0.05)
    ap.add_argument("--max-kl", type=float, default=0.05)
    ap.add_argument("--max-psi", type=float, default=0.1)
    ap.add_argument("--max-js", type=float, default=None,
                    help="drift: opt-in Jensen-Shannon bound (smoothing-free, <= ln 2)")
    ap.add_argument("--max-hellinger", type=float, default=None,
                    help="drift: opt-in Hellinger-distance bound (<= 1)")
    ap.add_argument("--max-ref-share", type=float, default=0.05,
                    help="frequent_items: max share of a partition's refs one media_ref may hold")
    ap.add_argument("--min-refs", type=int, default=50,
                    help="frequent_items: partitions with fewer refs are vacuously clean")
    ap.add_argument("--ref-pattern", default=None,
                    help="pattern: regex every non-null media_ref must match")
    ap.add_argument("--min-docs", type=int, default=1,
                    help="volume: minimum documents per partition")
    ap.add_argument("--max-docs", type=int, default=None,
                    help="volume: maximum documents per partition")
    ap.add_argument("--no-persist-exploded", action="store_true",
                    help="recompute the span view from the columnar scan (large inputs)")
    ap.add_argument("--spec", help="JSON constraint spec (plans/declarative.py) — "
                                   "overrides the individual threshold flags")
    ap.add_argument("--quarantine", action="store_true",
                    help="additionally write full offending document rows to <out>/quarantine")
    ap.add_argument("--clean", action="store_true",
                    help="additionally write the promote-path complement — documents "
                         "with NO row-level violation — to <out>/clean (what a "
                         "curation pipeline forwards to training)")
    ap.add_argument("--suggest", action="store_true",
                    help="profile the input and print a suggested constraint spec "
                         "(plans/suggest.py) instead of validating; pipe to a file "
                         "and pass it back via --spec")
    ap.add_argument("--anomaly-check", action="store_true",
                    help="with --state-dir: after the run, flag each partition's "
                         "latest row/violation counts against its own run history "
                         "(plans/manifest.metric_anomalies)")
    ap.add_argument("--overlap-report", action="store_true",
                    help="with --state-dir: print estimated cross-partition "
                         "doc_id overlap pairs from the manifest's KMV "
                         "sketch blobs alone — no rescan "
                         "(plans/manifest.overlap_report)")
    ap.add_argument("--min-overlap", type=int, default=1,
                    help="--overlap-report: suppress pairs whose estimated "
                         "common-id count is below this (default 1)")
    ap.add_argument("--save-quantile-baseline", metavar="PATH",
                    help="with --state-dir: after the run, merge the manifest's "
                         "per-partition t-digest blobs into one baseline digest "
                         "and write it to PATH (the blessed-snapshot artifact "
                         "--quantile-baseline consumes on later runs)")
    ap.add_argument("--quantile-baseline", metavar="PATH",
                    help="with --state-dir: after the run, compare every validated "
                         "partition's stored t-digest against the baseline digest "
                         "at PATH and print per-partition quantile-drift flags — "
                         "sketch state only, no row rescan "
                         "(plans/manifest.quantile_drift_report)")
    ap.add_argument("--max-quantile-gap", type=float, default=0.2,
                    help="--quantile-baseline: max relative quantile gap before a "
                         "partition flags")
    ap.add_argument("--wap-ingest", metavar="PARQUET",
                    help="write-audit-publish (requires --docs-path + "
                         "--docs-format docstore): stage the parquet batch on "
                         "an audit branch, validate the touched partitions, "
                         "publish to main ONLY if every error-severity "
                         "constraint passes; exit 0 = published, 3 = blocked "
                         "(branch kept for inspection)")
    ap.add_argument("--wap-branch", default=None,
                    help="--wap-ingest: audit branch name (default audit-<hex>)")
    ap.add_argument("--wap-scope", default="staged", choices=["staged", "full"],
                    help="--wap-ingest: audit only the touched partitions "
                         "(metadata-bounded; uniqueness stays table-wide) or "
                         "the full staged state")
    ap.add_argument("--max-verdict-rows", type=int, default=40_000,
                    help="above this many (partition × constraint) verdict "
                         "rows the per-row report is replaced by a "
                         "per-constraint aggregation job — the driver never "
                         "collects a 10⁵-partition verdict table")
    ap.add_argument("--maintenance", default=None,
                    choices=["compact", "rewrite-eq-deletes",
                             "expire-snapshots", "remove-orphans",
                             "build-sidecars"],
                    help="run ONE docstore maintenance procedure against "
                         "--docs-path (requires --docs-format docstore), "
                         "print its JSON report, exit — the Iceberg "
                         "rewriteDataFiles / rewrite_position_delete_files / "
                         "expireSnapshots / remove_orphan_files / ANALYZE "
                         "procedure surface")
    ap.add_argument("--compact-files", type=int, default=1,
                    help="maintenance compact: target data-file count")
    ap.add_argument("--zorder-by", nargs="*", default=None,
                    help="maintenance compact: z-order layout columns")
    ap.add_argument("--keep-last", type=int, default=1,
                    help="maintenance expire-snapshots: snapshots to keep")
    ap.add_argument("--older-than-seconds", type=float, default=None,
                    help="maintenance expire-snapshots / remove-orphans: "
                         "age horizon (remove-orphans default: 3 days)")
    ap.add_argument("--bloom-by", nargs="*", default=None,
                    help="maintenance build-sidecars: key columns to build "
                         "Bloom sidecars for")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from anomalydetection_spark.datagen import (
        DataGenConfig,
        clean_config,
        generate_documents,
        generate_media_assets,
    )
    from anomalydetection_spark.operators import drift, reassembly
    from anomalydetection_spark.operators.drift import DriftThresholds
    from anomalydetection_spark.operators.freqitems import FreqThresholds
    from anomalydetection_spark.operators.stats import StatsThresholds
    from anomalydetection_spark.plans.suite import SuiteConfig, run_suite
    from anomalydetection_spark.session import get_spark

    if args.maintenance:
        if not (args.docs_path and args.docs_format == "docstore"):
            ap.error("--maintenance requires --docs-path and --docs-format docstore")
        from anomalydetection_spark.sources import docstore as ds

        if args.maintenance == "expire-snapshots":
            rep = ds.expire_snapshots(
                args.docs_path, keep_last=args.keep_last,
                older_than_seconds=args.older_than_seconds,
            )
        elif args.maintenance == "remove-orphans":
            rep = ds.remove_orphan_files(
                args.docs_path,
                **(
                    {"older_than_seconds": args.older_than_seconds}
                    if args.older_than_seconds is not None
                    else {}
                ),
            )
        else:  # compact / rewrite-eq-deletes / build-sidecars need Spark
            spark = get_spark(app_name="validate-maintenance", master=args.master)
            ds.register(spark)  # compact reads/writes format("docstore")
            if args.maintenance == "compact":
                v = ds.compact_snapshot(
                    spark, args.docs_path, n_files=args.compact_files,
                    zorder_by=args.zorder_by or None,
                )
                rep = {"new_version": v, "n_files": args.compact_files}
            elif args.maintenance == "rewrite-eq-deletes":
                rep = ds.rewrite_eq_deletes(spark, args.docs_path)
            else:
                if not args.bloom_by:
                    ap.error("--maintenance build-sidecars requires --bloom-by")
                rep = ds.build_sidecars(spark, args.docs_path, args.bloom_by)
        print(json.dumps({"maintenance": args.maintenance, **rep}))
        return 0

    spark = get_spark(app_name="validate-suite", master=args.master)

    cfg = DataGenConfig(
        n_docs=args.n_docs,
        n_partitions=args.n_partitions,
        n_media=args.n_media,
        seed=args.seed,
        drift_partitions=tuple(args.drift_partitions),
    )
    if args.docs_path and args.docs_format == "docstore":
        from anomalydetection_spark.sources import docstore as _ds

        _ds.register(spark)
        docs = spark.read.format("docstore").option("path", args.docs_path).load()
    elif args.docs_path:
        docs = spark.read.parquet(args.docs_path)
    else:
        docs = generate_documents(spark, cfg)
    if args.media_path and args.media_format == "docstore":
        from anomalydetection_spark.sources import docstore as _mds

        _mds.register(spark)
        media = spark.read.format("docstore").option("path", args.media_path).load()
    elif args.media_path:
        media = spark.read.parquet(args.media_path)
    else:
        media = generate_media_assets(spark, cfg)
    if args.baseline_path:
        baseline = spark.read.parquet(args.baseline_path)
    else:
        baseline = drift.compute_baseline(
            reassembly.explode_spans_meta(generate_documents(spark, clean_config(cfg)))
        )

    if args.suggest:
        # profile → suggest: the printed spec is directly consumable via
        # --spec on the next invocation (the Deequ suggestion loop)
        from anomalydetection_spark.plans.suggest import suggest_spec

        print(json.dumps(suggest_spec(docs), indent=2))
        return 0

    selected_constraints = None
    if args.spec:
        from anomalydetection_spark.plans.declarative import compile_spec, load_spec

        suite_cfg, selected_constraints = compile_spec(load_spec(args.spec))
    else:
        from anomalydetection_spark.operators.patterns import PatternThresholds
        from anomalydetection_spark.operators.volume import VolumeThresholds

        suite_cfg = SuiteConfig(
            stats=StatsThresholds(max_null_text_rate=args.max_null_text_rate),
            drift=DriftThresholds(
                max_kl=args.max_kl,
                max_psi=args.max_psi,
                max_js=args.max_js,
                max_hellinger=args.max_hellinger,
            ),
            freq=FreqThresholds(max_ref_share=args.max_ref_share, min_refs=args.min_refs),
            volume=VolumeThresholds(min_docs=args.min_docs, max_docs=args.max_docs),
            pattern=(
                PatternThresholds(ref_pattern=args.ref_pattern)
                if args.ref_pattern
                else PatternThresholds()
            ),
            # flag forces the cache OFF; otherwise the size gate decides
            persist_exploded=False if args.no_persist_exploded else None,
        )

    if args.wap_ingest:
        if not (args.docs_path and args.docs_format == "docstore"):
            ap.error("--wap-ingest requires --docs-path and --docs-format docstore")
        from anomalydetection_spark.plans.wap import write_audit_publish

        batch = spark.read.parquet(args.wap_ingest)
        res = write_audit_publish(
            spark, args.docs_path, batch, media, baseline,
            cfg=suite_cfg, constraints=selected_constraints,
            branch=args.wap_branch, scope=args.wap_scope,
        )
        print(json.dumps({
            k: res[k]
            for k in ("published", "branch", "base_version", "staged_version",
                      "published_version", "audited_partitions", "n_violations")
        }))
        for v in res["verdicts"]:
            print(f"  constraint={v['constraint']:<20} "
                  f"{'PASS' if v['passed'] else 'FAIL'} "
                  f"violations={v['violation_count']} severity={v['severity']}")
        return 0 if res["published"] else 3

    t0 = time.time()
    if args.state_dir:
        # manifest-resumable path: only partitions not marked done run
        from anomalydetection_spark.plans.manifest import ResumableValidator

        out_dir = args.out or f"{args.state_dir}/out"
        v = ResumableValidator(spark, args.state_dir, out_dir)
        if args.docs_path and args.docs_format == "docstore":
            # snapshot-aware: partitions whose docstore file set changed
            # since the last validated snapshot are invalidated from
            # manifest METADATA alone and re-validated with the pending set
            run_info = v.run_docstore_incremental(
                args.docs_path, media, baseline, suite_cfg,
                media_table_dir=(
                    args.media_path if args.media_format == "docstore" else None
                ),
            )
        else:
            run_info = v.run(docs, media, baseline, suite_cfg)
        fields, print_verdicts = _verdict_report(
            v.verdicts(), args.max_verdict_rows
        )
        n_viol = v.violations().count()
        elapsed = time.time() - t0
        summary = {
            "resumable": True,
            "validated_partitions": run_info["validated_partitions"],
            "skipped_partitions": run_info["skipped_partitions"],
            "elapsed_sec": round(elapsed, 3),
            "n_violations": n_viol,
            **fields,
        }
        for k in ("snapshot_version", "previous_snapshot", "invalidated_partitions",
                  "media_snapshot_version", "media_previous_snapshot",
                  "media_invalidated_partitions"):
            if k in run_info:
                summary[k] = run_info[k]
        print(json.dumps(summary))
        print_verdicts()
        if args.anomaly_check:
            flags = v.metric_anomalies().orderBy("partition_id", "metric").collect()
            for r in flags:
                mark = "ANOMALY" if (r["normal_anomaly"] or r["change_anomaly"]) else "ok"
                print(
                    f"  history partition={r['partition_id']:>4} {r['metric']:<16}"
                    f" value={r['value']} hist_n={r['hist_n']} {mark}"
                )
        if args.overlap_report:
            pairs = v.overlap_report(min_est=args.min_overlap).collect()
            print(json.dumps({"overlap_pairs": len(pairs)}))
            for r in pairs:
                print(
                    f"  overlap partitions=({r['partition_a']},{r['partition_b']})"
                    f" est_common={r['est_common']}"
                    f" est_distinct=({r['est_distinct_a']},{r['est_distinct_b']})"
                )
        if args.save_quantile_baseline:
            from anomalydetection_spark.operators.tdigest import TDigest

            merged = TDigest()
            n_blobs = 0
            for r in v.manifest.read().collect():
                if r["sketch_blob"] is not None:
                    merged.merge(TDigest.from_bytes(bytes(r["sketch_blob"])))
                    n_blobs += 1
            with open(args.save_quantile_baseline, "wb") as f:
                f.write(merged.to_bytes())
            print(json.dumps({
                "quantile_baseline": args.save_quantile_baseline,
                "merged_partitions": n_blobs,
            }))
        if args.quantile_baseline:
            with open(args.quantile_baseline, "rb") as f:
                base_blob = f.read()
            report = v.quantile_drift_report(
                base_blob, max_rel_gap=args.max_quantile_gap
            ).orderBy("partition_id").collect()
            for r in report:
                mark = "DRIFT" if r["flagged"] else "ok"
                print(
                    f"  qdrift partition={r['partition_id']:>4}"
                    f" max_rel_gap={r['max_rel_gap']:.4f}"
                    f" worst_probe={r['worst_probe']:.2f} {mark}"
                )
        return 0

    res = run_suite(docs, media, baseline, suite_cfg, constraints=selected_constraints)
    verdicts = res.verdicts.orderBy("partition_id", "constraint")
    if args.out:
        verdicts.write.mode("overwrite").parquet(f"{args.out}/verdicts")
        res.violations.write.mode("overwrite").partitionBy("constraint").parquet(
            f"{args.out}/violations"
        )
        if args.quarantine:
            from anomalydetection_spark.plans.suite import quarantine_documents

            quarantine_documents(docs, res.violations).write.mode("overwrite").parquet(
                f"{args.out}/quarantine"
            )
        if args.clean:
            from anomalydetection_spark.plans.suite import clean_documents

            clean_documents(docs, res.violations).write.mode("overwrite").parquet(
                f"{args.out}/clean"
            )
        n_viol = spark.read.parquet(f"{args.out}/violations").count()
        vd = spark.read.parquet(f"{args.out}/verdicts")
    else:
        vd = verdicts
        n_viol = res.violations.count()
    fields, print_verdicts = _verdict_report(vd, args.max_verdict_rows)
    res.unpersist()
    n_docs = docs.count()
    elapsed = time.time() - t0
    summary = {
        "n_docs": n_docs,
        "elapsed_sec": round(elapsed, 3),
        "docs_per_sec": round(n_docs / elapsed, 1),
        "n_violations": n_viol,
        **fields,
    }
    print(json.dumps(summary))
    print_verdicts()
    return 0


if __name__ == "__main__":
    sys.exit(main())
