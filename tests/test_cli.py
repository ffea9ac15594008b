"""In-process drive of the spark-submit CLI surface (validate.main):
the same argparse path spark-submit hits, pinned inside the pytest gate
so flag regressions can't hide between manual drives."""

from __future__ import annotations

import json

import pytest

from anomalydetection_spark import validate


def _run(capsys, argv):
    rc = validate.main(argv)
    out = capsys.readouterr().out
    return rc, out


def test_cli_end_to_end_with_resume_and_overlap_report(spark, tmp_path, capsys):
    state = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    base = [
        "--n-docs", "2000", "--n-partitions", "4", "--drift-partitions", "3",
        "--state-dir", state, "--out", out_dir,
    ]
    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001

    before = n_persisted()
    rc, out = _run(capsys, base)
    assert rc == 0
    # main releases every cache its suite run made
    assert n_persisted() <= before
    summary = json.loads(
        next(l for l in out.splitlines() if l.startswith("{"))
    )
    assert summary["validated_partitions"] == [0, 1, 2, 3]
    # verdict table printed per partition x constraint (10 default)
    assert out.count("constraint=") == 0  # resumable path prints partition rows
    assert out.count("partition=") == 40

    # identical second run: resume skips everything, overlap report reads
    # the manifest's KMV blobs (datagen injects pairwise cross-partition
    # dups -> at least one overlapping pair)
    rc2, out2 = _run(capsys, base + ["--overlap-report"])
    assert rc2 == 0
    assert n_persisted() <= before  # the overlap report releases its decode
    s2 = json.loads(next(l for l in out2.splitlines() if l.startswith("{")))
    assert s2["validated_partitions"] == []
    rep = json.loads(
        next(l for l in out2.splitlines() if l.startswith('{"overlap_pairs"'))
    )
    assert rep["overlap_pairs"] >= 1
    assert "overlap partitions=(" in out2


def test_cli_unknown_constraint_fails_fast(spark, tmp_path, capsys):
    spec = tmp_path / "bad_spec.json"
    spec.write_text(json.dumps({"constraints": [{"type": "nonsense"}]}))
    with pytest.raises(ValueError):
        validate.main([
            "--n-docs", "500", "--n-partitions", "2",
            "--spec", str(spec), "--out", str(tmp_path / "o"),
        ])


def test_cli_verdict_report_size_gate(spark, tmp_path, capsys):
    """Above --max-verdict-rows the per-row verdict print is replaced by
    a per-constraint aggregation job (round-4 verdict minor 3c): the
    driver collects O(constraints) + ≤100 failing partition ids, never
    the full (partition × constraint) table — proven here by forcing the
    gate below a small run's row count and checking the aggregated
    shape; the ungated run on the same inputs still prints per-row."""
    out_dir = str(tmp_path / "out")
    base = [
        "--n-docs", "2000", "--n-partitions", "4", "--drift-partitions", "3",
        "--out", out_dir,
    ]
    rc, out = _run(capsys, base + ["--max-verdict-rows", "5"])
    assert rc == 0
    summary = json.loads(next(l for l in out.splitlines() if l.startswith("{")))
    assert summary["verdict_report"] == "aggregated"
    assert summary["verdict_rows"] == 40  # 4 partitions x 10 constraints
    assert summary["partitions_failed_truncated"] is False
    assert set(summary["constraints_failed"]) >= {"uniqueness", "referential"}
    assert sorted(summary["partitions_failed"]) == [0, 1, 2, 3]
    # aggregated rows: one line per constraint, no per-partition rows
    assert out.count("  constraint=") == 10
    assert out.count("  partition=") == 0
    agg_lines = [l for l in out.splitlines() if l.startswith("  constraint=")]
    uniq = next(l for l in agg_lines if "uniqueness" in l)
    assert "partitions=4" in uniq and "failed=4" in uniq

    # same inputs, default gate: per-row report, identical failure sets
    rc2, out2 = _run(capsys, base)
    assert rc2 == 0
    s2 = json.loads(next(l for l in out2.splitlines() if l.startswith("{")))
    assert "verdict_report" not in s2
    assert out2.count("  partition=") == 40
    assert s2["partitions_failed"] == summary["partitions_failed"]
    assert s2["constraints_failed"] == summary["constraints_failed"]


def test_cli_maintenance_surface(spark, tmp_path, capsys):
    """--maintenance runs one docstore procedure and prints its JSON
    report: rewrite-eq-deletes folds eq files to position deletes,
    compact rewrites to N files, expire-snapshots + remove-orphans
    reclaim history — the Iceberg procedure surface on the spark-submit
    CLI."""
    from pyspark.sql import functions as F

    from anomalydetection_spark.sources import docstore as ds

    ds.register(spark)
    path = str(tmp_path / "mt")
    spark.range(0, 400).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("grp")
    ).repartition(4).write.format("docstore").option("path", path).mode(
        "append"
    ).save()
    for g in (1, 3):
        ds.delete_where_eq(spark, path, "grp", [g])
    base = ["--docs-path", path, "--docs-format", "docstore"]

    rc, out = _run(capsys, base + ["--maintenance", "rewrite-eq-deletes"])
    rep = json.loads(out.splitlines()[-1])
    assert rc == 0 and rep["maintenance"] == "rewrite-eq-deletes"
    assert rep["eq_files_folded"] == 2 and rep["deleted_rows"] == 160
    assert not ds.load_manifest(path).get("eq_deletes")

    rc, out = _run(capsys, base + ["--maintenance", "compact", "--compact-files", "2"])
    rep = json.loads(out.splitlines()[-1])
    assert rc == 0 and rep["new_version"] == ds.current_version(path)
    assert len(ds.load_manifest(path)["files"]) == 2

    rc, out = _run(capsys, base + ["--maintenance", "expire-snapshots", "--keep-last", "1"])
    rep = json.loads(out.splitlines()[-1])
    assert rc == 0 and rep["maintenance"] == "expire-snapshots"
    rc, out = _run(capsys, base + ["--maintenance", "remove-orphans", "--older-than-seconds", "0"])
    rep = json.loads(out.splitlines()[-1])
    assert rc == 0 and rep["maintenance"] == "remove-orphans"
    got = spark.read.format("docstore").option("path", path).load()
    assert got.count() == 240 and got.filter("grp IN (1,3)").count() == 0
