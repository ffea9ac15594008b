"""Declarative spec layer: compile, subset selection, threshold wiring,
fail-fast validation."""

from __future__ import annotations

import pytest

from anomalydetection_spark.datagen import (
    DataGenConfig,
    clean_config,
    generate_documents,
    generate_media_assets,
)
from anomalydetection_spark.operators import drift, reassembly
from anomalydetection_spark.plans.declarative import compile_spec, run_declarative
from anomalydetection_spark.plans.suite import SuiteConfig, run_suite

CFG = DataGenConfig(n_docs=1000, n_partitions=3, n_media=150, drift_partitions=(2,))


@pytest.fixture(scope="module")
def inputs(spark):
    docs = generate_documents(spark, CFG).cache()
    media = generate_media_assets(spark, CFG).cache()
    baseline = drift.compute_baseline(
        reassembly.explode_spans_meta(generate_documents(spark, clean_config(CFG)))
    ).cache()
    return docs, media, baseline


def test_empty_spec_runs_everything(spark, inputs):
    docs, media, baseline = inputs
    res = run_declarative({}, docs, media, baseline)
    got = {r["constraint"] for r in res.verdicts.collect()}
    assert got == {
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
    }


def test_subset_spec_runs_only_selected(spark, inputs):
    docs, media, baseline = inputs
    spec = {"constraints": [{"type": "uniqueness"}, {"type": "span_order"}]}
    res = run_declarative(spec, docs, media, baseline)
    got = {r["constraint"] for r in res.verdicts.collect()}
    assert got == {"uniqueness", "span_order"}


def test_thresholds_wired_through(spark, inputs):
    docs, media, baseline = inputs
    # absurdly loose drift thresholds → the drifted partition passes
    spec = {
        "constraints": [{"type": "distribution_drift", "max_kl": 100.0, "max_psi": 100.0}]
    }
    res = run_declarative(spec, docs, media, baseline)
    assert all(r["passed"] for r in res.verdicts.collect())
    # and default thresholds flag it
    strict = run_declarative(
        {"constraints": [{"type": "distribution_drift"}]}, docs, media, baseline
    )
    assert not all(r["passed"] for r in strict.verdicts.collect())


def test_bounded_drift_thresholds_via_spec(spark, inputs):
    """The opt-in JS/Hellinger bounds flow through the declarative layer:
    loose KL/PSI alone pass the drifted partition, adding a tight
    Hellinger bound flags it again."""
    docs, media, baseline = inputs
    loose = {
        "constraints": [{"type": "distribution_drift", "max_kl": 100.0, "max_psi": 100.0}]
    }
    res = run_declarative(loose, docs, media, baseline)
    assert all(r["passed"] for r in res.verdicts.collect())
    bounded = {
        "constraints": [{
            "type": "distribution_drift",
            "max_kl": 100.0, "max_psi": 100.0, "max_hellinger": 1e-3,
        }]
    }
    res2 = run_declarative(bounded, docs, media, baseline)
    rows = {r["partition_id"]: r for r in res2.verdicts.collect()}
    assert not all(r["passed"] for r in rows.values())
    # the bounded scores surface in the verdict metrics map
    assert any("hellinger_span_length" in r["metrics"] for r in rows.values())


def test_spec_matches_programmatic_config(spark, inputs):
    docs, media, baseline = inputs
    spec = {
        "constraints": [
            {"type": "schema", "mode": "compatible"},
            {"type": "column_stats", "max_null_text_rate": 0.01},
            {"type": "uniqueness"},
            {"type": "referential"},
            {"type": "distribution_drift"},
            {"type": "span_order"},
            {"type": "frequent_items", "max_ref_share": 0.04},
            {"type": "pattern"},
            {"type": "cross_column"},
            {"type": "volume", "min_docs": 1},
        ],
        "execution": {"persist_exploded": False},
    }
    a = sorted(
        (r["partition_id"], r["constraint"], r["passed"], r["violation_count"])
        for r in run_declarative(spec, docs, media, baseline).verdicts.collect()
    )
    from anomalydetection_spark.operators.freqitems import FreqThresholds
    from anomalydetection_spark.operators.stats import StatsThresholds

    cfg = SuiteConfig(
        stats=StatsThresholds(max_null_text_rate=0.01),
        freq=FreqThresholds(max_ref_share=0.04),
        persist_exploded=False,
    )
    b = sorted(
        (r["partition_id"], r["constraint"], r["passed"], r["violation_count"])
        for r in run_suite(docs, media, baseline, cfg).verdicts.collect()
    )
    assert a == b


def test_fail_fast_on_bad_spec():
    with pytest.raises(ValueError, match="unknown constraint type"):
        compile_spec({"constraints": [{"type": "uniquness"}]})
    with pytest.raises(ValueError, match="unknown fields"):
        compile_spec({"constraints": [{"type": "uniqueness", "salt": 4}]})
    with pytest.raises(ValueError, match="duplicate"):
        compile_spec({"constraints": [{"type": "span_order"}, {"type": "span_order"}]})
    with pytest.raises(ValueError, match="unknown execution"):
        compile_spec({"execution": {"cache": True}})
    # removed plan knobs are typos now, not silently ignored settings
    with pytest.raises(ValueError, match="unknown fields"):
        compile_spec({"constraints": [{"type": "uniqueness", "n_salts": 16}]})
    with pytest.raises(ValueError, match="unknown fields"):
        compile_spec({"constraints": [{"type": "referential", "broadcast": True}]})
    for knob in ("persist_violations", "repartition_exploded"):
        with pytest.raises(ValueError, match="unknown execution"):
            compile_spec({"execution": {knob: None}})


def test_shipped_example_spec_compiles():
    from pathlib import Path

    from anomalydetection_spark.plans.declarative import compile_spec, load_spec

    spec = load_spec(str(Path(__file__).resolve().parents[1] / "examples" / "constraints.json"))
    cfg, selected = compile_spec(spec)
    assert "schema" in selected and "placement" in selected
    assert cfg.placement.expr  # example must carry a real transform
    assert cfg.violation_sample_ppm == 1_000_000
    # the example exercises the opt-in bounded-drift and shape-moment knobs
    assert cfg.drift.max_js == 0.05 and cfg.drift.max_hellinger == 0.25
    assert cfg.stats.collect_moments is True
