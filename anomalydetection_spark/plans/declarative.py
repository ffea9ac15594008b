"""Declarative constraint specs: constraints as data, plans from config.

The engine's north star is a *declarative* schema/constraint checker —
this module is the user-facing face of that: a JSON-able spec names the
constraints and their thresholds, and the engine compiles it into the
suite plan. Operations teams version specs next to table definitions; the
same spec drives batch runs, resumable runs, and the streaming validator.

Spec shape (every field optional; defaults = SuiteConfig defaults):

    {
      "constraints": [
        {"type": "schema", "mode": "compatible"},
        {"type": "column_stats", "max_null_text_rate": 0.05,
         "max_empty_spans_rate": 0.05, "min_rows": 1,
         "exact_quantiles": true},
        {"type": "uniqueness"},
        {"type": "referential"},
        {"type": "distribution_drift", "max_kl": 0.05, "max_psi": 0.1,
         "epsilon": 1e-6},
        {"type": "span_order"},
        {"type": "frequent_items", "max_ref_share": 0.05, "min_refs": 50},
        {"type": "pattern", "ref_pattern": "^m-[0-9]{5,8}$"},
        {"type": "cross_column", "severity": "warn"},
        {"type": "expression", "name": "caption_needs_ref",
         "expr": "size(spans) < 64", "severity": "warn"}
      ],
      "execution": {"persist_exploded": true, "violation_sample_ppm": null}
    }

Omitting a constraint from the list disables it. Every entry accepts
``"severity": "warn" | "error"`` (default error): a warn-level failure is
reported in the verdicts but does not gate the partition/global pass.
Unknown types or fields fail fast at compile time (a spec typo must not
silently skip a check).
"""

from __future__ import annotations

import json
from dataclasses import fields as dc_fields
from pathlib import Path

from pyspark.sql import DataFrame

from anomalydetection_spark.operators.drift import DriftThresholds
from anomalydetection_spark.operators.expression import ExpressionRule
from anomalydetection_spark.operators.freqitems import FreqThresholds
from anomalydetection_spark.operators.patterns import PatternThresholds
from anomalydetection_spark.operators.freshness import FreshnessThresholds
from anomalydetection_spark.operators.placement import PlacementThresholds
from anomalydetection_spark.operators.schema_check import SchemaThresholds
from anomalydetection_spark.operators.stats import StatsThresholds
from anomalydetection_spark.operators.volume import VolumeThresholds
from anomalydetection_spark.plans.suite import (
    ALL_CONSTRAINTS,
    SuiteConfig,
    ValidationResult,
    run_suite,
)

_ALLOWED_FIELDS = {
    "schema": {f.name for f in dc_fields(SchemaThresholds)},
    "column_stats": {f.name for f in dc_fields(StatsThresholds)},
    "uniqueness": set(),
    "referential": set(),
    "distribution_drift": {f.name for f in dc_fields(DriftThresholds)},
    "span_order": set(),
    "frequent_items": {f.name for f in dc_fields(FreqThresholds)},
    "pattern": {f.name for f in dc_fields(PatternThresholds)},
    "cross_column": set(),
    "volume": {f.name for f in dc_fields(VolumeThresholds)},
    "placement": {f.name for f in dc_fields(PlacementThresholds)},
    "freshness": {f.name for f in dc_fields(FreshnessThresholds)},
    # repeatable: one entry PER RULE, deduped by name (not by type)
    "expression": {f.name for f in dc_fields(ExpressionRule)},
}
_EXECUTION_FIELDS = {"persist_exploded", "violation_sample_ppm"}


def compile_spec(spec: dict) -> tuple[SuiteConfig, tuple[str, ...]]:
    """Validate a spec and compile it to (SuiteConfig, selected constraints).

    Fails fast on unknown constraint types or threshold fields.
    """
    entries = spec.get("constraints")
    if entries is None:
        entries = [{"type": t} for t in ALL_CONSTRAINTS]
    selected: list[str] = []
    warns: list[str] = []
    rules: list[ExpressionRule] = []
    kwargs: dict = {}
    for entry in entries:
        ctype = entry.get("type")
        if ctype not in _ALLOWED_FIELDS:
            raise ValueError(f"unknown constraint type: {ctype!r}")
        extra = set(entry) - {"type", "severity"} - _ALLOWED_FIELDS[ctype]
        if extra:
            raise ValueError(f"unknown fields for {ctype}: {sorted(extra)}")
        severity = entry.get("severity", "error")
        if severity not in ("error", "warn"):
            raise ValueError(f"unknown severity for {ctype}: {severity!r}")
        params = {k: v for k, v in entry.items() if k not in ("type", "severity")}
        if ctype == "expression":
            # repeatable entry: not a suite-selected constraint name — the
            # compiled rules ride SuiteConfig.expressions (name-deduped by
            # operators/expression._validate, which check() runs eagerly
            # below so a bad spec still fails at compile time)
            rule = ExpressionRule(**params)
            rules.append(rule)
            if severity == "warn":
                warns.append(rule.constraint)
            continue
        if ctype in selected:
            raise ValueError(f"duplicate constraint: {ctype!r}")
        if severity == "warn":
            warns.append(ctype)
        selected.append(ctype)
        if ctype == "schema" and params:
            kwargs["schema"] = SchemaThresholds(**params)
        elif ctype == "column_stats" and params:
            kwargs["stats"] = StatsThresholds(**params)
        elif ctype == "distribution_drift" and params:
            kwargs["drift"] = DriftThresholds(**params)
        elif ctype == "frequent_items" and params:
            kwargs["freq"] = FreqThresholds(**params)
        elif ctype == "pattern" and params:
            kwargs["pattern"] = PatternThresholds(**params)
        elif ctype == "volume" and params:
            kwargs["volume"] = VolumeThresholds(**params)
        elif ctype == "placement":
            kwargs["placement"] = PlacementThresholds(**params)
        elif ctype == "freshness":
            kwargs["freshness"] = FreshnessThresholds(**params)

    if rules:
        from anomalydetection_spark.operators.expression import _validate

        _validate(tuple(rules))  # duplicate names / empty exprs fail HERE
        kwargs["expressions"] = tuple(rules)
    if warns:
        kwargs["warn_constraints"] = tuple(warns)
    execution = spec.get("execution", {})
    extra = set(execution) - _EXECUTION_FIELDS
    if extra:
        raise ValueError(f"unknown execution fields: {sorted(extra)}")
    kwargs.update(execution)
    return SuiteConfig(**kwargs), tuple(selected)


def load_spec(path: str) -> dict:
    return json.loads(Path(path).read_text())


def run_declarative(
    spec: dict,
    docs: DataFrame,
    media: DataFrame,
    baseline_hist: DataFrame,
    uniqueness_scope: DataFrame | None = None,
) -> ValidationResult:
    """Compile the spec and build the validation plan (lazy)."""
    cfg, selected = compile_spec(spec)
    return run_suite(
        docs,
        media,
        baseline_hist,
        cfg,
        uniqueness_scope=uniqueness_scope,
        constraints=selected,
    )
