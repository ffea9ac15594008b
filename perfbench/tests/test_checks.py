"""The benchmark's output checks pass on correct outputs and fail on each
kind of damage: a dropped violation row, a quarantine row moved to clean,
a wrong per-partition count, a drift verdict on the wrong partition.
Pure DuckDB + pyarrow, no Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks  # noqa: E402

SPAN = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOCS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN)), ("partition_id", pa.int32())])


def _span(kind, text=None, ref=None, offset=0):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": offset}


# d3 has a NULL text, d4 a dangling media_ref, d5 is duplicated across
# partitions; d1, d2, d6 are clean
ROWS = [
    ("d1", [_span("text", "a")], 0),
    ("d2", [_span("image", ref="m-1")], 0),
    ("d5", [_span("text", "b")], 0),
    ("d3", [_span("text")], 1),
    ("d4", [_span("image", ref="m-999")], 1),
    ("d5", [_span("text", "c")], 1),
    ("d6", [_span("code", "x = 1")], 1),
]
VIOLATIONS = {
    "uniqueness": [(0, "d5", None), (1, "d5", None)],
    "referential": [(1, "d4", 0)],
    "column_stats": [(1, "d3", 0)],
}
BAD = {"d3", "d4", "d5"}


def _write(path: Path, rows: list[dict], schema: pa.Schema | None = None) -> None:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path / "part-0.parquet")


def _docs(rows):
    return [{"doc_id": d, "spans": s, "partition_id": p} for d, s, p in rows]


@pytest.fixture
def run(tmp_path):
    """Inputs plus a correct output directory, as plain parquet files."""
    _write(tmp_path / "docs", _docs(ROWS), DOCS)
    _write(tmp_path / "media", [{"media_ref": "m-1"}])
    out = tmp_path / "out"
    for constraint, rows in VIOLATIONS.items():
        _write(
            out / "violations" / f"constraint={constraint}",
            [{"partition_id": p, "doc_id": d, "pos": pos, "detail": ""} for p, d, pos in rows],
        )
    counts = {0: 3, 1: 4}
    verdicts = []
    for p, n in counts.items():
        for c in ("schema", "column_stats", "uniqueness", "referential", "distribution_drift",
                  "span_order", "frequent_items", "pattern", "cross_column", "volume"):
            verdicts.append({
                "partition_id": p, "constraint": c, "passed": True,
                "violation_count": 0, "row_count": n if c == "volume" else 1,
            })
    _write(out / "verdicts", verdicts)
    docs = _docs(ROWS)
    _write(out / "quarantine", [r for r in docs if r["doc_id"] in BAD], DOCS)
    _write(out / "clean", [r for r in docs if r["doc_id"] not in BAD], DOCS)
    return tmp_path


def _problems(root: Path, drift=()) -> list[str]:
    con = checks.connect()
    checks.load_docs(con, str(root / "docs"))
    expected = checks.oracle(con, str(root / "media"))
    return (
        checks.check_suite_outputs(con, str(root / "out"), expected, drift)
        + checks.check_sinks(con, str(root / "out"))
    )


def test_correct_outputs_pass(run):
    con = checks.connect()
    checks.load_docs(con, str(run / "docs"))
    expected = checks.oracle(con, str(run / "media"))
    assert expected == {
        "n_docs": 7, "dup_rows": 2, "dangling_refs": 1, "null_texts": 1,
        "part_counts": {0: 3, 1: 4},
    }
    assert _problems(run) == []


def test_dropped_violation_row_fails(run):
    shutil.rmtree(run / "out" / "violations" / "constraint=referential")
    assert any(p.startswith("referential") for p in _problems(run))


def test_quarantine_row_moved_to_clean_fails(run):
    docs = _docs(ROWS)
    moved = [r for r in docs if r["doc_id"] == "d3"]
    _write(run / "out" / "quarantine", [r for r in docs if r["doc_id"] in BAD - {"d3"}], DOCS)
    _write(run / "out" / "clean", [r for r in docs if r["doc_id"] not in BAD] + moved, DOCS)
    problems = _problems(run)
    assert any("quarantine holds" in p for p in problems)
    assert any("clean holds" in p for p in problems)


def test_wrong_partition_count_fails(run):
    t = pq.read_table(run / "out" / "verdicts" / "part-0.parquet").to_pylist()
    for r in t:
        if r["constraint"] == "volume" and r["partition_id"] == 0:
            r["row_count"] += 1
    _write(run / "out" / "verdicts", t)
    assert any("per-partition doc counts" in p for p in _problems(run))


def test_drift_on_wrong_partition_fails(run):
    assert any("distribution_drift" in p for p in _problems(run, drift=(1,)))
    assert _problems(run, drift=None) == []
