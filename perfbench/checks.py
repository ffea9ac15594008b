"""Output checks, computed apart from the program with DuckDB.

Every function here reads parquet files only (the benchmark's own inputs
and the program's outputs on disk), never a Spark object, so the checks
run the same in the benchmark and in ``perfbench/tests`` on hand-made
damaged outputs. Each check returns a list of problems; empty means the
outputs are correct.
"""

from __future__ import annotations

import duckdb

N_CONSTRAINTS = 10  # plans/suite.ALL_CONSTRAINTS, the CLI's default set


def _q(path: str) -> str:
    return "'" + str(path).replace("'", "''") + "'"


def _glob(dir_path: str) -> str:
    return _q(f"{dir_path}/**/*.parquet")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(":memory:")
    con.execute("SET threads TO 2")
    return con


def load_docs(con: duckdb.DuckDBPyConnection, docs_dir: str) -> None:
    """The generated input corpus as table ``docs``."""
    con.execute(
        "CREATE OR REPLACE TABLE docs AS SELECT doc_id, spans, partition_id "
        f"FROM read_parquet({_glob(docs_dir)})"
    )


def oracle(con: duckdb.DuckDBPyConnection, media_dir: str) -> dict:
    """Figures the program must reproduce, derived from table ``docs``."""
    con.execute(
        f"CREATE OR REPLACE TABLE media AS SELECT media_ref FROM read_parquet({_glob(media_dir)})"
    )
    con.execute(
        "CREATE OR REPLACE TABLE spans AS "
        "SELECT doc_id, partition_id, unnest(spans) AS s FROM docs"
    )

    def one(sql: str) -> int:
        return int(con.execute(sql).fetchone()[0])

    return {
        "n_docs": one("SELECT count(*) FROM docs"),
        "dup_rows": one(
            "SELECT count(*) FROM docs WHERE doc_id IN "
            "(SELECT doc_id FROM docs GROUP BY doc_id HAVING count(*) > 1)"
        ),
        "dangling_refs": one(
            "SELECT count(*) FROM spans WHERE s.media_ref IS NOT NULL AND NOT EXISTS "
            "(SELECT 1 FROM media m WHERE m.media_ref = s.media_ref)"
        ),
        "null_texts": one(
            "SELECT count(*) FROM spans WHERE s.kind IN ('text', 'code') AND s.text IS NULL"
        ),
        "part_counts": {
            int(p): int(n)
            for p, n in con.execute(
                "SELECT partition_id, count(*) FROM docs GROUP BY 1"
            ).fetchall()
        },
    }


def check_suite_outputs(
    con: duckdb.DuckDBPyConnection,
    out_dir: str,
    expected: dict,
    drift_partitions: tuple[int, ...] | None,
) -> list[str]:
    """Violation counts, verdict shape, per-partition volume counts and,
    unless ``drift_partitions`` is None, the drift verdicts of one
    validation output directory."""
    problems = []
    viol = f"read_parquet({_glob(out_dir + '/violations')}, hive_partitioning = true)"
    verd = f"read_parquet({_glob(out_dir + '/verdicts')}, hive_partitioning = true)"
    counts = dict(
        con.execute(f"SELECT \"constraint\", count(*) FROM {viol} GROUP BY 1").fetchall()
    )
    for constraint, key in (
        ("uniqueness", "dup_rows"),
        ("referential", "dangling_refs"),
        ("column_stats", "null_texts"),
    ):
        got = int(counts.get(constraint, 0))
        if got != expected[key]:
            problems.append(f"{constraint}: {got} violation rows, oracle {expected[key]}")
    n_parts = len(expected["part_counts"])
    n_verdicts, n_pairs = con.execute(
        f"SELECT count(*), count(DISTINCT (partition_id, \"constraint\")) FROM {verd}"
    ).fetchone()
    if not n_verdicts == n_pairs == n_parts * N_CONSTRAINTS:
        problems.append(
            f"verdicts: {n_verdicts} rows / {n_pairs} pairs, expected "
            f"{n_parts} partitions x {N_CONSTRAINTS}"
        )
    volume = {
        int(p): int(n)
        for p, n in con.execute(
            f"SELECT partition_id, row_count FROM {verd} WHERE \"constraint\" = 'volume'"
        ).fetchall()
    }
    if volume != expected["part_counts"]:
        problems.append(f"per-partition doc counts {volume} != oracle {expected['part_counts']}")
    if drift_partitions is None:
        return problems
    drift_failed = {
        int(p)
        for (p,) in con.execute(
            f"SELECT partition_id FROM {verd} "
            "WHERE \"constraint\" = 'distribution_drift' AND NOT passed"
        ).fetchall()
    }
    if drift_failed != set(drift_partitions):
        problems.append(
            f"distribution_drift failed on {sorted(drift_failed)}, "
            f"drifted partitions are {sorted(drift_partitions)}"
        )
    return problems


def check_sinks(con: duckdb.DuckDBPyConnection, out_dir: str) -> list[str]:
    """Quarantine and clean partition the input: quarantine holds exactly
    the document rows whose doc_id has a violation row, clean the rest."""
    problems = []
    viol = f"read_parquet({_glob(out_dir + '/violations')}, hive_partitioning = true)"
    quarantine = f"read_parquet({_glob(out_dir + '/quarantine')})"
    clean = f"read_parquet({_glob(out_dir + '/clean')})"
    con.execute(
        f"CREATE OR REPLACE TABLE bad_ids AS SELECT DISTINCT doc_id FROM {viol} "
        "WHERE doc_id IS NOT NULL"
    )
    n_docs, n_bad_rows = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM bad_ids)) "
        "FROM docs"
    ).fetchone()
    n_q = con.execute(f"SELECT count(*) FROM {quarantine}").fetchone()[0]
    n_c = con.execute(f"SELECT count(*) FROM {clean}").fetchone()[0]
    if n_q + n_c != n_docs:
        problems.append(f"quarantine {n_q} + clean {n_c} != input rows {n_docs}")
    if n_q != n_bad_rows:
        problems.append(f"quarantine holds {n_q} rows, {n_bad_rows} input rows violate")
    leaked = con.execute(
        f"SELECT count(*) FROM {clean} WHERE doc_id IN (SELECT doc_id FROM bad_ids)"
    ).fetchone()[0]
    if leaked:
        problems.append(f"clean holds {leaked} rows of violating doc_ids")
    return problems
