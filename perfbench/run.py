"""End-to-end and per-layer benchmark of the validation CLI.

Run from the repository root:

    python3 perfbench/run.py --workload batch_typical --seed 1 --seconds 1 --trace 0

One process per run: it starts Spark on local[<cpus>], builds the
workload's inputs from ``--seed``, runs the validation CLI
(``anomalydetection_spark.validate.main``) the way a user does, times it
from outside, checks the outputs against DuckDB (``checks.py``) and
prints one JSON object as its last stdout line. ``--trace 1`` adds the
per-layer probes (``suite_probes``, ``docstore_probes``) and Spark's event-log counters, and
writes spans plus metrics to ``perfbench/_results/``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

import checks  # noqa: E402
import tracing  # noqa: E402

DOCS_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>, partition_id int"
)
CLI_GROUP = "perfbench-cli"
ARROW_GROUP = "perfbench-arrow"
CONSTRAINTS = (
    "schema", "column_stats", "uniqueness", "referential", "distribution_drift",
    "span_order", "frequent_items", "pattern", "cross_column", "volume",
)
SINKS = ("verdicts", "violations", "quarantine", "clean")
PER_LAYER = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.corpus_passes",
    "scan.parquet_s",
    "docstore.scan_s", "docstore.metadata_s", "docstore.append_s",
    "docstore.delete_s", "docstore.files_opened",
    "explode.s", "explode.rows",
    "suite.s", *(f"constraint.{c}.marginal_s" for c in CONSTRAINTS), "suite.violation_rows",
    *(f"sink.{s}_s" for s in SINKS), "sink.quarantine_rows", "sink.clean_rows",
    "cli.jobs", "cli.residual_s",
    "manifest.sketch_s", "manifest.bloom_probe_s", "manifest.bloom_fill",
    "arrow.python_rows", "arrow.python_bytes", "process.peak_rss_mb",
)
UNITS = {
    "_s": "s", ".s": "s", "_bytes": "bytes", "_fill": "share", "_passes": "passes", "_mb": "MB",
}


def unit_of(name: str) -> str:
    return next((u for sfx, u in UNITS.items() if name.endswith(sfx)), "count")


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the Spark jobs started inside the block, for the event-log fold."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setJobGroup("perfbench-probe", "perfbench-probe")


class BatchTypical:
    """validate.py from parquet with --out --quarantine --clean on a
    generator corpus at its default violation rates, with one drifted
    partition and the default size-gated span-view cache."""

    n_docs = 20_000
    n_partitions = 8

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.docs = str(work / "in" / "docs")
        self.media = str(work / "in" / "media")
        self.baseline = str(work / "in" / "baseline")
        self.out = str(work / "out")
        self.drift_partitions = (seed % self.n_partitions,)

    def config(self):
        from anomalydetection_spark.datagen import DataGenConfig

        return DataGenConfig(
            n_docs=self.n_docs, n_partitions=self.n_partitions, seed=self.seed,
            drift_partitions=self.drift_partitions,
        )

    def write_docs(self, cfg) -> None:
        from anomalydetection_spark.datagen import generate_documents

        generate_documents(self.spark, cfg).write.parquet(self.docs)

    def setup(self) -> None:
        """Docs, media catalog and drift baseline (the corpus with every
        violation knob zeroed), all as parquet."""
        from anomalydetection_spark.datagen import (
            clean_config,
            generate_documents,
            generate_media_assets,
        )
        from anomalydetection_spark.operators import drift, reassembly

        cfg = self.config()
        self.write_docs(cfg)
        generate_media_assets(self.spark, cfg).write.parquet(self.media)
        drift.compute_baseline(
            reassembly.explode_spans_meta(generate_documents(self.spark, clean_config(cfg)))
        ).write.parquet(self.baseline)

    def argv(self) -> list[str]:
        return [
            "--docs-path", self.docs, "--media-path", self.media,
            "--baseline-path", self.baseline, "--out", self.out,
            "--quarantine", "--clean",
        ]

    def rep(self) -> None:
        """One validation as a user runs it, into a fresh output dir (the
        removal is outside the caller's timing)."""
        from anomalydetection_spark import validate

        with contextlib.redirect_stdout(io.StringIO()):
            rc = validate.main(self.argv())
        if rc != 0:
            raise RuntimeError(f"validate.main exited {rc}")

    def verify(self) -> list[str]:
        con = checks.connect()
        checks.load_docs(con, self.docs)
        expected = checks.oracle(con, self.media)
        problems = checks.check_suite_outputs(con, self.out, expected, self.drift_partitions)
        problems += checks.check_sinks(con, self.out)
        con.close()
        return problems


class BatchHostile(BatchTypical):
    """The same CLI with --no-persist-exploded (the re-scan path every
    at-scale table takes) on a corpus where most documents violate. The
    benchmark, not the program, moves ~90% of rows into partition 0 and
    rewrites 2% of doc_ids onto 3 hot keys."""

    def __init__(self, spark, work: Path, seed: int) -> None:
        super().__init__(spark, work, seed)
        self.drift_partitions = None  # skewed partitions: drift is not checked

    def config(self):
        from anomalydetection_spark.datagen import DataGenConfig

        return DataGenConfig(
            n_docs=self.n_docs, n_partitions=self.n_partitions, seed=self.seed,
            dup_rate=0.3, hot_rate=0.0, dangling_rate=0.5, malformed_ref_rate=0.1,
            missing_ref_rate=0.05, null_text_rate=0.4,
        )

    def write_docs(self, cfg) -> None:
        from pyspark.sql import functions as F

        from anomalydetection_spark.datagen import generate_documents

        docs = generate_documents(self.spark, cfg)
        h = F.abs(F.xxhash64("doc_id", "partition_id", F.lit(self.seed)))
        docs.select(
            F.when(F.pmod(h, 1000) < 20, F.format_string("bench-hot-%d", F.pmod(h, 3)))
            .otherwise(F.col("doc_id")).alias("doc_id"),
            "spans",
            F.when(F.pmod(h, 100) < 90, F.lit(0)).otherwise(F.col("partition_id"))
            .alias("partition_id"),
        ).write.parquet(self.docs)

    def argv(self) -> list[str]:
        return super().argv() + ["--no-persist-exploded"]


WORKLOADS = {"batch_typical": BatchTypical, "batch_hostile": BatchHostile}


def docstore_probes(spark, w: BatchTypical, tracer: tracing.Tracer, m: dict) -> None:
    """The docstore and manifest layers on a docstore copy of the corpus:
    a small append holding one copy of a doc_id of another partition, a
    merge-on-read delete of three unique documents, metadata reads, scans,
    and the manifest's sketch and Bloom builders."""
    import numpy as np

    from anomalydetection_spark.operators import bloom as bloomops
    from anomalydetection_spark.operators import reassembly
    from anomalydetection_spark.plans import manifest
    from anomalydetection_spark.sources import docstore as ds
    from anomalydetection_spark.sources import io as sio

    p = w.n_partitions
    a, b, c = w.seed % p, (w.seed + 1) % p, (w.seed + 2) % p
    con = checks.connect()
    checks.load_docs(con, w.docs)
    uniq = con.execute(
        "SELECT any_value(partition_id), doc_id FROM docs GROUP BY doc_id "
        "HAVING count(*) = 1 ORDER BY hash(doc_id, ?)", [w.seed],
    ).fetchall()
    con.close()
    dup_id = next(d for pid, d in uniq if pid == b)
    deleted = [d for pid, d in uniq if pid == c][:3]
    rows = [
        (f"bench-{w.seed}-{j:04d}", [("text", f"appended {j}", None, 0)], a)
        for j in range(100)
    ] + [(dup_id, [("text", "appended copy", None, 0)], a)]

    table = str(w.work / "table")
    sio.write_table(
        spark.read.parquet(w.docs).repartitionByRange(p, "partition_id"), table, fmt="docstore"
    )
    v0 = ds.current_version(table)
    batch = spark.createDataFrame(rows, DOCS_DDL)
    with tracer.span("docstore.append"):
        sio.write_table(batch, table, mode="append", fmt="docstore")
    cond = f"partition_id = {c} AND doc_id IN ({', '.join(repr(i) for i in deleted)})"
    with tracer.span("docstore.delete"):
        ds.delete_where_mor(spark, table, cond)
    with tracer.span("docstore.metadata"):
        head = ds.resolve_ref(table, "main")
        changed = ds.changed_partitions(table, v0, head)
        ds.partition_values(table)
        ds.load_manifest(table)

    def load(**opts):
        rd = spark.read.format("docstore").option("path", table)
        for k, v in opts.items():
            rd = rd.option(k, v)
        return rd.load()

    with job_group(spark, ARROW_GROUP):
        with tracer.span("docstore.scan"):
            noop_write(load())
        journal = w.work / "journal"
        journal.mkdir()
        # the bounded read an incremental run makes of the changed partitions
        noop_write(load(partition_in=",".join(map(str, sorted(changed))), journal=str(journal)))
        # the journal also holds one rg-* entry per row group read
        m["docstore.files_opened"] = sum(f.startswith("opened-") for f in os.listdir(journal))
        meta = reassembly.explode_spans_meta(load(), outer=True).select(
            "doc_id", "partition_id", "pos", "text_len", "media_ref"
        )
        with tracer.span("manifest.sketch"):
            blobs = manifest.group_sketch_blobs(meta).collect()
        blooms = {r["partition_id"]: bytes(r["bloom"]) for r in blobs}
        ids = spark.createDataFrame([(r[0],) for r in rows], "doc_id string")
        others = {pid: blob for pid, blob in blooms.items() if pid != a}
        with tracer.span("manifest.bloom_probe"):
            manifest.blooms_containing_any(spark, ids, others)
    fills = []
    for blob in blooms.values():
        m_bits, _k, _seed, words = bloomops.unpack_blob(blob)
        fills.append(float(np.unpackbits(words.view(np.uint8)).sum()) / m_bits)
    m["manifest.bloom_fill"] = statistics.fmean(fills)


def suite_probes(spark, w: BatchTypical, tracer: tracing.Tracer, m: dict) -> None:
    """Scan, explode, fused-suite, leave-one-out and sink probes, each a
    span around calls into the program's public functions, on the
    workload's docs parquet."""
    from anomalydetection_spark.operators import reassembly
    from anomalydetection_spark.plans import suite

    docs = spark.read.parquet(w.docs)
    media = spark.read.parquet(w.media)
    baseline = spark.read.parquet(w.baseline)
    # the CLI's --no-persist-exploded on batch_hostile, its size gate otherwise
    cfg = suite.SuiteConfig(persist_exploded=False if isinstance(w, BatchHostile) else None)

    with tracer.span("scan.parquet"):
        noop_write(docs)
    exploded = reassembly.explode_spans_meta(docs)
    with tracer.span("explode"):
        noop_write(exploded)
    m["explode.rows"] = exploded.count()

    def fused(constraints=None):
        res = suite.run_suite(docs, media, baseline, cfg, constraints=constraints)
        res.verdicts.collect()
        noop_write(res.violations)
        return res

    def timed_fused(name: str, constraints=None) -> None:
        spark.catalog.clearCache()
        spark._jvm.System.gc()  # each timed run starts from a collected heap
        with tracer.span(name):
            fused(constraints)

    out = w.work / "trace_sinks"
    res = fused()  # feeds the sink probes; not timed, it warms the fused plans
    m["suite.violation_rows"] = res.violations.count()
    with tracer.span("sink.verdicts"):
        res.verdicts.orderBy("partition_id", "constraint").write.parquet(f"{out}/verdicts")
    with tracer.span("sink.violations"):
        res.violations.write.partitionBy("constraint").parquet(f"{out}/violations")
    with tracer.span("sink.quarantine"):
        suite.quarantine_documents(docs, res.violations).write.parquet(f"{out}/quarantine")
    with tracer.span("sink.clean"):
        suite.clean_documents(docs, res.violations).write.parquet(f"{out}/clean")
    m["sink.quarantine_rows"] = spark.read.parquet(f"{out}/quarantine").count()
    m["sink.clean_rows"] = spark.read.parquet(f"{out}/clean").count()
    for c in CONSTRAINTS:
        timed_fused(f"suite.without.{c}", [x for x in CONSTRAINTS if x != c])
    timed_fused("suite")
    spark.catalog.clearCache()


def layer_metrics(w: BatchTypical, tracer: tracing.Tracer, m: dict, log_dir: str) -> dict:
    """Fold spans and the event log into the ``PER_LAYER`` metrics."""
    m.update(tracing.fold_event_log(log_dir, CLI_GROUP))
    arrow = tracing.fold_event_log(log_dir, ARROW_GROUP)
    m["arrow.python_rows"] = arrow["arrow.python_rows"]
    m["arrow.python_bytes"] = arrow["arrow.python_bytes"]
    m["spark.corpus_passes"] = m["spark.input_bytes"] / tracing.dir_bytes(w.docs)
    m["scan.parquet_s"] = tracer.wall("scan.parquet")
    m["explode.s"] = tracer.wall("explode")
    m["suite.s"] = tracer.wall("suite")
    for c in CONSTRAINTS:
        m[f"constraint.{c}.marginal_s"] = m["suite.s"] - tracer.wall(f"suite.without.{c}")
    for s in SINKS:
        m[f"sink.{s}_s"] = tracer.wall(f"sink.{s}")
    for s in ("scan", "metadata", "append", "delete"):
        m[f"docstore.{s}_s"] = tracer.wall(f"docstore.{s}")
    m["manifest.sketch_s"] = tracer.wall("manifest.sketch")
    m["manifest.bloom_probe_s"] = tracer.wall("manifest.bloom_probe")
    m["cli.jobs"] = m["spark.jobs"]
    # the fused suite already writes verdicts and violations; what the CLI
    # adds on top is the two document sinks and its own counts and report
    m["cli.residual_s"] = (
        tracer.wall("cli") - m["suite.s"] - m["sink.quarantine_s"] - m["sink.clean_s"]
    )
    return {k: {"value": m[k], "unit": unit_of(k)} for k in PER_LAYER}


def shutdown(spark) -> None:
    """Stop Spark, its JVM and every Python worker, and wait for them."""
    from pyspark import SparkContext

    procs = tracing.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig, grace in ((signal.SIGTERM, 20), (signal.SIGKILL, 10)):
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        for pid in alive:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.time() + grace
        while any(os.path.exists(f"/proc/{p}") for p in alive) and time.time() < deadline:
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "anomalydetection_spark" / "validate.py").is_file():
        print(f"no anomalydetection_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = HERE / "_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        (work / d).mkdir(parents=True)
    # every file Spark, the JVM and Python workers write stays in the work dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # Python workers import the package (the docstore source is Python)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))

    from anomalydetection_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            # task metrics stay in each TaskEnd's "Task Metrics"; dropping
            # their duplicate accumulables shrinks the log and its overhead
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    sampler = tracing.RssSampler()
    tracer = tracing.Tracer()
    w = WORKLOADS[args.workload](spark, work, args.seed)
    attempted = failed = 0
    walls: list[float] = []
    m: dict = {}
    try:
        w.setup()
        setup_s = time.perf_counter() - T_START
        log("set-up done")
        if args.trace:
            # the suite probes warm the JVM in place of a cold CLI call, so
            # the traced call after them is a warm one and the run stays
            # short; the docstore probes come last, their Python workers
            # would otherwise sit in the call's memory
            suite_probes(spark, w, tracer, m)
            attempted += 1
            sampler.active.set()
            with job_group(spark, CLI_GROUP), tracer.span("cli"):
                w.rep()
            sampler.active.clear()
            docstore_probes(spark, w, tracer, m)
            log("layer probes done")
        else:
            t = time.perf_counter()
            attempted += 1
            w.rep()
            cold_s = time.perf_counter() - t
            log(f"cold validation: {cold_s:.2f}s")
            deadline = time.perf_counter() + args.seconds
            while not walls or time.perf_counter() < deadline:
                shutil.rmtree(w.out)
                # validate.main leaves its span view and violation frames
                # cached; a spark-submit user's call never finds them
                spark.catalog.clearCache()
                attempted += 1
                t = time.perf_counter()
                try:
                    w.rep()
                except Exception:  # counted as a failed operation; the run goes on
                    failed += 1
                    traceback.print_exc()
                walls.append(time.perf_counter() - t)
                log(f"repetition {len(walls)}: {walls[-1]:.2f}s")
            output_bytes = tracing.dir_bytes(w.out)
        problems = w.verify()
        log(f"checks done, {len(problems)} problems")
    finally:
        sampler.close()
        shutdown(spark)

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        m["process.peak_rss_mb"] = sampler.peak / 2**20
        metrics = layer_metrics(w, tracer, m, str(work / "eventlog"))
        tracer.dump(str(HERE / "_results" / f"trace-{args.workload}-seed{args.seed}.json"),
                    metrics)
    else:
        validate_s = statistics.median(walls)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_validate_s": {"value": cold_s, "unit": "s"},
            "validate_s": {"value": validate_s, "unit": "s"},
            "docs_per_s": {"value": w.n_docs / validate_s, "unit": "1/s"},
            "output_bytes": {"value": output_bytes, "unit": "bytes"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
