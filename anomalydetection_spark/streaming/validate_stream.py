"""Structured Streaming variant of the validation suite.

The reference's streaming surface is a stateful single-pass fold: log rows
buffered 100k at a time through a mutating Drain3 miner with a persisted
state file (models/drain.py:69-90, 48-51). The engine's batch analog is
the manifest-resume planner (plans/manifest.py); THIS module is the true
event-stream variant for continuously-arriving documents:

- ``readStream`` over the documents directory (file source; swap for
  Kafka in production — the plan below is source-agnostic)
- per-micro-batch full constraint evaluation via ``foreachBatch`` (each
  batch validated against the same media catalog + baseline histograms,
  verdicts appended with a batch_id lineage column)
- a streaming-native running aggregate (per-partition span counts /
  null rates) maintained with update mode

Checkpointing: the streaming checkpoint dir plays the manifest's role —
a killed stream resumes from the last committed micro-batch offset. Note
foreachBatch is at-least-once: a crash between a batch's writes and the
checkpoint commit replays the batch. The verdict/violation writes are
therefore made *idempotent per batch_id* (partitionBy(batch_id) + dynamic
partition overwrite), so a replayed batch replaces its own partition
instead of appending duplicates — effectively-once end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anomalydetection_spark.plans.suite import SuiteConfig, run_suite
from anomalydetection_spark.schema import DOCUMENTS_SCHEMA


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source document stream (one file per arriving batch)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def start_validation_stream(
    spark: SparkSession,
    input_dir: str,
    media: DataFrame,
    baseline: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    manifest_state_dir: str | None = None,
    spec: dict | None = None,
):
    """foreachBatch: run the batch suite on each micro-batch, write
    verdicts/violations parquet stamped with the micro-batch id (lineage).

    foreachBatch (not streaming aggs) because the constraint suite needs
    joins + multi-output fan-out per batch. foreachBatch replays a batch
    after a crash (at-least-once), so each write is partitioned by
    batch_id and uses dynamic partition overwrite: a replay replaces
    exactly its own batch_id partition — idempotent, no duplicate rows.

    ``manifest_state_dir`` unifies the two resume domains: when set, each
    validated micro-batch also marks its partitions done in the BATCH
    manifest (plans/manifest.ManifestStore), with the same sketch blobs a
    batch pass would record, so a later ``ResumableValidator.run`` over
    the full table skips everything the stream already validated instead
    of re-validating it. Contract: the ingest layout must deliver WHOLE
    table partitions per arriving file (the standard one-file-per-
    partition ingest unit) — a partition whose docs straddle micro-batches
    would be marked done after its first slice. Replays are safe: a
    replayed batch re-marks the same partitions with identical rollups
    (mark_done is an upsert). Uniqueness caveat: each batch checks doc_id
    uniqueness within its own slice (the streaming dedup path,
    dropDuplicatesWithinWatermark, owns cross-batch duplicates at ingest).
    """
    stream = stream_documents(spark, input_dir)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # the SAME declarative spec that drives batch and resumable runs drives
    # the stream (plans/declarative.py): compiled ONCE at start, not per
    # micro-batch; spec=None keeps the full default suite. Micro-batches
    # are small, so the exploded view is always cached; each batch
    # releases what its run cached once its outputs are written.
    if spec is not None:
        from dataclasses import replace

        from anomalydetection_spark.plans.declarative import compile_spec

        base_cfg, selected = compile_spec(spec)
        batch_cfg = replace(base_cfg, persist_exploded=True)
    else:
        batch_cfg = SuiteConfig(persist_exploded=True)
        selected = None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = run_suite(batch_df, media, baseline, batch_cfg, constraints=selected)
        (
            res.verdicts.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/verdicts")
        )
        (
            res.violations.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/violations")
        )
        if manifest_state_dir is not None:
            from anomalydetection_spark.operators.reassembly import explode_spans_meta
            from anomalydetection_spark.plans.manifest import (
                ManifestStore,
                group_sketch_blobs,
            )

            # outer: zero-span docs must reach the doc-identity blobs
            # (Bloom/KMV) or resumed-uniqueness probes would miss them
            meta = explode_spans_meta(batch_df, outer=True).select(
                "doc_id", "partition_id", "pos", "text_len", "media_ref"
            )
            blobs = {r["partition_id"]: r for r in group_sketch_blobs(meta).collect()}
            rollup_rows = [
                {
                    **r.asDict(),
                    "sketch_blob": bytes(blobs[r["partition_id"]]["digest"]),
                    "hll_blob": bytes(blobs[r["partition_id"]]["hll"]),
                    "mg_blob": bytes(blobs[r["partition_id"]]["mg"]),
                    "bloom_blob": bytes(blobs[r["partition_id"]]["bloom"]),
                    "ref_bloom_blob": bytes(blobs[r["partition_id"]]["ref_bloom"]),
                    "kmv_blob": bytes(blobs[r["partition_id"]]["kmv"]),
                }
                for r in res.partition_rollup.collect()
            ]
            ManifestStore(spark, manifest_state_dir).mark_done(
                rollup_rows, run_id=f"stream-batch-{batch_id}"
            )
            # streamed batches feed the same anomaly series as batch runs;
            # a replayed batch re-appends under the same run_id and the
            # anomaly reader keeps one row per (run, partition)
            from anomalydetection_spark.plans.manifest import append_metrics_history

            append_metrics_history(
                spark, out_dir, f"stream-batch-{batch_id}", rollup_rows
            )
        res.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_windowed_violation_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    queryName: str = "windowed_violations",
):
    """Event-time tumbling-window violation counts with a watermark.

    Input schema extends documents with an ``event_ts`` timestamp column
    (ingest time). Per window: docs seen + span_order/null-text violation
    counts. The watermark bounds state: rows later than ``watermark``
    behind the max event time are dropped from state maintenance — the
    engine's explicit late-data policy (the reference silently accepts any
    ordering, X3; here lateness is a *declared* contract).

    Append mode + memory sink for tests; production would write to the
    violations table with the same plan.
    """
    from anomalydetection_spark.schema import DOCUMENTS_SCHEMA

    import pyspark.sql.types as T

    schema = T.StructType(
        [*DOCUMENTS_SCHEMA.fields, T.StructField("event_ts", T.TimestampType(), True)]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    offsets = F.transform("spans", lambda s: s["offset"])
    bad_order = F.when(
        (F.size("spans") > 0)
        & (F.array_sort(offsets) != F.sequence(F.lit(0), F.size("spans") - 1)),
        1,
    ).otherwise(0)
    null_text = F.size(
        F.filter("spans", lambda s: s["kind"].isin("text", "code") & s["text"].isNull())
    )
    agg = (
        stream.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), "partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(bad_order).alias("n_bad_order"),
            F.sum(null_text).alias("n_null_text"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "partition_id",
            "n_docs",
            "n_bad_order",
            "n_null_text",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_session_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    queryName: str = "doc_sessions",
):
    """Event-time SESSION windows per partition (`F.session_window`):
    bursts of document arrivals separated by ≥ ``gap`` of event-time
    silence become separate sessions — the dynamic-window complement to
    the tumbling-window stream (X4). Watermark bounds session state; a
    session closes (append-mode emit) once the watermark passes its end.
    """
    import pyspark.sql.types as T

    schema = T.StructType(
        [*DOCUMENTS_SCHEMA.fields, T.StructField("event_ts", T.TimestampType(), True)]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("w"), "partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.col("spans.offset"))).alias("n_spans"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "partition_id",
            "n_docs",
            "n_spans",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_stateful_counter_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-partition running (n_docs, n_spans, n_null_text) counters whose
    state survives across micro-batches — the exact semantics of the
    reference's mutating Drain miner fold (drain.py:69-90: a shared
    object updated per 100k-row buffer, persisted for resume), expressed
    as Spark-managed keyed state instead of a hand-rolled pickle file.

    Emits one row per (partition_id, batch) with the running totals so
    far; the state store lives in the checkpoint dir (resume-safe).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = stream_documents(spark, input_dir).select(
        "partition_id",
        F.size("spans").alias("n_spans"),
        F.size(
            F.filter(
                "spans",
                lambda s: s["kind"].isin("text", "code") & s["text"].isNull(),
            )
        ).alias("n_null_text"),
    )

    out_schema = (
        "partition_id int, n_docs_total bigint, n_spans_total bigint, "
        "n_null_text_total bigint"
    )
    state_schema = "n_docs bigint, n_spans bigint, n_null bigint"

    def update(key, pdfs, state: GroupState):
        n_docs = n_spans = n_null = 0
        for pdf in pdfs:
            n_docs += len(pdf)
            n_spans += int(pdf["n_spans"].sum())
            n_null += int(pdf["n_null_text"].sum())
        if state.exists:
            (pd_docs, pd_spans, pd_null) = state.get
            n_docs += pd_docs
            n_spans += pd_spans
            n_null += pd_null
        state.update((n_docs, n_spans, n_null))
        yield pd.DataFrame(
            [(key[0], n_docs, n_spans, n_null)],
            columns=["partition_id", "n_docs_total", "n_spans_total", "n_null_text_total"],
        )

    counted = stream.groupBy("partition_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return (
        counted.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_counters")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_running_stats_stream(
    spark: SparkSession, input_dir: str, queryName: str = "running_stats"
):
    """Streaming-native running aggregate: per-partition span counts and
    null-text rates maintained incrementally (complete mode, memory sink —
    tests; production: kafka/delta sink in update mode)."""
    stream = stream_documents(spark, input_dir)
    exploded = stream.select(
        "partition_id", F.explode_outer("spans").alias("span")
    )
    agg = exploded.groupBy("partition_id").agg(
        F.count("span").alias("n_spans"),
        F.sum(
            (F.col("span.kind").isin("text", "code") & F.col("span.text").isNull()).cast("long")
        ).alias("n_null_text"),
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )


def start_referential_join_stream(
    spark: SparkSession,
    refs_dir: str,
    media_dir: str,
    checkpoint_dir: str,
    tolerance: str = "10 minutes",
    watermark: str = "10 minutes",
    queryName: str = "stream_referential",
):
    """Referential integrity across TWO live streams: document media_refs
    joined to media-asset arrivals with a watermarked stream-stream LEFT
    OUTER join. A ref whose asset arrives within ``tolerance`` of its
    event time emits matched; one the watermark passes unmatched emits
    with ``dangling = true`` — the streaming analog of the batch
    anti-join (operators/referential.py), where "absent from the catalog"
    becomes "did not arrive in time". State on both sides is bounded by
    watermark + tolerance (Spark evicts rows that can no longer match).
    """
    refs = (
        spark.readStream.schema("doc_id string, media_ref string, ref_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(refs_dir)
        .withWatermark("ref_ts", watermark)
        .alias("r")
    )
    media = (
        spark.readStream.schema("media_ref string, media_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(media_dir)
        .withWatermark("media_ts", watermark)
        .alias("m")
    )
    joined = refs.join(
        media,
        F.expr(
            f"r.media_ref = m.media_ref AND "
            f"m.media_ts BETWEEN r.ref_ts - interval {tolerance} "
            f"AND r.ref_ts + interval {tolerance}"
        ),
        "leftOuter",
    )
    out = joined.select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.media_ref").alias("media_ref"),
        F.col("r.ref_ts").alias("ref_ts"),
        F.col("m.media_ts").alias("media_ts"),
        F.col("m.media_ts").isNull().alias("dangling"),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 minutes",
    queryName: str = "stream_dedup",
):
    """Streaming uniqueness: first arrival of each doc_id passes, any
    re-arrival within the watermark horizon is dropped
    (``dropDuplicatesWithinWatermark`` — keyed state holds one entry per
    doc_id, evicted once the watermark guarantees no more replays). The
    streaming face of the batch uniqueness constraint: the batch check
    *reports* duplicates, the stream *suppresses* them at ingest."""
    s = (
        spark.readStream.schema("doc_id string, event_ts timestamp, partition_id int")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    deduped = s.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        ["doc_id"]
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_template_mining_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    max_diff: int = 2,
    queryName: str = "stream_templates",
    out_dir: str | None = None,
):
    """Online template mining with EVOLVING cluster state — the true
    streaming analog of the reference's Drain fold (drain.py:69-90: a
    mutating miner updated per 100k-line buffer, persisted for resume).

    Lines are digit-masked JVM-side, keyed by the Drain tree key
    (token count, first token), and folded into per-key template
    clusters held in Spark-managed state (``applyInPandasWithState``):
    an incoming line joins the first cluster within ``max_diff``
    differing concrete positions — those positions generalize to
    ``<*>`` — else it seeds a new cluster. State (template strings +
    counts) lives in the checkpoint: a killed stream resumes mid-corpus
    exactly like Drain's FilePersistence state file (drain.py:48-51).

    Python sees one row per DISTINCT masked line per batch
    (``value_counts`` pre-aggregation), and cluster matching is
    inherently sequential per key — the same work profile as the
    reference's miner, now sharded across keys and resumable. Batch
    twin: pipeline.mine_templates + generalize_templates.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # normalize whitespace runs to single spaces BEFORE masking so the JVM
    # key (split on the masked column) and the Python state function
    # (str.split(" ")) tokenize identically — a tab or double space must not
    # make n_tok disagree with len(masked.split(" ")), or zip() silently
    # truncates and templates merge incorrectly
    masked_col = F.regexp_replace(
        F.regexp_replace(F.trim(F.col("value")), r"\s+", " "), r"\d+", "<*>"
    )
    toks = F.split(masked_col, r"\s+")
    lines = (
        spark.readStream.text(input_dir)
        .select(
            masked_col.alias("masked"),
            F.size(toks).cast("int").alias("n_tok"),
            F.element_at(toks, 1).alias("t1"),
        )
    )

    out_schema = "n_tok int, t1 string, template string, n bigint"
    state_schema = "templates array<string>, counts array<long>"

    def update(key, pdfs, state: GroupState):
        if state.exists:
            templates, counts = list(state.get[0]), list(state.get[1])
        else:
            templates, counts = [], []
        tpl_toks = [t.split(" ") for t in templates]
        for pdf in pdfs:
            for masked, n_new in pdf["masked"].value_counts().items():
                toks_in = masked.split(" ")
                for i, cand in enumerate(tpl_toks):
                    diff = [
                        j
                        for j, (a, b) in enumerate(zip(cand, toks_in))
                        if a != b and a != "<*>"
                    ]
                    if len(diff) <= max_diff:
                        for j in diff:
                            cand[j] = "<*>"
                        templates[i] = " ".join(cand)
                        counts[i] += int(n_new)
                        break
                else:
                    templates.append(masked)
                    tpl_toks.append(toks_in)
                    counts.append(int(n_new))
        state.update((templates, counts))
        yield pd.DataFrame(
            {
                "n_tok": key[0],
                "t1": key[1],
                "template": templates,
                "n": counts,
            }
        )

    mined = lines.groupBy("n_tok", "t1").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    w = mined.writeStream.outputMode("update")
    if out_dir is not None:
        # durable sink (memory sinks cannot recover from a checkpoint):
        # append each batch's template updates stamped with the batch id;
        # readers take max(n) per template — counts are monotonic
        def emit(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        w = w.foreachBatch(emit)
    else:
        w = w.format("memory").queryName(queryName)
    return (
        w.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_drift_stream(
    spark: SparkSession,
    input_dir: str,
    baseline_probs: dict[str, float],
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    max_kl: float = 0.2,
    queryName: str = "drift_windows",
):
    """Streaming distribution-drift monitor: per event-time tumbling
    window, the span-kind mix is compared to the baseline distribution by
    KL divergence and windows exceeding ``max_kl`` are flagged — the
    continuous variant of the batch ``distribution_drift`` constraint
    (operators/drift.py), for catching a producer going off-mix in
    minutes instead of at the next batch validation.

    Scale shape: ONE stateful aggregation. The kind domain is fixed, so
    per-kind counts are conditional sums inside the window aggregate
    (never a second stateful groupBy(kind) — chaining stateful operators
    in append mode is both restricted and a shuffle tax), and KL is plain
    column arithmetic over those counts with the baseline folded in as
    literals. Watermark bounds state exactly like the batch suite bounds
    late data (a declared lateness contract).
    """
    import pyspark.sql.types as T

    from anomalydetection_spark.operators.patterns import KIND_DOMAIN

    schema = T.StructType(
        [*DOCUMENTS_SCHEMA.fields, T.StructField("event_ts", T.TimestampType(), True)]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def kind_count(k: str):
        return F.sum(
            F.size(F.filter("spans", lambda s: s["kind"] == F.lit(k)))
        ).alias(f"n_{k}")

    agg = (
        stream.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"))
        .agg(F.count("*").alias("n_docs"), *[kind_count(k) for k in KIND_DOMAIN])
    )
    total = sum(baseline_probs.values())
    eps = 1e-9
    q = {k: max(baseline_probs.get(k, 0.0) / total, eps) for k in KIND_DOMAIN}
    n_spans = None
    for k in KIND_DOMAIN:
        n_spans = F.col(f"n_{k}") if n_spans is None else n_spans + F.col(f"n_{k}")
    kl = None
    for k in KIND_DOMAIN:
        p = F.col(f"n_{k}") / n_spans
        term = F.when(F.col(f"n_{k}") > 0, p * F.log(p / F.lit(q[k]))).otherwise(
            F.lit(0.0)
        )
        kl = term if kl is None else kl + term
    out = agg.select(
        F.col("w.start").alias("window_start"),
        "n_docs",
        n_spans.alias("n_spans"),
        F.round(kl, 6).alias("kl"),
        (kl > F.lit(max_kl)).alias("drift_alert"),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_quantile_sketch_stream(
    spark: SparkSession,
    input_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    queryName: str = "quantile_sketches",
):
    """Streaming t-digest accumulation: each micro-batch folds its docs'
    span text lengths into per-partition digest blobs on disk — the
    streaming feeder for sketch-side quantile drift (a batch job later
    asks "has any partition's length distribution shifted?" from KB of
    blobs, the ``ResumableValidator.quantile_drift_report`` idea with the
    state built incrementally at ingest).

    Replay safety: blobs are keyed ``epoch-<batch_id>-p<partition>.bin``
    and written via atomic rename — a replayed micro-batch (foreachBatch
    is at-least-once) overwrites ITS OWN files with identical bytes
    instead of double-merging its mass into a running blob. Readers merge
    whatever epoch files exist per partition (t-digest merge is
    associative), so no read lock is needed.

    Scale: per batch, one ``group_digests`` pass (Arrow partials, blob
    shuffle only); the driver writes |partitions|-sized KB files.
    """
    import os

    from anomalydetection_spark.operators.tdigest import group_digests
    from anomalydetection_spark.operators.reassembly import explode_spans_meta

    os.makedirs(sketch_dir, exist_ok=True)
    stream = stream_documents(spark, input_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        meta = explode_spans_meta(batch_df).filter(F.col("text_len").isNotNull())
        rows = group_digests(
            meta.select("partition_id", F.col("text_len").cast("double").alias("v")),
            "v",
            ["partition_id"],
        ).collect()
        for r in rows:
            final = os.path.join(
                sketch_dir, f"epoch-{batch_id}-p{r['partition_id']}.bin"
            )
            tmp = final + ".tmp"
            with open(tmp, "wb") as f:
                f.write(bytes(r["digest"]))
            os.replace(tmp, final)

    return (
        stream.writeStream.foreachBatch(fold)
        .queryName(queryName)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_quantile_report(
    sketch_dir: str,
    baseline_blob: bytes,
    probes: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
    max_rel_gap: float = 0.2,
) -> list[dict]:
    """Driver-side consumer of ``start_quantile_sketch_stream`` state:
    merge each partition's epoch blobs (associative) and compare its
    quantile function against the baseline digest — pure Python over KB
    of files, no Spark job. Returns one dict per partition:
    (partition_id, n, max_rel_gap, worst_probe, flagged)."""
    import os
    import re

    from anomalydetection_spark.operators.tdigest import TDigest

    base = TDigest.from_bytes(baseline_blob)
    base_q = {p: base.quantile(p) for p in probes}
    merged: dict[int, TDigest] = {}
    pat = re.compile(r"epoch-\d+-p(-?\d+)\.bin$")
    for name in sorted(os.listdir(sketch_dir)):
        m = pat.match(name)
        if not m:
            continue
        pid = int(m.group(1))
        td = TDigest.from_bytes(open(os.path.join(sketch_dir, name), "rb").read())
        if pid in merged:
            merged[pid].merge(td)
        else:
            merged[pid] = td
    out = []
    for pid in sorted(merged):
        td = merged[pid]
        worst, worst_p = 0.0, probes[0]
        for p in probes:
            qb = base_q[p]
            gap = abs(td.quantile(p) - qb) / max(abs(qb), 1e-12)
            if gap > worst:
                worst, worst_p = gap, p
        out.append(
            {
                "partition_id": pid,
                "n": int(td.total_weight()),
                "max_rel_gap": worst,
                "worst_probe": worst_p,
                "flagged": worst > max_rel_gap,
            }
        )
    return out


def start_cdc_validation_stream(
    spark: SparkSession,
    table_dir: str,
    media: DataFrame,
    baseline: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: SuiteConfig = SuiteConfig(),
    starting_version: int | None = None,
):
    """Continuous incremental validation driven by the docstore CDC stream:
    every committed snapshot's change feed arrives as a micro-batch, and
    foreachBatch re-validates exactly the partitions the commit touched —
    the streaming twin of ``ResumableValidator.run_docstore_incremental``,
    with Spark's offset checkpoint playing the snapshot watermark's role
    (no polling loop, no separate watermark file).

    Per micro-batch:
    1. changed partitions = distinct ``partition_id`` in the CDC rows;
    2. uniqueness ripple = doc_ids whose insert/delete counts in the feed
       don't cancel (net multiplicity change — a COW rewrite's carried
       rows emit delete+insert pairs and cancel exactly), probed against
       the untouched done partitions' stored doc_id Blooms
       (plans/manifest.blooms_containing_any — no false negatives);
    3. invalidate changed ∪ rippled in the batch manifest and run the
       resumable validator over the CURRENT table snapshot (reading ahead
       of the batch's version range is conservative: later batches then
       no-op for those partitions).

    At-least-once replay is safe end-to-end: invalidate + run is
    idempotent (dynamic partition overwrite on verdicts/violations,
    mark_done upserts), so a replayed batch reproduces identical state.
    """
    from anomalydetection_spark.plans.manifest import (
        ResumableValidator,
        blooms_containing_any,
        scope_partition_filter,
    )
    from anomalydetection_spark.sources import docstore

    docstore.register(spark)
    reader = (
        spark.readStream.format("docstore")
        .option("path", table_dir)
        .option("cdc", "true")
    )
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    stream = reader.load()
    validator = ResumableValidator(spark, state_dir, out_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        net = (
            batch_df.groupBy("doc_id", "partition_id")
            .agg(
                F.sum(
                    F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
                ).alias("net")
            )
        ).persist()
        try:
            changed = {
                r["partition_id"]
                for r in net.select("partition_id").distinct().collect()
            }
            done = validator.manifest.done_partitions()
            ripple: set[int] = set()
            others = done - changed
            if others:
                delta_ids = net.filter(F.col("net") != 0).select("doc_id").distinct()
                if not delta_ids.isEmpty():
                    m = validator.manifest.read()
                    blooms = {
                        r["partition_id"]: bytes(r["bloom_blob"])
                        for r in m.filter(F.col("bloom_blob").isNotNull())
                        .select("partition_id", "bloom_blob")
                        .collect()
                        if r["partition_id"] in others
                    }
                    ripple = blooms_containing_any(spark, delta_ids, blooms) | (
                        others - set(blooms)
                    )
        finally:
            net.unpersist()
        invalid = sorted((changed & done) | ripple)
        if invalid:
            validator.manifest.invalidate(invalid)
        docs = docstore.load(spark, table_dir)
        # metadata partition enumeration + file-bounded loads, exactly as
        # run_docstore_incremental: the re-validation scans open only the
        # pending partitions' files; spanning/legacy layouts degrade to
        # row filters
        pvals = docstore.partition_values(table_dir)

        def _bounded(ids):
            return scope_partition_filter(
                docstore.load(
                    spark, table_dir, where={"partition_id": ids},
                    journal=validator.docstore_journal,
                ),
                ids,
            )

        validator.run(
            docs, media, baseline, cfg,
            partition_ids=pvals,
            docs_loader=_bounded if pvals is not None else None,
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
