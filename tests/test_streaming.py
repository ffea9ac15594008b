"""Structured Streaming validation: micro-batch suite + running stats,
resume from checkpoint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomalydetection_spark.datagen import (
    DataGenConfig,
    clean_config,
    generate_documents,
    generate_media_assets,
)
from anomalydetection_spark.operators import drift, reassembly
from anomalydetection_spark.streaming.validate_stream import (
    start_running_stats_stream,
    start_validation_stream,
)

CFG = DataGenConfig(n_docs=600, n_partitions=3, n_media=150)


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    docs = generate_documents(spark, CFG)
    media = generate_media_assets(spark, CFG).cache()
    baseline = drift.compute_baseline(
        reassembly.explode_spans_meta(generate_documents(spark, clean_config(CFG)))
    ).cache()
    indir = str(root / "in")
    # two arrival chunks = two micro-batches (maxFilesPerTrigger=1)
    docs.filter(F.col("partition_id") < 2).coalesce(1).write.mode("append").parquet(indir)
    docs.filter(F.col("partition_id") >= 2).coalesce(1).write.mode("append").parquet(indir)
    return root, indir, docs, media, baseline


def test_foreach_batch_validation(spark, stream_env):
    root, indir, docs, media, baseline = stream_env
    # materialize the fixture's own caches first, so the count below moves
    # only with what the micro-batches leave behind
    media.count(), baseline.count()
    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001

    before = n_persisted()
    q = start_validation_stream(
        spark, indir, media, baseline,
        str(root / "out"), str(root / "ckpt"),
    )
    q.awaitTermination(120)
    # each micro-batch releases what its suite run cached
    assert n_persisted() <= before
    verdicts = spark.read.parquet(str(root / "out" / "verdicts"))
    # every (partition, constraint) appears exactly once across batches
    from anomalydetection_spark.plans.suite import ALL_CONSTRAINTS

    pairs = [(r["partition_id"], r["constraint"]) for r in verdicts.collect()]
    assert len(pairs) == len(set(pairs)) == 3 * len(ALL_CONSTRAINTS)
    assert verdicts.select("batch_id").distinct().count() == 2

    # restart with same checkpoint: no new batches → no duplicate verdicts
    q2 = start_validation_stream(
        spark, indir, media, baseline,
        str(root / "out"), str(root / "ckpt"),
    )
    q2.awaitTermination(60)
    assert (
        spark.read.parquet(str(root / "out" / "verdicts")).count()
        == 3 * len(ALL_CONSTRAINTS)
    )

    # replay with a FRESH checkpoint (simulates a crash-before-commit replay
    # of every batch): dynamic partition overwrite on batch_id keeps the
    # output idempotent — still exactly one row per (partition, constraint)
    q3 = start_validation_stream(
        spark, indir, media, baseline,
        str(root / "out"), str(root / "ckpt_replay"),
    )
    q3.awaitTermination(120)
    replayed = spark.read.parquet(str(root / "out" / "verdicts"))
    assert replayed.count() == 3 * len(ALL_CONSTRAINTS)


def test_stateful_counter_stream(spark, stream_env):
    """applyInPandasWithState: running totals accumulate across micro-batches
    and the final state matches a batch recount."""
    from anomalydetection_spark.streaming.validate_stream import start_stateful_counter_stream

    root, indir, docs, media, baseline = stream_env
    # input split so EVERY partition spans both micro-batches → the final
    # totals are only correct if state genuinely accumulates across batches
    indir2 = str(root / "in_interleaved")
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 0).coalesce(1).write.mode("append").parquet(indir2)
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 1).coalesce(1).write.mode("append").parquet(indir2)
    q = start_stateful_counter_stream(
        spark, indir2, str(root / "state_out"), str(root / "state_ckpt")
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stateful_counters").collect()
    # memory sink in update mode keeps every emitted update; take the MAX
    # totals per partition (counters are monotonic)
    latest = {}
    for r in rows:
        cur = latest.get(r["partition_id"])
        if cur is None or r["n_docs_total"] > cur["n_docs_total"]:
            latest[r["partition_id"]] = r
    # every partition must have been updated in BOTH batches
    from collections import Counter

    upd = Counter(r["partition_id"] for r in rows)
    assert all(v >= 2 for v in upd.values())
    want = {
        r["partition_id"]: (r["nd"], r["ns"])
        for r in docs.groupBy("partition_id")
        .agg(F.count("*").alias("nd"), F.sum(F.size("spans")).alias("ns"))
        .collect()
    }
    assert set(latest) == set(want)
    for pid, (nd, ns) in want.items():
        assert latest[pid]["n_docs_total"] == nd
        assert latest[pid]["n_spans_total"] == ns


def test_windowed_violations_with_watermark(spark, stream_env):
    """Event-time tumbling windows + watermark: per-window violation
    counts match a batch recount over the same (timestamped) input."""
    from anomalydetection_spark.streaming.validate_stream import (
        start_windowed_violation_stream,
    )

    root, indir, docs, media, baseline = stream_env
    # stamp docs into two 10-minute windows
    stamped = docs.withColumn(
        "event_ts",
        F.when(
            F.crc32("doc_id") % 2 == 0, F.to_timestamp(F.lit("2024-01-01 00:05:00"))
        ).otherwise(F.to_timestamp(F.lit("2024-01-01 00:15:00"))),
    )
    indir3 = str(root / "in_ts")
    stamped.filter(F.crc32("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(indir3)
    stamped.filter(F.crc32("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(indir3)
    # flush batch: one doc far ahead in event time so the watermark passes
    # both real windows and append mode finalizes them (its own window
    # stays open and must NOT appear in the results)
    stamped.limit(1).withColumn(
        "event_ts", F.to_timestamp(F.lit("2024-01-01 01:00:00"))
    ).coalesce(1).write.mode("append").parquet(indir3)

    q = start_windowed_violation_stream(
        spark, indir3, str(root / "wm_ckpt"), watermark="1 minute", queryName="wv_test"
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["partition_id"]): (r["n_docs"], r["n_null_text"])
        for r in spark.sql("SELECT * FROM wv_test").collect()
    }
    # batch recount
    null_text = F.size(
        F.filter("spans", lambda s: s["kind"].isin("text", "code") & s["text"].isNull())
    )
    want = {
        (str(r["ws"]), r["partition_id"]): (r["n"], r["nn"])
        for r in stamped.groupBy(
            F.window("event_ts", "10 minutes").alias("w"), "partition_id"
        )
        .agg(F.count("*").alias("n"), F.sum(null_text).alias("nn"))
        .select(F.col("w.start").alias("ws"), "partition_id", "n", "nn")
        .collect()
    }
    assert got == want
    # both windows present
    assert len({k[0] for k in got}) == 2


def test_running_stats_stream(spark, stream_env):
    root, indir, docs, media, baseline = stream_env
    q = start_running_stats_stream(spark, indir, queryName="rs_test")
    q.awaitTermination(120)
    got = {r["partition_id"]: r["n_spans"] for r in spark.sql("SELECT * FROM rs_test").collect()}
    want = {
        r["partition_id"]: r["n"]
        for r in docs.select("partition_id", F.explode_outer("spans").alias("s"))
        .groupBy("partition_id")
        .agg(F.count("s").alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_accepts_in_horizon(spark, tmp_path):
    """Multi-batch out-of-order arrival: a row whose WINDOW END is behind
    the watermark is DROPPED (the closed window's emitted count is final);
    late rows whose window is still open are ACCEPTED — the declared
    late-data contract, asserted per window.

    Note Spark's late-event filter uses the watermark finalized at the end
    of the *previous* micro-batch, so an extra settling batch sits between
    the on-time data and the late arrivals to make the drop deterministic.
    """
    from anomalydetection_spark.streaming.validate_stream import (
        start_windowed_violation_stream,
    )

    def docs(rows):
        return spark.createDataFrame(
            [
                (
                    f"d{i}",
                    [{"kind": "text", "text": "x", "media_ref": None, "offset": 0}],
                    0,
                    ts,
                )
                for i, ts in rows
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, partition_id int, event_ts timestamp",
        )

    import datetime
    import time as _time

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)
    indir = str(tmp_path / "in")
    # batch 1: W0 [00:00,00:10) x2, W2 [00:20,00:30) x1 → wm becomes 00:17
    docs([(0, t(5)), (1, t(6)), (2, t(22))]).coalesce(1).write.mode("append").parquet(indir)
    _time.sleep(1.2)  # distinct mod-times: the file source orders batches by them
    # batch 2: settles the 00:17 watermark into the late-event filter
    docs([(7, t(22))]).coalesce(1).write.mode("append").parquet(indir)
    _time.sleep(1.2)
    # batch 3: d3@00:08 → W0 end 00:10 < wm → DROPPED;
    #          d4@00:15, d5@00:18 → W1 end 00:20 > wm → ACCEPTED (late but open)
    docs([(3, t(8)), (4, t(15)), (5, t(18))]).coalesce(1).write.mode("append").parquet(indir)
    _time.sleep(1.2)
    # batch 4: flush far ahead so W1/W2 finalize in append mode
    docs([(9, datetime.datetime(2024, 1, 1, 1, 0))]).coalesce(1).write.mode("append").parquet(indir)

    q = start_windowed_violation_stream(
        spark, indir, str(tmp_path / "ckpt"),
        window="10 minutes", watermark="5 minutes", queryName="late_test",
    )
    q.awaitTermination(150)
    rows = spark.sql("SELECT * FROM late_test").collect()
    got = {str(r["window_start"])[11:16]: r["n_docs"] for r in rows}
    assert len(rows) == len(got)        # each window emitted exactly once
    assert got.get("00:00") == 2, got   # late d3 dropped: count is final
    assert got.get("00:10") == 2, got   # open-window late rows accepted
    assert got.get("00:20") == 2, got   # on-time rows across two batches


def test_session_windows_split_on_gap(spark, tmp_path):
    """Session windows: two arrival bursts separated by more than the gap
    become two sessions; a session's end extends while events keep landing
    within the gap."""
    import datetime

    from anomalydetection_spark.streaming.validate_stream import start_session_stream

    def docs(rows):
        return spark.createDataFrame(
            [
                (
                    f"s{i}",
                    [{"kind": "text", "text": "x", "media_ref": None, "offset": 0}],
                    0,
                    ts,
                )
                for i, ts in rows
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, partition_id int, event_ts timestamp",
        )

    t = lambda m, s=0: datetime.datetime(2024, 1, 1, 0, m, s)
    indir = str(tmp_path / "in")
    # burst 1: 00:00, 00:02, 00:04 (chained within 5m gap → ends 00:09)
    # burst 2: 00:20, 00:21 (→ ends 00:26)   flush: 01:00
    docs([(0, t(0)), (1, t(2)), (2, t(4)), (3, t(20)), (4, t(21))]).coalesce(1)\
        .write.mode("append").parquet(indir)
    import time as _time
    _time.sleep(1.2)
    docs([(9, datetime.datetime(2024, 1, 1, 1, 0))]).coalesce(1)\
        .write.mode("append").parquet(indir)

    q = start_session_stream(spark, indir, str(tmp_path / "ckpt"),
                             gap="5 minutes", queryName="sess_test")
    q.awaitTermination(120)
    got = sorted(
        (str(r["session_start"])[11:16], str(r["session_end"])[11:16], r["n_docs"])
        for r in spark.sql("SELECT * FROM sess_test").collect()
    )
    assert got == [("00:00", "00:09", 3), ("00:20", "00:26", 2)], got


def test_stream_stream_referential_join(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join: a media_ref whose asset
    arrives within tolerance emits matched; one the watermark passes
    unmatched emits dangling=true — the streaming anti-join. Two flush
    batches: the first advances the watermark past d3's join horizon, the
    second gives the state store the follow-up micro-batch in which the
    expired unmatched row is actually emitted."""
    import datetime
    import time as _time

    from anomalydetection_spark.streaming.validate_stream import (
        start_referential_join_stream,
    )

    t = lambda h, m: datetime.datetime(2024, 1, 1, h, m)
    refs_dir, media_dir = str(tmp_path / "refs"), str(tmp_path / "media")

    refs = spark.createDataFrame(
        [("d1", "m-1", t(0, 0)), ("d2", "m-2", t(0, 1)), ("d3", "m-3", t(0, 2))],
        "doc_id string, media_ref string, ref_ts timestamp",
    )
    refs.coalesce(1).write.mode("append").parquet(refs_dir)
    # m-1 on time, m-2 five minutes later (within 10m tolerance), m-3 never
    spark.createDataFrame(
        [("m-1", t(0, 0)), ("m-2", t(0, 6))], "media_ref string, media_ts timestamp"
    ).coalesce(1).write.mode("append").parquet(media_dir)
    _time.sleep(1.2)
    # flush rows push BOTH watermarks far past d3's join horizon
    spark.createDataFrame(
        [("dF", "m-F", t(2, 0))], "doc_id string, media_ref string, ref_ts timestamp"
    ).coalesce(1).write.mode("append").parquet(refs_dir)
    spark.createDataFrame(
        [("m-F", t(2, 0))], "media_ref string, media_ts timestamp"
    ).coalesce(1).write.mode("append").parquet(media_dir)

    _time.sleep(1.2)
    # second flush: one more micro-batch AFTER the watermark advance so the
    # state store emits the expired unmatched row
    spark.createDataFrame(
        [("dF2", "m-F2", t(3, 0))], "doc_id string, media_ref string, ref_ts timestamp"
    ).coalesce(1).write.mode("append").parquet(refs_dir)
    spark.createDataFrame(
        [("m-F2", t(3, 0))], "media_ref string, media_ts timestamp"
    ).coalesce(1).write.mode("append").parquet(media_dir)

    ckpt = str(tmp_path / "ckpt")
    q = start_referential_join_stream(spark, refs_dir, media_dir, ckpt, queryName="ssj")
    q.awaitTermination(180)

    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM ssj").collect()}
    assert rows["d1"]["dangling"] is False
    assert rows["d2"]["dangling"] is False  # tolerance window caught the late asset
    assert rows["d3"]["dangling"] is True and rows["d3"]["media_ts"] is None


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: first arrival passes, replays within
    the horizon are suppressed — streaming uniqueness at ingest."""
    import datetime
    import time as _time

    from anomalydetection_spark.streaming.validate_stream import start_dedup_stream

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)
    indir = str(tmp_path / "in")
    spark.createDataFrame(
        [("a", t(0), 0), ("b", t(1), 0)], "doc_id string, event_ts timestamp, partition_id int"
    ).coalesce(1).write.mode("append").parquet(indir)
    _time.sleep(1.2)
    # batch 2: "a" replays (within 30m watermark) + new "c"
    spark.createDataFrame(
        [("a", t(2), 0), ("c", t(3), 0)], "doc_id string, event_ts timestamp, partition_id int"
    ).coalesce(1).write.mode("append").parquet(indir)

    q = start_dedup_stream(spark, indir, str(tmp_path / "ckpt"), queryName="sdedup")
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM sdedup").collect())
    assert got == ["a", "b", "c"]  # each doc exactly once, replay suppressed


def test_streaming_template_mining_state_evolves(spark, tmp_path):
    """Online Drain analog: clusters generalize within a batch, counts
    accumulate ACROSS batches through checkpointed state, and a
    resumed stream continues from the evolved templates."""
    import time as _time
    from pathlib import Path

    from anomalydetection_spark.streaming.validate_stream import (
        start_template_mining_stream,
    )

    indir = tmp_path / "lines"
    indir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    Path(indir / "b1.txt").write_text(
        "user alice login\nuser bob login\ndisk full on nodeX\n"
    )
    _time.sleep(1.1)
    Path(indir / "b2.txt").write_text(
        "user carol login\ndisk full on nodeY\nuser dave login\n"
    )

    out = str(tmp_path / "tpl_out")
    q = start_template_mining_stream(spark, str(indir), ckpt, out_dir=out)
    q.awaitTermination(120)
    # update-mode emissions append per batch; the final state per template
    # is its max running count
    by_tpl = {
        r["template"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("template")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    assert by_tpl["user <*> login"] == 4          # alice/bob/carol/dave merged
    assert by_tpl["disk full on <*>"] == 2        # nodeX/nodeY generalized
    assert len(by_tpl) == 2

    # resume: a third batch continues from the evolved, checkpointed state
    _time.sleep(1.1)
    Path(indir / "b3.txt").write_text("user erin login\n")
    q2 = start_template_mining_stream(spark, str(indir), ckpt, out_dir=out)
    q2.awaitTermination(120)
    n = (
        spark.read.parquet(out)
        .filter(F.col("template") == "user <*> login")
        .agg(F.max("n").alias("n"))
        .first()["n"]
    )
    assert n == 5


def test_streaming_ingest_feeds_batch_manifest(spark, tmp_path):
    """Resume-domain unification: a streaming ingest that validates
    partitions ALSO marks them done in the batch manifest, so a later
    batch ResumableValidator.run over the full table re-validates only
    the partitions the stream never saw."""
    from anomalydetection_spark.plans.manifest import ManifestStore, ResumableValidator
    from anomalydetection_spark.operators.freqitems import MisraGries
    from anomalydetection_spark.operators.tdigest import TDigest

    cfg = DataGenConfig(n_docs=1000, n_partitions=5, n_media=150)
    docs = generate_documents(spark, cfg).cache()
    media = generate_media_assets(spark, cfg).cache()
    baseline = drift.compute_baseline(
        reassembly.explode_spans_meta(generate_documents(spark, clean_config(cfg)))
    ).cache()

    indir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    # one file per table partition — the ingest contract the manifest hook
    # documents (a micro-batch validates whole partitions)
    for pid in (0, 1, 2):
        docs.filter(F.col("partition_id") == pid).coalesce(1).write.mode(
            "append"
        ).parquet(indir)

    q = start_validation_stream(
        spark, indir, media, baseline,
        str(tmp_path / "sout"), str(tmp_path / "sckpt"),
        manifest_state_dir=state_dir,
    )
    q.awaitTermination(180)

    store = ManifestStore(spark, state_dir)
    assert store.done_partitions() == {0, 1, 2}
    # streamed manifest rows carry the same sketch families a batch pass
    # records — mergeable downstream without rescans
    m = {r["partition_id"]: r for r in store.read().collect()}
    for pid in (0, 1, 2):
        assert TDigest.from_bytes(bytes(m[pid]["sketch_blob"])).total_weight() > 0
        assert MisraGries.from_bytes(bytes(m[pid]["mg_blob"])).counts
        assert m[pid]["run_id"].startswith("stream-batch-")

    # streamed batches feed the metrics ledger too (same out_dir rule: a
    # unified anomaly series needs stream + batch sharing one out_dir)
    sv = ResumableValidator(spark, state_dir, str(tmp_path / "sout"))
    ledger = sv.metrics_history().collect()
    assert {r["partition_id"] for r in ledger} == {0, 1, 2}
    assert all(r["run_id"].startswith("stream-batch-") for r in ledger)
    flags_before = {
        (r["partition_id"], r["metric"]): (r["hist_n"], r["value"])
        for r in sv.metric_anomalies().collect()
    }

    # replay with a FRESH checkpoint: rows re-append under the same
    # run_ids; the anomaly reader keeps one row per (run, partition), so
    # no series shifts or lengthens
    q2 = start_validation_stream(
        spark, indir, media, baseline,
        str(tmp_path / "sout"), str(tmp_path / "sckpt_replay"),
        manifest_state_dir=state_dir,
    )
    q2.awaitTermination(180)
    assert sv.metrics_history().count() > len(ledger)  # raw appends grew
    flags_after = {
        (r["partition_id"], r["metric"]): (r["hist_n"], r["value"])
        for r in sv.metric_anomalies().collect()
    }
    assert flags_after == flags_before

    # batch resume over the FULL table: only the unseen partitions run
    v = ResumableValidator(spark, state_dir, str(tmp_path / "bout"))
    summary = v.run(docs, media, baseline, partition_ids=list(range(5)))
    assert summary["validated_partitions"] == [3, 4]
    assert summary["skipped_partitions"] == [0, 1, 2]
    # and the pass is idempotent afterwards
    again = v.run(docs, media, baseline, partition_ids=list(range(5)))
    assert again["validated_partitions"] == []


def test_streaming_drift_monitor_flags_offmix_window(spark, tmp_path):
    """Streaming KL drift: a window matching the baseline kind mix stays
    quiet; a window whose producer went all-images alerts. One stateful
    aggregation (conditional per-kind sums inside the window agg)."""
    from anomalydetection_spark.streaming.validate_stream import start_drift_stream

    def docs(rows):
        return spark.createDataFrame(
            [
                (
                    f"d{i}",
                    [
                        {"kind": k, "text": "x" if k in ("text", "code") else None,
                         "media_ref": None if k in ("text", "code") else "m-00001",
                         "offset": j}
                        for j, k in enumerate(kinds)
                    ],
                    0,
                    ts,
                )
                for i, (ts, kinds) in enumerate(rows)
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, partition_id int, event_ts timestamp",
        )

    import datetime

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)
    indir = str(tmp_path / "in")
    baseline = {"text": 0.6, "code": 0.2, "image": 0.1, "audio": 0.05, "video": 0.05}
    # window 00:00: 10 docs at the baseline mix (6 text / 2 code / 1 image
    # / 0.5+0.5 audio+video approximated by one each over 2 docs)
    on_mix = [
        (t(1), ["text", "text", "text", "code", "image"]),
        (t(2), ["text", "text", "text", "code", "audio"]),
        (t(3), ["text", "text", "text", "code", "video"]),
        (t(4), ["text", "text", "text", "code", "image"]),
    ]
    # window 00:10: all-image producer (clear drift)
    off_mix = [(t(12), ["image"] * 5), (t(13), ["image"] * 5)]
    # flush event far ahead so both windows finalize in append mode
    flush = [(datetime.datetime(2024, 1, 1, 1, 0), ["text"])]
    docs(on_mix).coalesce(1).write.mode("append").parquet(indir)
    import time as _time

    _time.sleep(1.2)
    docs(off_mix).coalesce(1).write.mode("append").parquet(indir)
    _time.sleep(1.2)
    docs(flush).coalesce(1).write.mode("append").parquet(indir)

    q = start_drift_stream(
        spark, indir, baseline, str(tmp_path / "ckpt"),
        window="10 minutes", watermark="5 minutes", max_kl=0.3,
        queryName="drift_test",
    )
    q.awaitTermination(150)
    rows = {str(r["window_start"])[11:16]: r for r in spark.sql("SELECT * FROM drift_test").collect()}
    assert "00:00" in rows and "00:10" in rows
    assert not rows["00:00"]["drift_alert"], rows["00:00"]
    assert rows["00:10"]["drift_alert"]
    assert rows["00:10"]["kl"] > rows["00:00"]["kl"]
    assert rows["00:10"]["n_spans"] == 10


def test_spec_driven_stream(spark, stream_env):
    """The SAME declarative spec that drives batch runs drives the stream:
    a narrowed constraint list plus an expression rule shapes every
    micro-batch's verdicts."""
    root, indir, docs, media, baseline = stream_env
    spec = {
        "constraints": [
            {"type": "uniqueness"},
            {"type": "volume", "min_docs": 1},
            {"type": "expression", "name": "has_doc_id",
             "expr": "doc_id is not null"},
        ]
    }
    q = start_validation_stream(
        spark, indir, media, baseline,
        str(root / "out_spec"), str(root / "ckpt_spec"),
        spec=spec,
    )
    q.awaitTermination(120)
    verdicts = spark.read.parquet(str(root / "out_spec" / "verdicts"))
    names = {r["constraint"] for r in verdicts.collect()}
    assert names == {"uniqueness", "volume", "expression:has_doc_id"}
    # 3 partitions x 3 checks, once each across the two micro-batches
    assert verdicts.count() == 9
    exp = verdicts.filter(F.col("constraint") == "expression:has_doc_id")
    assert all(r["passed"] for r in exp.collect())


def test_streaming_quantile_sketches_feed_drift_report(spark, tmp_path):
    """Streaming t-digest accumulation: micro-batches fold span text
    lengths into per-partition epoch blobs; the driver-side report merges
    them and flags the partition whose length distribution shifted vs the
    baseline — with no Spark job at report time."""
    from anomalydetection_spark.operators.tdigest import TDigest
    from anomalydetection_spark.streaming.validate_stream import (
        start_quantile_sketch_stream,
        stream_quantile_report,
    )

    def docs(pid, lengths):
        return spark.createDataFrame(
            [
                (
                    f"p{pid}-d{i}",
                    [{"kind": "text", "text": "x" * ln, "media_ref": None, "offset": 0}],
                    pid,
                )
                for i, ln in enumerate(lengths)
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, partition_id int",
        )

    import numpy as np

    rng = np.random.RandomState(2)
    base_lens = [int(v) for v in rng.gamma(3.0, 40.0, 3000) + 5]
    indir = str(tmp_path / "in")
    # two files → two micro-batches (maxFilesPerTrigger=1): partition 0
    # draws from the baseline distribution, partition 1 is 3x longer
    docs(0, base_lens[:1500]).coalesce(1).write.mode("append").parquet(indir)
    docs(1, [v * 3 for v in base_lens[1500:]]).coalesce(1).write.mode("append").parquet(indir)

    sketch_dir = str(tmp_path / "sketches")
    q = start_quantile_sketch_stream(
        spark, indir, sketch_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    baseline = TDigest()
    baseline.add(np.asarray(base_lens, dtype=float))
    report = {r["partition_id"]: r for r in stream_quantile_report(sketch_dir, baseline.to_bytes())}
    assert set(report) == {0, 1}
    assert report[0]["flagged"] is False and report[0]["max_rel_gap"] < 0.1
    assert report[1]["flagged"] is True
    assert report[1]["max_rel_gap"] == pytest.approx(2.0, abs=0.3)  # 3x shift
    assert report[0]["n"] == 1500 and report[1]["n"] == 1500

    # replay idempotence: epoch files are keyed by batch id — re-running
    # the same availableNow stream from a FRESH checkpoint rewrites the
    # same epochs' blobs (same bytes) instead of double-merging mass
    q2 = start_quantile_sketch_stream(
        spark, indir, sketch_dir, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    report2 = {r["partition_id"]: r for r in stream_quantile_report(sketch_dir, baseline.to_bytes())}
    assert report2[0]["n"] == 1500 and report2[1]["n"] == 1500
