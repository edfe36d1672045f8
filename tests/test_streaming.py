"""Streaming surface tests: F5 guard, T4 limits, T5 markers, end-to-end
file-source ingestion with cascade maintenance and replay idempotence."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.operators.decimate import NS, decimate
from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore
from cassandra_pv_archiver_spark.sources.testdata import load_samples
from cassandra_pv_archiver_spark.streaming.ingest import (
    ingest_batch,
    monotonic_guard,
    start_file_ingest,
)
from cassandra_pv_archiver_spark.streaming.limits import (
    max_update_period,
    min_update_period,
)
from cassandra_pv_archiver_spark.streaming.markers import transition_markers

SF_DIR = "/root/testdata/sf0.001"


def test_min_update_period_greedy(spark):
    # arrivals at 0, 5, 9, 10, 22, 25, 31 with min 10 -> keep 0, 10, 22
    rows = [("X", t * NS, float(t)) for t in (0, 5, 9, 10, 22, 25, 31)]
    df = spark.createDataFrame(rows, "channel string, t long, v double")
    kept = sorted(r.t // NS for r in min_update_period(df, 10).collect())
    assert kept == [0, 10, 22]


def test_min_update_period_per_channel_independent(spark):
    rows = [("A", 0, 1.0), ("B", 1 * NS, 2.0), ("A", 5 * NS, 3.0), ("B", 20 * NS, 4.0)]
    df = spark.createDataFrame(rows, "channel string, t long, v double")
    kept = {(r.channel, r.t // NS) for r in min_update_period(df, 10).collect()}
    assert kept == {("A", 0), ("B", 1), ("B", 20)}


def test_max_update_period_heartbeat(spark):
    # samples at 0 and 35, max 10 -> heartbeats at 10, 20, 30; none after 35
    rows = [("X", 0, 7.0), ("X", 35 * NS, 9.0)]
    df = spark.createDataFrame(rows, "channel string, t long, v double")
    out = max_update_period(df, 10).collect()
    beats = sorted(r.t // NS for r in out if r.heartbeat)
    assert beats == [10, 20, 30]
    assert all(r.v == 7.0 for r in out if r.heartbeat)
    origs = sorted(r.t // NS for r in out if not r.heartbeat)
    assert origs == [0, 35]


def test_heartbeat_exact_boundary_not_reemitted(spark):
    # next sample exactly at t+max -> no heartbeat collides with it
    rows = [("X", 0, 1.0), ("X", 10 * NS, 2.0)]
    df = spark.createDataFrame(rows, "channel string, t long, v double")
    assert [r for r in max_update_period(df, 10).collect() if r.heartbeat] == []


def test_transition_markers(spark):
    rows = [
        ("A", 0, True), ("A", 10 * NS, False), ("A", 20 * NS, False),
        ("A", 30 * NS, True), ("A", 40 * NS, False),
        ("B", 0, False),  # cold-start disconnect
    ]
    df = spark.createDataFrame(rows, "channel string, t long, connected boolean")
    out = {(r.channel, r.t // NS) for r in transition_markers(df).collect()}
    assert out == {("A", 10), ("A", 40), ("B", 0)}


def test_monotonic_guard_batch_dedup_and_hwm(spark):
    batch = spark.createDataFrame(
        [("X", 10 * NS, 1.0), ("X", 10 * NS, 2.0), ("X", 20 * NS, 3.0),
         ("X", 5 * NS, 0.5)],
        "channel string, t long, v double",
    )
    hwm = spark.createDataFrame([("X", 5 * NS)], "channel string, hwm long")
    out = sorted(
        (r.t // NS, r.v) for r in monotonic_guard(batch, hwm).collect()
    )
    # t=5 dropped (== hwm), duplicate t=10 keeps first arrival
    assert out == [(10, 1.0), (20, 3.0)]


def test_file_ingest_end_to_end_with_cascade(spark, tmp_path):
    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    tmin, tmax = raw.agg(F.min("t"), F.max("t")).first()
    cut = tmin + (tmax - tmin) // 2

    src_dir = str(tmp_path / "incoming")
    # chunk 1 lands before the stream starts; chunk 2 arrives later
    raw.filter(F.col("t") < cut).write.mode("overwrite").parquet(src_dir)

    store = ArchiveStore(spark, str(tmp_path / "archive"))
    q = start_file_ingest(
        spark,
        src_dir,
        raw.schema,
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        cascade_periods=[3600],
    )
    q.awaitTermination(120)

    raw.filter(F.col("t") >= cut).write.mode("append").parquet(src_dir)
    q2 = start_file_ingest(
        spark, src_dir, raw.schema, store,
        checkpoint_dir=str(tmp_path / "ckpt"), cascade_periods=[3600],
    )
    q2.awaitTermination(120)

    stored = store.read_samples(0)
    assert stored.count() == raw.count()
    # continuously-maintained 1h level == batch decimation of everything
    inc = store.read_samples(3600).select("channel", "t", "mean")
    full = decimate(raw, 3600).select("channel", "t", F.col("mean").alias("m2"))
    j = inc.join(full, ["channel", "t"], "full")
    assert j.filter(F.col("mean").isNull() | F.col("m2").isNull()).count() == 0
    assert j.filter(F.abs(F.col("mean") - F.col("m2")) > 1e-9).count() == 0


def test_ingest_replay_idempotent(spark, tmp_path):
    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    store = ArchiveStore(spark, str(tmp_path / "archive"))
    n1 = ingest_batch(store, raw)
    assert n1 == raw.count()
    # replaying the identical batch (e.g. after a checkpoint loss) is a no-op
    n2 = ingest_batch(store, raw)
    assert n2 == 0
    assert store.read_samples(0).count() == raw.count()


def test_min_update_period_stream_state_across_batches(spark, tmp_path):
    """T4 streaming-native: the last-kept timestamp carries across
    micro-batches via GroupState. Without carried state, batch 2's first
    row (t=8s) would be kept; with it, only t=12s clears the 10 s period."""
    import os
    import shutil

    from cassandra_pv_archiver_spark.streaming.limits import (
        NS,
        min_update_period_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "channel string, t long, v double"

    def _write_file(rows, name, mtime):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))

    _write_file([("X", 0, 1.0), ("X", 5 * NS, 2.0)], "b1", 1_000_000_000)
    _write_file([("X", 8 * NS, 3.0), ("X", 12 * NS, 4.0)], "b2", 1_000_000_100)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    limited = min_update_period_stream(stream, 10)
    seen_batches = []

    def _sink(batch_df, batch_id):
        seen_batches.append((batch_id, [(r.channel, r.t) for r in batch_df.collect()]))

    q = (
        limited.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(seen_batches) >= 2, f"expected >=2 micro-batches: {seen_batches}"
    kept = sorted(t for _, rows in seen_batches for _, t in rows)
    assert kept == [0, 12 * NS], f"got {kept}"


def test_disconnect_markers_stream_event_time_timeout(spark, tmp_path):
    """T5 streaming-native: a channel silent for the threshold gets ONE
    disconnected marker stamped at the silence boundary, detected when the
    watermark (advanced by other channels) passes it."""
    import os
    import shutil

    from cassandra_pv_archiver_spark.streaming.limits import NS
    from cassandra_pv_archiver_spark.streaming.markers import (
        disconnect_markers_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "channel string, t long, v double"

    def _write_file(rows, name, mtime):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))

    # NOTE: event times must sit above the initial watermark (epoch 0) or
    # batch 0's rows are dropped as late data — use a positive base.
    base = 10_000 * NS
    _write_file([("X", base, 1.0), ("Y", base, 1.0)], "b1", 1_000_000_000)
    _write_file([("Y", base + 100 * NS, 2.0)], "b2", 1_000_000_100)
    _write_file([("Y", base + 200 * NS, 3.0)], "b3", 1_000_000_200)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    markers = disconnect_markers_stream(stream, 30)
    got = []

    def _sink(batch_df, batch_id):
        got.extend((r.channel, r.t, r.type) for r in batch_df.collect())

    q = (
        markers.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # X fell silent at t=base -> marker at base + 30 s (timeout-fired).
    # Y's updates are 100 s apart: each inter-update gap exceeds the 30 s
    # silence, so the intra-batch gap scan emits a marker per gap too
    # (replay-DETERMINISTIC: the same markers whether those rows arrive
    # paced over minutes or replayed in one batch). Y's trailing gap never
    # times out before the drain.
    assert sorted(got) == sorted(
        [
            ("X", base + 30 * NS, "disconnected"),
            ("Y", base + 30 * NS, "disconnected"),
            ("Y", base + 130 * NS, "disconnected"),
        ]
    ), f"got {got}"


def test_planner_reads_streamed_store(spark, tmp_path):
    """§3.2 -> §3.3 -> §3.1: the planner serves a query over levels
    materialized purely by the streaming path, equal to batch decimation
    over the probed range."""
    from cassandra_pv_archiver_spark.plans.planner import plan_samples

    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    src = str(tmp_path / "in")
    raw.write.parquet(src)
    store = ArchiveStore(spark, str(tmp_path / "arch"))
    q = start_file_ingest(
        spark, src, raw.schema, store,
        checkpoint_dir=str(tmp_path / "ckpt"), cascade_periods=[3600],
    )
    q.awaitTermination(300)

    dec = store.read_samples(3600)
    lvl0 = store.read_samples(0).select(
        "channel", "t", F.col("v").alias("value"), F.lit(0).alias("level")
    )
    lvl1 = dec.select(
        "channel", "t", F.col("mean").alias("value"), F.lit(3600).alias("level")
    )
    lo, hi = dec.agg(F.min("t"), F.max("t")).first()
    span_windows = (hi - lo) // (3600 * NS) + 1
    out = plan_samples(
        {0: lvl0, 3600: lvl1}, start_ns=lo, end_ns=hi, count=int(span_windows)
    )
    got = {(r.channel, r.t): r.value for r in out.filter(F.col("level") == 3600).collect()}
    want = {
        (r.channel, r.t): r.mean
        for r in decimate(raw, 3600).filter(F.col("t").between(lo, hi)).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_sequence_packing_stream_offsets_across_batches(spark, tmp_path):
    """The per-shard token offset carries across micro-batches: replaying
    the corpus through the stream in doc_id order yields EXACTLY the
    batch operator's pack assignment."""
    import os
    import shutil

    from cassandra_pv_archiver_spark.operators.sampling import sequence_packing
    from cassandra_pv_archiver_spark.streaming.packing import (
        sequence_packing_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "doc_id long, lang string, n_tokens long"

    def _write_file(rows, name, mtime):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))

    # single shard so every doc shares one offset stream; batch 2's first
    # doc must start at batch 1's cumulative total (3000), not at 0
    rows1 = [(1, "en", 1000), (2, "en", 2000)]
    rows2 = [(3, "en", 1500), (4, "en", 100)]
    _write_file(rows1, "b1", 1_000_000_000)
    _write_file(rows2, "b2", 1_000_000_100)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    emitted = []

    def _sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    q = (
        sequence_packing_stream(stream, n_shards=1)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = sequence_packing(
        spark.createDataFrame(rows1 + rows2, schema), n_shards=1
    ).collect()
    want = {r.doc_id: (r.start_offset, r.pack_id) for r in batch}
    got = {r.doc_id: (r.start_offset, r.pack_id) for r in emitted}
    assert got == want, f"stream {got} != batch {want}"
    assert got[3][0] == 3000  # continued, not restarted


def test_stream_static_registry_enrichment(spark, tmp_path):
    """Stream-static join surface: a micro-batch stream of samples
    enriched against the static channel registry (broadcast per
    micro-batch — the dimension lookup J3 under streaming execution).
    Disabled channels drop, options survive onto the stream rows."""
    import os

    from cassandra_pv_archiver_spark.management import (
        ChannelConfig,
        ChannelRegistry,
    )

    reg = ChannelRegistry(spark, str(tmp_path / "reg") + "/channels")
    reg._channels = {
        "X": ChannelConfig("X", enabled=True, options={"tier": "fast"}),
        "Y": ChannelConfig("Y", enabled=False),
    }
    reg._flush()
    dim = reg.to_df().select(
        F.col("channel_name").alias("channel"), "enabled", "options"
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "channel string, t long, v double"
    spark.createDataFrame(
        [("X", 1, 1.0), ("Y", 2, 2.0), ("X", 3, 3.0)], schema
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    enriched = stream.join(F.broadcast(dim), "channel").filter(F.col("enabled"))
    out = []
    q = (
        enriched.writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted((r.channel, r.t) for r in out) == [("X", 1), ("X", 3)]
    assert all(dict(r.options)["tier"] == "fast" for r in out)


def test_stream_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup surface: dropDuplicatesWithinWatermark removes a
    replayed (channel, t) sample arriving in a LATER micro-batch while
    its event time is still inside the watermark window — the
    at-least-once-source guard F5 needs under streaming execution."""
    import os
    import shutil

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "channel string, t long, v double"

    def _write_file(rows, name, mtime):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))

    NS = 1_000_000_000
    _write_file([("X", 10 * NS, 1.0), ("X", 20 * NS, 2.0)], "b1", 1_000_000_000)
    # replay of t=10 plus a genuinely new sample
    _write_file([("X", 10 * NS, 1.0), ("X", 30 * NS, 3.0)], "b2", 1_000_000_100)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("tts", F.timestamp_micros(F.expr("t div 1000")))
        .withWatermark("tts", "1 hour")
        .dropDuplicatesWithinWatermark(["channel", "t"])
    )
    out = []
    q = (
        stream.writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.t // NS for r in out) == [10, 20, 30]


def test_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """T2/T3 recovery (`ArchivedChannelDecimatedSamplesDecimationLevel
    .java:343-537`): kill the ingest stream in the WORST window — after
    the store write of batch N but before its checkpoint commit — then
    restart from the checkpoint. Batch N replays; the monotonic guard
    makes the replay a no-op; the final store (raw level AND maintained
    1 h cascade) must be row-identical to an uninterrupted run."""
    raw = load_samples(spark, SF_DIR).select(
        "channel", "t", "v", "severity", "status"
    )
    tmin, tmax = raw.agg(F.min("t"), F.max("t")).first()
    step = (tmax - tmin) // 4 + 1
    src_dir = str(tmp_path / "incoming")
    for i in range(4):  # 4 single-file chunks -> 4 micro-batches
        raw.filter(
            (F.col("t") >= tmin + i * step) & (F.col("t") < tmin + (i + 1) * step)
        ).coalesce(1).write.mode("append").parquet(src_dir)

    # reference: uninterrupted run
    ref_store = ArchiveStore(spark, str(tmp_path / "ref_archive"))
    q = start_file_ingest(
        spark, src_dir, raw.schema, ref_store,
        checkpoint_dir=str(tmp_path / "ref_ckpt"), cascade_periods=[3600],
    )
    q.awaitTermination(180)

    # crashing run: die inside micro-batch 1 (0-indexed), after the store
    # write, before the checkpoint commit
    store = ArchiveStore(spark, str(tmp_path / "archive"))

    def _crash(batch_id: int) -> None:
        if batch_id == 1:
            raise RuntimeError("simulated crash before checkpoint commit")

    q = start_file_ingest(
        spark, src_dir, raw.schema, store,
        checkpoint_dir=str(tmp_path / "ckpt"), cascade_periods=[3600],
        max_files_per_trigger=1, on_batch=_crash,
    )
    crashed = False
    try:
        q.awaitTermination(180)
    except Exception:  # StreamingQueryException wrapping our RuntimeError
        crashed = True
    assert crashed and not q.isActive
    n_partial = store.read_samples(0).count()
    assert 0 < n_partial < raw.count()  # died mid-stream for real

    # restart from the same checkpoint: batch 1 replays (no-op under the
    # guard), batches 2..3 process fresh
    q = start_file_ingest(
        spark, src_dir, raw.schema, store,
        checkpoint_dir=str(tmp_path / "ckpt"), cascade_periods=[3600],
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    for level in (0, 3600):
        got = sorted(map(tuple, store.read_samples(level).collect()))
        want = sorted(map(tuple, ref_store.read_samples(level).collect()))
        assert got == want, f"level {level} differs after restart"


def test_ingest_crash_lands_rows_and_marks_together(
    spark, tmp_path, crash_commit
):
    """A level-0 ingest killed before its publish, between the stage
    move and the manifest rename, or after the commit: the batch's rows
    and marks land together or not at all, a replay is dropped by the
    monotonic guard alone, and no (channel, t) pair is duplicated."""
    from cassandra_pv_archiver_spark.sources.archive_store import (
        NS,
        ArchiveStore,
        hwm_frame,
    )
    from cassandra_pv_archiver_spark.streaming.ingest import ingest_batch

    store = ArchiveStore(spark, str(tmp_path / "crash"))
    mk = lambda lo, hi: spark.createDataFrame(
        [(c, k * NS, float(k), 0, 0) for c in ("P", "Q")
         for k in range(lo, hi)],
        "channel string, t long, v double, severity int, status int",
    )
    assert ingest_batch(store, mk(0, 10)) == 20
    batch = mk(10, 20)
    crash_commit("/decimation_level=0")
    with pytest.raises(IOError, match="simulated crash"):
        ingest_batch(store, batch)

    landed = crash_commit.point == "after_commit"
    top = (19 if landed else 9) * NS
    assert store.read_samples(0).count() == (40 if landed else 20)
    hwm = store.channel_hwm(0)
    assert hwm == {"P": top, "Q": top}

    # the guard alone decides the replay: it keeps exactly what did
    # not land, and a fully-landed replay commits nothing
    kept = monotonic_guard(batch, hwm_frame(spark, hwm)).count()
    assert kept == (0 if landed else 20)
    version = store.level_versions(0)[-1]
    assert ingest_batch(store, batch) == kept
    assert (store.level_versions(0)[-1] == version) == landed
    rows = store.read_samples(0)
    assert rows.count() == 40
    assert rows.dropDuplicates(["channel", "t"]).count() == 40
    assert store.channel_hwm(0) == {"P": 19 * NS, "Q": 19 * NS}


def test_min_update_period_stream_group_spanning_arrow_chunks(spark, tmp_path):
    """Review-pinned: a group larger than the Arrow batch size arrives as
    MULTIPLE chunks in shuffle order; the greedy filter must run over the
    whole time-sorted group, not per chunk, to match the batch operator."""
    import os
    import shutil

    from cassandra_pv_archiver_spark.streaming.limits import (
        NS,
        min_update_period,
        min_update_period_stream,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "channel string, t long, v double"
    # one channel, 40 rows at 1 s spacing, written in REVERSE time order
    rows = [("X", k * NS, float(k)) for k in range(39, -1, -1)]
    stage = str(tmp_path / "stage")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
    part = next(
        f for f in os.listdir(stage)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        limited = min_update_period_stream(stream, 4)
        got = []

        def _sink(batch_df, batch_id):
            got.extend((r.channel, r.t) for r in batch_df.collect())

        q = (
            limited.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    batch_ref = sorted(
        (r.channel, r.t)
        for r in min_update_period(
            spark.createDataFrame(rows, schema), 4
        ).collect()
    )
    assert sorted(got) == batch_ref
    assert [t for (_, t) in batch_ref] == [k * 4 * NS for k in range(10)]


def test_rate_source_ingest_with_cascade(spark, tmp_path):
    """Source-agnosticism (SURVEY §1.5 rate/Kafka/file): the SAME guarded
    sink + cascade maintenance behind a rate-micro-batch source — the 1h
    level must equal batch decimation of whatever level-0 received, and a
    second run from the same checkpoint must not duplicate rows."""
    from cassandra_pv_archiver_spark.streaming.ingest import start_rate_ingest

    store = ArchiveStore(spark, str(tmp_path / "archive"))
    q = start_rate_ingest(
        spark,
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        rows_per_batch=2000,
        n_channels=5,
        period_ns=600 * NS,  # 10 min spacing -> several 1h buckets
        cascade_periods=[3600],
    )
    deadline = time.time() + 120
    while time.time() < deadline and store.read_samples(0).count() < 4000:
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)
    # stop() may interrupt a batch between the level-0 write and its
    # cascade step — one catch-up pass is the T3 recovery contract (a
    # restarted stream's first batch would do the same)
    from cassandra_pv_archiver_spark.plans.jobs import incremental_decimation

    incremental_decimation(store, 3600)

    stored = store.read_samples(0)
    n0 = stored.count()
    assert n0 >= 4000
    # per-channel t strictly monotonic and unique (guard held)
    assert stored.select("channel", "t").distinct().count() == n0
    # continuously-maintained 1h level == batch decimation of level 0
    inc = store.read_samples(3600).select("channel", "t", "mean")
    full = decimate(
        stored.select("channel", "t", "v", "severity", "status"), 3600
    ).select("channel", "t", F.col("mean").alias("m2"))
    j = inc.join(full, ["channel", "t"], "full")
    assert j.filter(F.col("mean").isNull() | F.col("m2").isNull()).count() == 0
    assert j.filter(F.abs(F.col("mean") - F.col("m2")) > 1e-9).count() == 0


def test_rate_to_samples_deterministic(spark):
    """rate_to_samples is a pure function of `value`: replays regenerate
    identical rows (the exactly-once precondition for the rate source)."""
    from cassandra_pv_archiver_spark.streaming.ingest import rate_to_samples

    rate = spark.range(0, 100).select(
        F.current_timestamp().alias("timestamp"), F.col("id").alias("value")
    )
    a = {tuple(r) for r in rate_to_samples(rate, 7, base_ns=5, period_ns=3).collect()}
    b = {tuple(r) for r in rate_to_samples(rate, 7, base_ns=5, period_ns=3).collect()}
    assert a == b
    # channel PV:0 gets values 0,7,14,... -> t = 5 + k*3, strictly monotonic
    ts = sorted(t for (ch, t, *_rest) in a if ch == "PV:0")
    assert ts == [5 + k * 3 for k in range(len(ts))]
    assert len(ts) == 15  # ceil(100/7)


def test_parse_kafka_samples_batch(spark):
    """The Kafka value decoder is a pure column transform: valid JSON
    events parse to typed samples, malformed ones are dropped."""
    from cassandra_pv_archiver_spark.streaming.ingest import parse_kafka_samples

    events = [
        ('{"channel":"PV:1","t":1000,"v":1.5,"severity":0,"status":0}',),
        ('{"channel":"PV:2","t":2000,"v":-3.25,"severity":2,"status":7}',),
        ("not json at all",),
        ('{"t":3000,"v":0.0}',),  # missing channel -> dropped
    ]
    df = spark.createDataFrame(events, "raw string").select(
        F.col("raw").cast("binary").alias("value")
    )
    out = {tuple(r) for r in parse_kafka_samples(df).collect()}
    assert out == {
        ("PV:1", 1000, 1.5, 0, 0),
        ("PV:2", 2000, -3.25, 2, 7),
    }
    got = parse_kafka_samples(df)
    assert [f.name for f in got.schema.fields] == [
        "channel", "t", "v", "severity", "status",
    ]


def test_kafka_shaped_ingest_cascade_parity(spark, tmp_path):
    """The Kafka seam minus the broker: a structured stream of
    Kafka-SHAPED records (key/value binary, topic, partition, offset,
    timestamp — the connector's exact output schema) built from files
    drives streaming/ingest.ingest_kafka_records, i.e. every line of
    start_kafka_ingest downstream of `.load()`: JSON value decode,
    malformed-event dead-lettering, archive sink, cascade. Parity
    asserted against batch decimation, same as the file/rate sources.
    The connector binding itself is covered by the broker-gated test
    below when a real Kafka is configured."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from cassandra_pv_archiver_spark.streaming.ingest import (
        ingest_kafka_records,
    )

    raw = load_samples(spark, SF_DIR).select(
        "channel", "t", "v", "severity", "status"
    )
    events = raw.select(
        F.lit(None).cast("binary").alias("key"),
        F.encode(
            F.to_json(F.struct("channel", "t", "v", "severity", "status")),
            "utf-8",
        ).alias("value"),
        F.lit("pv-samples").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    # one malformed event: must dead-letter (NULL-drop), not poison
    junk = spark.createDataFrame(
        [(None, bytearray(b"{not json"), "pv-samples", 0, -1)],
        "key binary, value binary, topic string, partition int, offset long",
    ).select(
        "key", "value", "topic", "partition", "offset",
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    src_dir = str(tmp_path / "kafka_records")
    events.unionByName(junk).write.mode("overwrite").parquet(src_dir)

    kafka_schema = StructType(
        [
            StructField("key", BinaryType()),
            StructField("value", BinaryType()),
            StructField("topic", StringType()),
            StructField("partition", IntegerType()),
            StructField("offset", LongType()),
            StructField("timestamp", TimestampType()),
            StructField("timestampType", IntegerType()),
        ]
    )
    records = spark.readStream.schema(kafka_schema).parquet(src_dir)
    store = ArchiveStore(spark, str(tmp_path / "archive"))
    q = ingest_kafka_records(
        records,
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        cascade_periods=[3600],
        available_now=True,
    )
    q.awaitTermination(120)

    stored = store.read_samples(0)
    assert stored.count() == raw.count()  # junk dropped, nothing lost
    inc = store.read_samples(3600).select("channel", "t", "mean")
    full = decimate(raw, 3600).select("channel", "t", F.col("mean").alias("m2"))
    j = inc.join(full, ["channel", "t"], "full")
    assert j.filter(F.col("mean").isNull() | F.col("m2").isNull()).count() == 0
    assert j.filter(F.abs(F.col("mean") - F.col("m2")) > 1e-9).count() == 0


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP_SERVERS"),
    reason="no Kafka broker configured: set KAFKA_BOOTSTRAP_SERVERS (and "
    "KAFKA_TEST_TOPIC) with the spark-sql-kafka connector on the "
    "classpath to run the connector-binding leg end-to-end; everything "
    "downstream of .load() is pinned broker-free by "
    "test_kafka_shaped_ingest_cascade_parity",
)
def test_kafka_ingest_real_broker(spark, tmp_path):
    from cassandra_pv_archiver_spark.streaming.ingest import start_kafka_ingest

    servers = os.environ["KAFKA_BOOTSTRAP_SERVERS"]
    topic = os.environ.get("KAFKA_TEST_TOPIC", "pv-samples-test")
    raw = load_samples(spark, SF_DIR).select(
        "channel", "t", "v", "severity", "status"
    )
    (
        raw.select(
            F.encode(
                F.to_json(F.struct("channel", "t", "v", "severity", "status")),
                "utf-8",
            ).alias("value")
        )
        .write.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .save()
    )
    store = ArchiveStore(spark, str(tmp_path / "archive"))
    q = start_kafka_ingest(
        spark,
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        bootstrap_servers=servers,
        topic=topic,
        cascade_periods=[3600],
    )
    try:
        import time as _time

        deadline = _time.time() + 120
        while _time.time() < deadline:
            if store.levels() and store.read_samples(0).count() >= raw.count():
                break
            _time.sleep(2)
        assert store.read_samples(0).count() >= raw.count()
    finally:
        q.stop()


def test_stream_ivfpq_search_parity(spark, tmp_path):
    """Streaming ANN serving: two micro-batches of query vectors
    searched against a frozen persisted IVF-PQ index produce EXACTLY
    the batch search of all queries (per-query independence makes the
    stream replay bit-identical), and the second batch reuses the
    stored index without refitting."""
    import os
    import random

    from cassandra_pv_archiver_spark.operators.similarity import (
        ivfpq_fit_encode,
        ivfpq_search,
    )
    from cassandra_pv_archiver_spark.streaming.ann import (
        persist_ivfpq_index,
        start_ivfpq_search_stream,
    )

    rnd = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    params = dict(m=2, sub_dim=4, n_probe=2)
    index = persist_ivfpq_index(
        ivfpq_fit_encode(
            emb, n_cells=4, coarse_iters=1, m=2, sub_dim=4, kpq=4,
            pq_iters=1,
        ),
        str(tmp_path / "index"),
    )

    # external queries (ids disjoint from the corpus)
    queries = [
        (1000 + i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(6)
    ]
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    want = sorted(
        (r.q_id, r.vec_id, r.adc)
        for r in ivfpq_search(index, qdf, k=5, **params).collect()
    )

    src = str(tmp_path / "queries")
    os.makedirs(src)
    spark.createDataFrame(
        queries[:3], "vec_id long, embedding array<float>"
    ).write.mode("append").parquet(src)
    spark.createDataFrame(
        queries[3:], "vec_id long, embedding array<float>"
    ).write.mode("append").parquet(src)

    got: list = []
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = start_ivfpq_search_stream(
        stream, index, sink=lambda df, bid: got.extend(df.collect()),
        k=5, checkpoint=str(tmp_path / "ckpt"), **params,
    )
    q.awaitTermination(180)
    assert sorted((r.q_id, r.vec_id, r.adc) for r in got) == want
    assert len(got) == 6 * 5


def test_stream_ivfpq_rerank_parity(spark, tmp_path):
    """Streaming two-stage serving (ADC shortlist -> exact rerank on
    the raw vectors) equals the batch composition of the same stages on
    all queries — the production leg serves RERANKED results, not raw
    ADC, with the same frozen index across micro-batches."""
    import os
    import random

    from cassandra_pv_archiver_spark.operators.similarity import (
        ivfpq_fit_encode,
        ivfpq_search,
        rerank_shortlist,
    )
    from cassandra_pv_archiver_spark.streaming.ann import (
        persist_ivfpq_index,
        start_ivfpq_search_stream,
    )

    rnd = random.Random(17)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    params = dict(m=2, sub_dim=4, n_probe=2)
    index = persist_ivfpq_index(
        ivfpq_fit_encode(
            emb, n_cells=4, coarse_iters=1, m=2, sub_dim=4, kpq=4,
            pq_iters=1,
        ),
        str(tmp_path / "index"),
    )
    queries = [
        (2000 + i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(6)
    ]
    qdf = spark.createDataFrame(queries, "vec_id long, embedding array<float>")
    batch_short = ivfpq_search(index, qdf, k=12, **params)
    want = sorted(
        (r.q_id, r.vec_id, r.d2)
        for r in rerank_shortlist(emb, qdf, batch_short, k=5).collect()
    )

    src = str(tmp_path / "rq")
    os.makedirs(src)
    spark.createDataFrame(
        queries[:3], "vec_id long, embedding array<float>"
    ).write.mode("append").parquet(src)
    spark.createDataFrame(
        queries[3:], "vec_id long, embedding array<float>"
    ).write.mode("append").parquet(src)

    got: list = []
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    q = start_ivfpq_search_stream(
        stream, index, sink=lambda df, bid: got.extend(df.collect()),
        k=5, rerank_raw=emb, shortlist_k=12,
        checkpoint=str(tmp_path / "rckpt"), **params,
    )
    q.awaitTermination(180)
    assert sorted((r.q_id, r.vec_id, r.d2) for r in got) == want
    assert len(got) == 6 * 5
    # reranked top-1 is the exact nearest within the shortlist: never
    # worse than the ADC ordering it refines
    short_ids = {
        (r.q_id, r.vec_id) for r in batch_short.collect()
    }
    assert all((q_, v_) in short_ids for q_, v_, _ in want)


def test_stream_weighted_sample_parity(spark, tmp_path):
    """Streaming replication-race sampling: the GroupState running
    top-k after the LAST micro-batch equals the batch weighted_sample
    over the union of all batches, bit-for-bit (static race keys make
    eviction exact: an item outside the top-k can never re-enter)."""
    import os

    from cassandra_pv_archiver_spark.operators.sampling import weighted_sample
    from cassandra_pv_archiver_spark.streaming.sampling import (
        stream_weighted_sample,
    )

    rows = [
        (i, "g1" if i % 2 == 0 else "g2", 1 + (i % 4))
        for i in range(120)
    ]
    schema = "doc_id long, lang string, w int"
    batch_df = spark.createDataFrame(rows, schema)
    want = sorted(
        (r.lang, r.rank, r.doc_id, r.weight, r.sample_key)
        for r in weighted_sample(
            batch_df, k=7, weight=F.col("w"), group_col="lang"
        ).collect()
    )

    src = str(tmp_path / "docs")
    os.makedirs(src)
    spark.createDataFrame(rows[:50], schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows[50:], schema).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = stream_weighted_sample(stream, k=7, weight=F.col("w"))
    per_batch: list = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, bid: per_batch.append((bid, df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(per_batch) >= 2
    # latest emission per group is the final running sample
    latest: dict = {}
    for bid, rows_ in sorted(per_batch):
        for r in rows_:
            latest.setdefault(r.group, {})
            latest[r.group][bid] = latest[r.group].get(bid, []) + [r]
    final = []
    for g, by_bid in latest.items():
        final.extend(by_bid[max(by_bid)])
    got = sorted(
        (r.group, r.rank, r.doc_id, r.weight, r.sample_key) for r in final
    )
    assert got == want


def test_stream_seasonal_flags_parity(spark, tmp_path):
    """Live seasonal monitor: two micro-batches of arriving samples
    checked against the broadcast historical profile emit EXACTLY the
    batch filter's anomalies (stateless stream-static join — the flag
    is the batch census's exact-integer sigma test), and the flagged
    count agrees with the batch census over history+arrivals when the
    profile covers both."""
    import os

    from cassandra_pv_archiver_spark.operators.stats import (
        seasonal_hod_anomalies,
        seasonal_profile,
    )
    from cassandra_pv_archiver_spark.streaming.detect import (
        stream_seasonal_flags,
    )

    HOUR = 3_600_000_000_000
    # history: hod 0 tight around 10.0, hod 1 tight around 50.0
    hist = [("c", d * 24 * HOUR + i, 10.0 + (i % 3) * 0.01)
            for d in range(4) for i in range(5)]
    hist += [("c", d * 24 * HOUR + HOUR + i, 50.0) for d in range(4)
             for i in range(3)]
    hdf = spark.createDataFrame(hist, "channel string, t long, v double")
    profile = seasonal_profile(hdf)

    # arrivals: one normal, one wild outlier per cell; one unknown cell
    arrivals = [
        ("c", 100 * 24 * HOUR + 7, 10.01),        # hod 0, in-family
        ("c", 100 * 24 * HOUR + 9, 900.0),        # hod 0, outlier
        ("c", 100 * 24 * HOUR + HOUR + 1, -80.0), # hod 1, outlier
        ("c", 100 * 24 * HOUR + 2 * HOUR + 1, 5.0),  # hod 2: no baseline
    ]
    adf = spark.createDataFrame(arrivals, "channel string, t long, v double")
    want = sorted(
        (r.channel, r.t, r.v_q, r.hod, str(r.z_num))
        for r in stream_seasonal_flags(adf, profile).collect()
    )
    assert len(want) == 2  # the two outliers; unknown cell passes through

    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    spark.createDataFrame(
        arrivals[:2], "channel string, t long, v double"
    ).write.mode("append").parquet(src)
    spark.createDataFrame(
        arrivals[2:], "channel string, t long, v double"
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "channel string, t long, v double"
    ).option("maxFilesPerTrigger", "1").parquet(src)
    got: list = []
    q = (
        stream_seasonal_flags(stream, profile)
        .writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(
        (r.channel, r.t, r.v_q, r.hod, str(r.z_num)) for r in got
    ) == want

    # cross-check vs the batch census: profile over history+arrivals,
    # flags of the union == sum of per-cell n_anomalies
    union = hdf.unionByName(adf)
    census = {
        (r.channel, r.hod): r.n_anomalies
        for r in seasonal_hod_anomalies(union).collect()
    }
    flagged_union = stream_seasonal_flags(
        union, seasonal_profile(union)
    ).count()
    assert flagged_union == sum(census.values())


def test_stream_decontam_flags_parity(spark, tmp_path):
    """Ingest-time contamination screen: two micro-batches of arriving
    documents checked against the static benchmark (broadcast bloom
    bits + gram set) flag EXACTLY the batch funnel's flagged docs, with
    the exact verdict carried in the same row (bloom never misses a
    truly contaminated doc)."""
    import os

    from pyspark.sql import functions as F

    from cassandra_pv_archiver_spark.operators import dedup, sketches
    from cassandra_pv_archiver_spark.streaming.detect import (
        start_decontam_screen,
        stream_decontam_flags,
    )

    bench_text = " ".join(f"b{i}" for i in range(12))
    bench_docs = spark.createDataFrame(
        [(1000, bench_text)], "doc_id long, text string"
    )
    bench_sh = dedup.shingles(bench_docs).select("shingle").distinct()
    m, k = 65536, 4
    pos_expr = (
        f"array_distinct(transform(sequence(0, {k - 1}), j ->"
        f" CAST(CAST(conv(substring(md5(shingle), 1 + 4 * j, 4), 16, 10)"
        f" AS INT) % {m} AS INT)))"
    )
    bloom_bits = bench_sh.select(
        F.explode(F.expr(pos_expr)).alias("bit")
    ).distinct()

    arrivals = [
        (1, bench_text),                                  # contaminated
        (2, " ".join(f"c{i}" for i in range(12))),        # clean
        (3, bench_text + " extra trailing words here"),   # contaminated
        (4, " ".join(f"d{i}" for i in range(12))),        # clean
    ]
    schema = "doc_id long, text string"
    adf = spark.createDataFrame(arrivals, schema)
    want = sorted(
        (r.doc_id, r.bloom_hit, r.confirmed)
        for r in stream_decontam_flags(
            adf, bench_sh, bloom_bits, m=m, k=k
        ).collect()
    )
    flagged_ids = {d for d, _, _ in want}
    assert {1, 3} <= flagged_ids  # no false negatives, ever
    assert all(c for d, _, c in want if d in (1, 3))

    src = str(tmp_path / "docs")
    os.makedirs(src)
    spark.createDataFrame(arrivals[:2], schema).write.mode("append").parquet(src)
    spark.createDataFrame(arrivals[2:], schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    got: list = []
    q = start_decontam_screen(
        stream, bench_sh, bloom_bits,
        sink=lambda df, bid: got.extend(df.collect()),
        m=m, k=k, checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert sorted((r.doc_id, r.bloom_hit, r.confirmed) for r in got) == want


def test_stream_typed_ca_assembly_parity_and_state_carry(spark, tmp_path):
    """Streaming typed CA assembly (per-sid GroupState latest-controls)
    equals batch LOCF assembly over the full capture — including a
    controls frame in micro-batch 1 applying to time frames in
    micro-batch 2, the state carry a per-batch join cannot provide."""
    import os

    from cassandra_pv_archiver_spark.functions.ca_wire import (
        EPICS_EPOCH_OFFSET_S,
    )
    from cassandra_pv_archiver_spark.functions.ca_wire_typed import (
        assemble_typed_samples,
        decode_ctrl_events,
        decode_time_events_typed,
        encode_ctrl_event,
        encode_time_event,
    )
    from cassandra_pv_archiver_spark.streaming.ca_typed import (
        assemble_typed_stream,
    )

    NS = 1_000_000_000
    T0 = (EPICS_EPOCH_OFFSET_S + 5000) * NS
    m1 = {"precision": 1, "units": "A",
          "lower_warning_limit": -1.0, "upper_warning_limit": 1.0,
          "lower_alarm_limit": -2.0, "upper_alarm_limit": 2.0,
          "lower_display_limit": -3.0, "upper_display_limit": 3.0,
          "lower_control_limit": -4.0, "upper_control_limit": 4.0}
    m2 = dict(m1, precision=9, units="B")
    chunk1 = [
        (10, encode_ctrl_event(1, "double", meta=m1)),
        (20, encode_time_event(1, T0, "double", [1.0])),
        (15, encode_ctrl_event(2, "enum", labels=["X", "Y", "Z"])),
    ]
    chunk2 = [
        # sid 1's ctrl came in the PREVIOUS batch — state must carry
        (30, encode_time_event(1, T0 + NS, "double", [2.0], 1, 6)),
        (40, encode_ctrl_event(1, "double", meta=m2)),
        (50, encode_time_event(1, T0 + 2 * NS, "double", [3.0])),
        (60, encode_time_event(2, T0 + NS, "enum", [2])),
        (70, encode_time_event(2, T0 + 2 * NS, "string", ["s1", "s2"])),
    ]
    src = str(tmp_path / "castream")
    os.makedirs(src)
    for i, chunk in enumerate([chunk1, chunk2]):
        spark.createDataFrame(
            [(s, bytearray(f)) for s, f in chunk], "seq long, frame binary"
        ).coalesce(1).write.parquet(f"{src}/c{i}")

    all_fdf = spark.read.parquet(f"{src}/c0", f"{src}/c1")
    want = sorted(
        (r["seq"], r["sid"], r["t"], r["type"], r["v"],
         tuple(r["aval"] or []), r["eval"], r["sval"],
         tuple(r["asval"] or []), r["severity"], r["status"],
         tuple(r["meta"]) if r["meta"] else None,
         tuple(r["labels"] or []))
        for r in assemble_typed_samples(
            decode_time_events_typed(all_fdf), decode_ctrl_events(all_fdf)
        ).collect()
    )

    got: list = []
    stream = (
        spark.readStream.schema("seq long, frame binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/c*")
    )
    q = (
        assemble_typed_stream(stream)
        .writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ca"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got_t = sorted(
        (r["seq"], r["sid"], r["t"], r["type"], r["v"],
         tuple(r["aval"] or []), r["eval"], r["sval"],
         tuple(r["asval"] or []), r["severity"], r["status"],
         tuple(r["meta"]) if r["meta"] else None,
         tuple(r["labels"] or []))
        for r in got
    )
    assert got_t == want
    # the batch-2 time frame at seq 30 carries batch-1's metadata
    by_seq = {r[0]: r for r in got_t}
    assert by_seq[30][11] is not None and by_seq[30][11][0] == 1  # m1
    assert by_seq[50][11][0] == 9 and by_seq[50][11][1] == "B"    # m2
    assert by_seq[60][12] == ("X", "Y", "Z")


def test_stream_stream_left_outer_null_emission_on_eviction(spark, tmp_path):
    """VERDICT r8 #3 core semantic: an unmatched left row null-emits only
    when the watermark passes its join-condition state bound (c_t +
    span); a younger unmatched row stays buffered and emits NOTHING."""
    from pyspark.sql.types import StructType

    DELAY_S, SPAN_S = 7200, 21600
    MS = 1_000_000
    HOUR_NS = 3600 * 1000 * MS
    T0 = 1_700_000_000_000 * MS
    side_schema = "user_id bigint, t bigint, event_id bigint"
    out_schema = (
        "user_id bigint, c_event_id bigint, p_event_id bigint,"
        " c_t bigint, p_t bigint"
    )
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    ckpt, sink = str(tmp_path / "ck"), str(tmp_path / "out")
    # watermark driver rows on both sides at T0+100h -> wm = T0+98h
    # c_old: unmatched, bound T0+1h+6h = T0+7h  < wm -> null-emits
    # c_young: unmatched, bound T0+95h+6h       > wm -> emits NOTHING
    # c_m: matched by p_m inside the band -> inner row, no null
    clicks = [(1, T0 + 1 * HOUR_NS, 11),        # c_old
              (1, T0 + 95 * HOUR_NS, 12),       # c_young
              (2, T0 + 10 * HOUR_NS, 13),       # c_m
              (9, T0 + 100 * HOUR_NS, 19)]      # wm driver
    purch = [(2, T0 + 12 * HOUR_NS, 23),        # p_m (2h after c_m)
             (8, T0 + 100 * HOUR_NS, 28)]       # wm driver
    spark.createDataFrame(clicks, side_schema).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(purch, side_schema).coalesce(1).write.parquet(pdir)

    cs = (
        spark.readStream.schema(side_schema).parquet(cdir)
        .withColumn("c_ts", F.timestamp_micros(F.expr("t div 1000")))
        .withWatermark("c_ts", f"{DELAY_S} seconds")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("c_event_id"),
                F.col("t").alias("c_t"), "c_ts")
    )
    ps = (
        spark.readStream.schema(side_schema).parquet(pdir)
        .withColumn("p_ts", F.timestamp_micros(F.expr("t div 1000")))
        .withWatermark("p_ts", f"{DELAY_S} seconds")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("p_event_id"),
                F.col("t").alias("p_t"), "p_ts")
    )
    j = cs.join(
        ps,
        F.expr(
            "c_user = p_user AND c_ts <= p_ts"
            f" AND c_ts >= p_ts - INTERVAL {SPAN_S} SECONDS"
        ),
        "leftOuter",
    ).select(F.col("c_user").alias("user_id"),
             "c_event_id", "p_event_id", "c_t", "p_t")
    q = (
        j.writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.read.schema(StructType.fromDDL(out_schema)).parquet(sink)
    rows = {(r.c_event_id, r.p_event_id) for r in got.collect()}
    assert (13, 23) in rows          # matched pair emits
    assert (11, None) in rows        # evicted unmatched -> null row
    assert (12, None) not in rows    # young unmatched -> still buffered
    assert all(c != 12 for c, _ in rows)
    # wm drivers: 19 young (no), 28 matched nothing but right side rows
    # never null-extend in a LEFT outer join
    assert all(p != 28 for _, p in rows)


def test_monotonic_guard_drops_null_keys(spark):
    """Round-10 review: a null channel or null t defeats BOTH
    exactly-once layers (the hwm fast path keeps it forever, the
    (channel, t) anti-join never matches a null key), so every crash
    replay would re-append it — the guard is the shared chokepoint that
    rejects them, as the reference rejects samples without a valid
    timestamp at the listener."""
    batch = spark.createDataFrame(
        [("X", 10 * NS, 1.0), (None, 20 * NS, 2.0), ("X", None, 3.0),
         ("Y", 30 * NS, 4.0)],
        "channel string, t long, v double",
    )
    out = sorted(
        (r.channel, r.t // NS) for r in monotonic_guard(batch, None).collect()
    )
    assert out == [("X", 10), ("Y", 30)]


def test_max_update_period_marker_aware(spark):
    """Round-10 review: the reference only re-emits while the channel
    stays CONNECTED — heartbeats must stop at a disconnect marker inside
    the gap instead of asserting the stale payload persisted through the
    outage."""
    rows = [("X", 0, 7.0), ("X", 95 * NS, 9.0),
            ("Y", 0, 1.0), ("Y", 35 * NS, 2.0)]
    df = spark.createDataFrame(rows, "channel string, t long, v double")
    markers = spark.createDataFrame(
        [("X", 25 * NS, "disconnected"), ("X", 60 * NS, "disconnected")],
        "channel string, t long, type string",
    )
    out = max_update_period(df, 10, markers=markers).collect()
    # X: gap 0->95 with first disconnect at 25 -> beats at 10, 20 only
    assert sorted(r.t // NS for r in out
                  if r.heartbeat and r.channel == "X") == [10, 20]
    # Y has no marker: connection-agnostic behavior unchanged
    assert sorted(r.t // NS for r in out
                  if r.heartbeat and r.channel == "Y") == [10, 20, 30]
    # originals always survive
    assert sorted(r.t // NS for r in out
                  if not r.heartbeat and r.channel == "X") == [0, 95]


def test_max_update_period_stream_replay_equals_batch(spark, tmp_path):
    """VERDICT r10 #4: the streaming-native connection-aware heartbeat
    (samples + T5 marker stream fused through per-channel GroupState)
    replays to EXACTLY the batch max_update_period(df, markers=...)
    result on the same data — including across a restart (second run
    resumes the first's checkpoint mid-series, state carrying the open
    gap and the stopped flag over the boundary)."""
    import os

    from cassandra_pv_archiver_spark.streaming.limits import (
        NS,
        max_update_period,
        max_update_period_stream,
    )

    schema = "channel string, t long, v double"
    mschema = "channel string, t long, type string"
    # X: gap 0->95 with a disconnect at 25 (beats 10, 20 then silence),
    #    reconnect at 95, gap 95->140 fully connected (beats 105..135)
    # Y: no markers -> connection-agnostic (beats through every gap)
    # Z: marker exactly AT a sample t (must be a no-op, batch parity)
    rows = [
        ("X", 0, 7.0), ("X", 95 * NS, 9.0), ("X", 140 * NS, 1.0),
        ("Y", 0, 1.0), ("Y", 35 * NS, 2.0),
        ("Z", 0, 5.0), ("Z", 30 * NS, 6.0),
        ("W", 0, 3.0),                    # final sample, then a marker
    ]
    marks = [
        ("X", 25 * NS, "disconnected"),
        ("X", 60 * NS, "disconnected"),   # second marker in same gap
        ("Z", 30 * NS, "disconnected"),   # exactly at Z's sample t
        ("W", 45 * NS, "disconnected"),   # trailing marker, no closing
                                          # sample: batch emits NOTHING
    ]
    # split MID-GAP so the restart boundary carries open state: first
    # run sees X@0, the marker@25, Y@0, Z@0; the rest arrives after
    cut = 28 * NS
    sdir, mdir = str(tmp_path / "s"), str(tmp_path / "m")
    os.makedirs(sdir), os.makedirs(mdir)

    def _phase(n, lo, hi):
        sp = [r for r in rows if lo <= r[1] < hi]
        mp = [m for m in marks if lo <= m[1] < hi]
        spark.createDataFrame(sp, schema).coalesce(1).write.mode(
            "append").parquet(sdir)
        spark.createDataFrame(mp, mschema).coalesce(1).write.mode(
            "append").parquet(mdir)

    got = []

    def _run():
        out = max_update_period_stream(
            spark.readStream.schema(schema).parquet(sdir),
            10,
            markers=spark.readStream.schema(mschema).parquet(mdir),
        )
        q = (
            out.writeStream.foreachBatch(
                lambda b, i: got.extend(b.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _phase(1, 0, cut)
    _run()
    mid = len(got)
    _phase(2, cut, 10**18)
    _run()  # restart: same checkpoint, fresh query
    assert mid < len(got)  # both runs emitted something

    want = max_update_period(
        spark.createDataFrame(rows, schema),
        10,
        markers=spark.createDataFrame(marks, mschema),
    ).collect()
    k = lambda r: (r.channel, r.t, r.heartbeat)  # noqa: E731
    assert sorted(map(k, got)) == sorted(map(k, want))
    assert {(r.channel, r.t): r.v for r in got} == {
        (r.channel, r.t): r.v for r in want
    }
    # spot-pin the connection semantics themselves
    beats = lambda ch: sorted(  # noqa: E731
        r.t // NS for r in got if r.heartbeat and r.channel == ch
    )
    assert beats("X") == [10, 20, 105, 115, 125, 135]
    assert beats("Y") == [10, 20, 30]
    assert beats("Z") == [10, 20]  # marker at sample t changed nothing
    assert beats("W") == []        # no closing sample -> no beats


def test_max_update_period_stream_int_payload(spark, tmp_path):
    """Round-11 review: the marker union nulls every payload column, so
    int/bool payloads arrive in pandas as float64 — the operator must
    coerce back to the declared types at the emit and state boundaries
    (the canonical sample schema carries severity/status ints) and keep
    genuinely-NULL int payloads as nulls."""
    from cassandra_pv_archiver_spark.streaming.limits import (
        NS,
        max_update_period,
        max_update_period_stream,
    )

    schema = "channel string, t long, v double, severity int, status int"
    rows = [
        ("X", 0, 7.0, 2, 5), ("X", 35 * NS, 9.0, 1, 0),
        ("X", 95 * NS, 1.0, 0, None),  # null int payload survives
    ]
    marks = [("X", 60 * NS, "disconnected")]
    sdir, mdir = str(tmp_path / "s"), str(tmp_path / "m")
    spark.createDataFrame(rows, schema).write.parquet(sdir)
    spark.createDataFrame(
        marks, "channel string, t long, type string"
    ).write.parquet(mdir)

    got = []
    q = (
        max_update_period_stream(
            spark.readStream.schema(schema).parquet(sdir),
            10,
            markers=spark.readStream.schema(
                "channel string, t long, type string"
            ).parquet(mdir),
        )
        .writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    want = max_update_period(
        spark.createDataFrame(rows, schema), 10,
        markers=spark.createDataFrame(
            marks, "channel string, t long, type string"
        ),
    ).collect()
    k = lambda r: (r.channel, r.t, r.heartbeat, r.v, r.severity, r.status)  # noqa: E731
    assert sorted(map(k, got)) == sorted(map(k, want))
    # ints stay ints end-to-end (a float64 leak would crash the state
    # store or change the wire type)
    assert all(
        isinstance(r.severity, int) for r in got if r.severity is not None
    )
    # beats between 35 and the marker at 60 carry the held int payload
    beat = next(r for r in got if r.heartbeat and r.t == 45 * NS)
    assert (beat.severity, beat.status) == (1, 0)


def test_max_update_period_stream_marker_leading_skew_and_exact_types(
    spark, tmp_path
):
    """Round-11 review, three classes in one harness:
    (a) a marker delivered a micro-batch EARLIER than the samples whose
    gap it clips (cross-stream pacing skew without any per-stream
    disorder) must be buffered in state, not dropped;
    (b) bigint payloads past 2^53 must survive exactly (the struct
    payload path — a float64 upcast would silently round);
    (c) a genuine NaN double payload stays NaN, never NULL."""
    import math
    import os

    from cassandra_pv_archiver_spark.streaming.limits import (
        NS,
        max_update_period,
        max_update_period_stream,
    )

    big = (1 << 53) + 1  # not representable in float64
    schema = "channel string, t long, v double, ref bigint"
    mschema = "channel string, t long, type string"
    rows = [
        ("X", 0, 7.0, big), ("X", 95 * NS, float("nan"), None),
        ("X", 140 * NS, 1.0, big + 2),
    ]
    marks = [("X", 25 * NS, "disconnected")]
    sdir, mdir = str(tmp_path / "s"), str(tmp_path / "m")
    os.makedirs(sdir), os.makedirs(mdir)
    got = []

    def _run(ck):
        out = max_update_period_stream(
            spark.readStream.schema(schema).parquet(sdir),
            10,
            markers=spark.readStream.schema(mschema).parquet(mdir),
        )
        q = (
            out.writeStream.foreachBatch(
                lambda b, i: got.extend(b.collect())
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # phase 1: ONLY the marker arrives (its samples lag a whole run)
    spark.createDataFrame(marks, mschema).coalesce(1).write.mode(
        "append").parquet(mdir)
    spark.createDataFrame([], schema).coalesce(1).write.mode(
        "append").parquet(sdir)
    _run(1)
    assert got == []  # a buffered marker emits nothing
    # phase 2: the samples arrive after a restart
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append").parquet(sdir)
    spark.createDataFrame([], mschema).coalesce(1).write.mode(
        "append").parquet(mdir)
    _run(2)

    want = max_update_period(
        spark.createDataFrame(rows, schema), 10,
        markers=spark.createDataFrame(marks, mschema),
    ).collect()

    def k(r):
        return (r.channel, r.t, r.heartbeat)

    assert sorted(map(k, got)) == sorted(map(k, want))
    # (a) the early marker clipped gap 0->95 at 25: beats 10, 20 only
    assert sorted(
        r.t // NS for r in got if r.heartbeat and r.t < 95 * NS
    ) == [10, 20]
    # (b) exact int64 round-trip, including through heartbeat re-emits
    assert {r.ref for r in got if not r.heartbeat} == {big, None, big + 2}
    beats_95_140 = [r for r in got if r.heartbeat and r.t > 95 * NS]
    assert beats_95_140 and all(r.ref is None for r in beats_95_140)
    beat20 = next(r for r in got if r.heartbeat and r.t == 20 * NS)
    assert beat20.ref == big  # not big-1 (the float64 rounding)
    # (c) the NaN sample and its re-emits carry NaN, not NULL
    nan_rows = [r for r in got if r.t >= 95 * NS and r.t <= 135 * NS]
    assert nan_rows and all(
        r.v is not None and math.isnan(r.v) for r in nan_rows
    )


def test_max_update_period_stream_bare_key_t(spark, tmp_path):
    """Round-11 review: a payload-free (key, t) stream must work (the
    empty-payload schema string was malformed)."""
    from cassandra_pv_archiver_spark.streaming.limits import (
        NS,
        max_update_period_stream,
    )

    schema = "channel string, t long"
    sdir = str(tmp_path / "s")
    spark.createDataFrame(
        [("X", 0), ("X", 35 * NS)], schema
    ).write.parquet(sdir)
    got = []
    q = (
        max_update_period_stream(
            spark.readStream.schema(schema).parquet(sdir), 10
        )
        .writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted((r.t // NS, r.heartbeat) for r in got) == [
        (0, False), (10, True), (20, True), (30, True), (35, False),
    ]
