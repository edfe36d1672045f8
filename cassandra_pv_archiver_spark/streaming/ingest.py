"""Streaming ingestion into the archive store (S4 + F5 + write path S5).

Reference pipeline (`SampleListener` -> `TimeBoundedQueue` ->
`ArchivingServiceInternalImpl` -> monotonicity filter -> bucket write,
SURVEY.md §3.2). Spark formulation: ``readStream`` (any replayable source —
file source in tests, Kafka in production) -> ``foreachBatch`` which applies
the F5 monotonicity guard against the store's per-channel high-water marks
and appends via :class:`ArchiveStore`. Exactly-once: the file/Kafka source
is replayable and the sink is idempotent under the guard alone — each
level commits a batch's rows and its marks in ONE manifest version, so a
replayed batch's rows are all ``t <= hwm`` and get dropped (the Structured
Streaming recipe, and the Spark analog of the reference's T2
storage/stream reconciliation).

Optionally runs incremental decimation for a cascade of levels after each
batch — the reference's continuous materialization (§3.3) expressed as
per-micro-batch catch-up jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.jobs import EdgeLeaseHeld, incremental_decimation
from ..sources.archive_store import ArchiveStore, hwm_frame


def monotonic_guard(batch: DataFrame, hwm: DataFrame | None) -> DataFrame:
    """F5 (`ArchivedChannelDecimationLevel.java:398-425`): drop any sample
    whose timestamp is not strictly greater than everything already written
    for its channel, and dedupe inside the batch (first occurrence wins,
    mirroring arrival order). ``hwm`` is the level's ``(channel, hwm)``
    marks, committed with the rows they describe — so this filter alone
    makes a replayed write a no-op.

    Null channel/t rows are dropped HERE, the shared chokepoint (round-10
    review): a null key passes the guard forever (a null hwm passes
    ``isNull()``), so every replay would re-append it, and a first-row
    null t would leave its channel without a usable mark. The reference
    rejects samples without a valid timestamp at the listener the same
    way."""
    batch = batch.filter(
        F.col("channel").isNotNull() & F.col("t").isNotNull()
    )
    w = Window.partitionBy("channel", "t").orderBy(F.col("_seq"))
    batch = (
        batch.withColumn("_seq", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_seq")
    )
    if hwm is not None:
        batch = (
            batch.join(F.broadcast(hwm), "channel", "left")
            .filter(F.col("hwm").isNull() | (F.col("t") > F.col("hwm")))
            .drop("hwm")
        )
    return batch


def ingest_batch(
    store: ArchiveStore,
    batch: DataFrame,
    cascade_periods: list[int] | None = None,
) -> int:
    """One micro-batch: guard -> append -> cascade catch-up. Returns rows
    written.

    Exactly-once is the guard alone: ``write_samples`` publishes the
    surviving rows and their per-channel maxima in one level-0 manifest
    version, so after any crash the marks describe exactly the rows that
    landed, and a replay of the batch is dropped by the guard."""
    hwm = store.channel_hwm(0)
    n = store.write_samples(
        monotonic_guard(
            batch, None if hwm is None else hwm_frame(store.spark, hwm)
        ),
        level=0,
    )
    # the cascade runs even for an empty/fully-deduped batch ON PURPOSE:
    # a crash after the level-0 write but before the cascade leaves the
    # decimated levels behind, and the replayed batch (n == 0) is the
    # first chance to catch them up — skipping it would delay T3
    # recovery until the next data arrival
    for period in cascade_periods or []:
        try:
            incremental_decimation(store, period)
        except EdgeLeaseHeld:
            # another process (an operator backfill) holds this edge:
            # skip it for THIS batch instead of killing the ingest
            # stream — the level-0 write above already landed, and the
            # next batch's cascade catches the level up
            # (incremental_decimation is a pure catch-up, per its own
            # contract). Round-11 review: without this the cross-process
            # lease turned a busy auxiliary level into a full archiving
            # outage.
            continue
    return n


def start_file_ingest(
    spark,
    source_dir: str,
    schema,
    store: ArchiveStore,
    checkpoint_dir: str,
    cascade_periods: list[int] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    on_batch=None,
):
    """File-source ingestion stream (the test/demo stand-in for a live CA
    monitor feed): builds the file ``readStream`` and hands it to the
    source-agnostic :func:`start_ingest`.

    ``on_batch(batch_id)`` runs AFTER the store write inside each
    micro-batch — raising from it simulates a crash in the window between
    the store commit and the checkpoint commit (the batch will replay on
    restart; the monotonic guard makes the replay a no-op, which is the
    exactly-once story tests/test_streaming.py pins)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    return start_ingest(
        stream,
        store,
        checkpoint_dir,
        cascade_periods=cascade_periods,
        available_now=available_now,
        on_batch=on_batch,
    )


def start_ingest(
    stream: DataFrame,
    store: ArchiveStore,
    checkpoint_dir: str,
    cascade_periods: list[int] | None = None,
    available_now: bool = True,
    on_batch=None,
    processing_time: str | None = None,
):
    """Source-agnostic ingestion: ANY streaming DataFrame with the sample
    schema (channel, t, v, ...) drains through the same guarded
    ``foreachBatch`` sink — file source in tests, rate source for load/
    soak runs, Kafka for a production message bus (the reference's
    `SampleListener.java` role is played by whatever produced the
    stream). Exactly-once needs only a REPLAYABLE source (file/Kafka/
    rate all are): every level commits its rows and marks together, so
    the monotonic guard alone makes replays no-ops regardless of where
    the rows came from."""
    def _sink(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(store, batch, cascade_periods)
        if on_batch is not None:
            on_batch(batch_id)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def rate_to_samples(
    rate: DataFrame,
    n_channels: int,
    base_ns: int = 0,
    period_ns: int = 1_000_000_000,
) -> DataFrame:
    """Map the built-in rate/rate-micro-batch source's (timestamp, value)
    rows onto the sample schema — the live-feed simulator for load and
    soak testing (the reference ships a comparable CA simulator for its
    integration tests). Pure column transform, so the same function is
    unit-testable on a batch DataFrame.

    Deterministic from ``value`` alone: row ``value`` becomes channel
    ``PV:<value % n_channels>`` at ``t = base_ns + (value div n_channels)
    * period_ns`` — strictly monotonic per channel (so nothing trips the
    F5 guard) with a smooth sine-ish signal. Wall-clock ``timestamp`` is
    deliberately unused: replays regenerate identical rows."""
    step = F.col("value") % n_channels
    seq = F.expr(f"value div {n_channels}")  # exact long arithmetic
    return rate.select(
        F.concat(F.lit("PV:"), step.cast("string")).alias("channel"),
        (F.lit(base_ns) + seq * F.lit(period_ns)).alias("t"),
        (
            F.sin(F.col("value").cast("double") / 100.0)
            + step.cast("double")
        ).alias("v"),
        F.lit(0).alias("severity"),
        F.lit(0).alias("status"),
    )


def start_rate_ingest(
    spark,
    store: ArchiveStore,
    checkpoint_dir: str,
    rows_per_batch: int = 1000,
    n_channels: int = 10,
    base_ns: int = 0,
    period_ns: int = 1_000_000_000,
    cascade_periods: list[int] | None = None,
    on_batch=None,
    processing_time: str | None = "1 second",
):
    """Rate-source ingestion (SURVEY §1.5 "rate/Kafka/file source"): the
    deterministic ``rate-micro-batch`` source generates ``rows_per_batch``
    rows per trigger with replay-stable ``value``s, mapped onto samples by
    :func:`rate_to_samples`. Continuous trigger (no availableNow — the
    source is unbounded); callers stop the query when done. Stopping
    interrupts any in-flight batch, possibly between the level-0 write
    and the cascade — run ``incremental_decimation`` once after stop (or
    just restart the stream) to catch the decimated levels up, exactly
    the T3 crash-recovery contract."""
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    stream = rate_to_samples(rate, n_channels, base_ns, period_ns)
    return start_ingest(
        stream,
        store,
        checkpoint_dir,
        cascade_periods=cascade_periods,
        available_now=False,
        on_batch=on_batch,
        processing_time=processing_time,
    )


#: sample-event JSON schema on the message bus (one event per CA monitor
#: update, the `SampleListener.java` payload shape)
KAFKA_VALUE_SCHEMA = (
    "channel string, t long, v double, severity int, status int"
)


def parse_kafka_samples(df: DataFrame) -> DataFrame:
    """Decode Kafka records (binary ``value`` holding one JSON sample
    event) into the sample schema. Pure column transform — unit-testable
    on a batch DataFrame with the same (value binary) column; malformed
    events produce NULL channel/t and are dropped rather than poisoning
    the stream (dead-lettering can tee them before this filter)."""
    parsed = df.select(
        F.from_json(F.col("value").cast("string"), KAFKA_VALUE_SCHEMA).alias("s")
    ).select("s.*")
    return parsed.filter(
        F.col("channel").isNotNull() & F.col("t").isNotNull()
    )


def ingest_kafka_records(
    kafka_records: DataFrame,
    store: ArchiveStore,
    checkpoint_dir: str,
    cascade_periods: list[int] | None = None,
    available_now: bool = False,
    on_batch=None,
):
    """Everything downstream of the Kafka connector's ``.load()``: value
    decode (:func:`parse_kafka_samples`, malformed events dead-lettered
    by NULL-drop) + the shared archive sink/cascade. The broker stand-in
    test drives THIS with a Kafka-SHAPED file stream (identical columns:
    key/value/topic/partition/offset/timestamp), so the only line of the
    production path it cannot attest is the connector binding itself —
    which the broker-gated test covers when one is available."""
    stream = parse_kafka_samples(kafka_records)
    return start_ingest(
        stream,
        store,
        checkpoint_dir,
        cascade_periods=cascade_periods,
        available_now=available_now,
        on_batch=on_batch,
    )


def start_kafka_ingest(
    spark,
    store: ArchiveStore,
    checkpoint_dir: str,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    cascade_periods: list[int] | None = None,
    on_batch=None,
):
    """Kafka ingestion (production path for the reference's
    `SampleListener` feed): requires the spark-sql-kafka connector on the
    classpath (not bundled in this sandbox — the stream construction
    raises Spark's own AnalysisException if absent; everything after
    ``.load()`` is :func:`ingest_kafka_records`, pinned by the
    stand-in cascade-parity test)."""
    kafka = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return ingest_kafka_records(
        kafka,
        store,
        checkpoint_dir,
        cascade_periods=cascade_periods,
        available_now=False,
        on_batch=on_batch,
    )
