"""Seeded inputs, store set-up and the timed loops of the archiver benchmark.

Everything the program under test sees is made here from the seed: the
channel history, the live micro-batches and the request lists. Set-up runs
the archiver's own write path (``ArchiveStore.write_samples``, the
incremental cascade, retention), so set-up time moves with the program.
Batches and requests are drawn one at a time from an endless seeded
stream, so the length of a run is set by its deadline alone.
"""

from __future__ import annotations

import http.client
import itertools
import random
import time
from dataclasses import dataclass

NS = 1_000_000_000
HOUR_S = 3_600
DAY_S = 86_400
CASCADE = [30, 900, 21600]
SAMPLE_SCHEMA = "channel string, t long, v double, severity int, status int"
API = "/archive-access/api/1.0/archive/1/channels/{ch}/samples?start={start}&end={end}"

#: live_ingest: channels, history length and rate, micro-batch shape
LIVE_CHANNELS = 200
LIVE_HISTORY_S = 12 * HOUR_S
LIVE_HISTORY_STEP_S = 60
BATCH_S = 60
#: channels whose newest archived samples (two of the previous batch, or
#: the last one of the history) are offered again, as a replaying feed
#: does, so the monotonic guard has rows to drop
REPLAY_CHANNELS = 10
REPLAY_SAMPLES = 2
#: after each batch, one channel it wrote is read back over its last hour,
#: twice: count=1000 selects the raw level, count=100 the 30 s level the
#: cascade has just extended
LIVE_READ_COUNTS = (1000, 100)
#: channels, besides the ones read, whose cascade the output check recomputes
CHECKED_CHANNELS = 8

#: raw_export: channels and their one day of raw history; requests without
#: a count, over one channel, cycle through these spans
EXPORT_CHANNELS = 50
EXPORT_STEP_S = 10
EXPORT_SPANS_S = [h * HOUR_S for h in (6, 12, 18, 24)]


def channel_name(i: int) -> str:
    return f"PV:{i:04d}"


def value_expr(id_col: str, salt: int) -> str:
    """Sample value as exact two-decimal arithmetic on the row id, written
    once for Spark and DuckDB alike so both engines produce the same
    doubles (the decimation operators assume two-decimal inputs)."""
    return f"(CAST((({id_col} * 7919 + {salt}) % 20001) AS DOUBLE) - 10000.0) / 100.0"


@dataclass
class History:
    """A regular grid of samples: channel ``i`` has samples at
    ``base + (k * step + i % step) s`` for ``k`` in ``[0, steps)``."""

    channels: int
    base_ns: int
    step_s: int
    steps: int
    salt: int

    @property
    def rows(self) -> int:
        return self.channels * self.steps

    @property
    def end_ns(self) -> int:
        return self.base_ns + self.steps * self.step_s * NS

    def spark_df(self, spark):
        c, s = self.channels, self.step_s
        return spark.range(self.rows).selectExpr(
            f"concat('PV:', lpad(CAST(id % {c} AS STRING), 4, '0')) AS channel",
            f"{self.base_ns} + ((id div {c}) * {s} + (id % {c}) % {s})"
            f" * {NS} AS t",
            f"{value_expr('id', self.salt)} AS v",
            "CAST(0 AS INT) AS severity",
            "CAST(0 AS INT) AS status",
        )

    def duckdb_sql(self) -> str:
        c, s = self.channels, self.step_s
        return (
            "SELECT 'PV:' || lpad(CAST(id % {c} AS VARCHAR), 4, '0') AS channel,"
            " CAST({b} + ((id // {c}) * {s} + (id % {c}) % {s}) * {ns} AS BIGINT)"
            " AS t, {v} AS v FROM range({n}) r(id)"
        ).format(c=c, s=s, b=self.base_ns, ns=NS, n=self.rows,
                 v=value_expr("id", self.salt))

    def last_row(self, i: int) -> tuple:
        """Channel ``i``'s newest sample, as ``spark_df`` writes it."""
        k = self.steps - 1
        rid = k * self.channels + i
        t = self.base_ns + (k * self.step_s + i % self.step_s) * NS
        v = (float((rid * 7919 + self.salt) % 20001) - 10000.0) / 100.0
        return channel_name(i), t, v, 0, 0


def base_day_ns(rng: random.Random) -> int:
    """A seeded UTC midnight in 2024 (every seed archives another day)."""
    return (19_723 + rng.randrange(360)) * DAY_S * NS


# -- HTTP client ------------------------------------------------------------
@dataclass
class Response:
    path: str
    status: int
    body: bytes
    first_byte_ms: float
    total_ms: float


def http_get(port: int, path: str) -> Response:
    """One closed-loop request: send -> first body byte -> last byte."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        t0 = time.perf_counter()
        conn.request("GET", path)
        resp = conn.getresponse()
        first = resp.read(1)
        t1 = time.perf_counter()
        body = first + resp.read()
        t2 = time.perf_counter()
        return Response(path, resp.status, body, (t1 - t0) * 1e3, (t2 - t0) * 1e3)
    finally:
        conn.close()


def samples_path(channel: str, start: int, end: int, count: int | None) -> str:
    path = API.format(ch=channel, start=start, end=end)
    return path if count is None else f"{path}&count={count}"


def start_server(spark, root: str, channels: int):
    """Registry with every channel on the full cascade, plus the HTTP shim."""
    from cassandra_pv_archiver_spark.management import ChannelConfig, ChannelRegistry
    from cassandra_pv_archiver_spark.server import ArchiveApp, serve
    from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, f"{root}/archive")
    registry = ChannelRegistry(spark, f"{root}/channels")
    levels = {0: 0, **{p: 0 for p in CASCADE}}
    for i in range(channels):
        registry.add_channel(
            ChannelConfig(
                channel_name=channel_name(i),
                channel_data_id=f"pv-{i}",
                decimation_levels=dict(levels),
            )
        )
    srv = serve(ArchiveApp(store, registry))
    return store, srv


def seed_store(spark, store, history: History) -> None:
    """Raw history through ``write_samples``, and each cascade level
    decimated from the one below it and written the same way."""
    from cassandra_pv_archiver_spark.operators.decimate import decimate, reaggregate

    store.write_samples(history.spark_df(spark), level=0)
    source = 0
    for period in CASCADE:
        src = store.read_samples(source)
        dec = decimate(src, period) if source == 0 else reaggregate(src, source, period)
        store.write_samples(dec, level=period)
        source = period


# -- live_ingest --------------------------------------------------------------
@dataclass
class LiveInputs:
    history: History
    checked: list  # channels whose decimated levels are recomputed
    rng: random.Random  # the rest of the seeded stream: the batches


@dataclass
class Batch:
    rows: list  # offered (channel, t, v, severity, status), replays included
    fresh: list  # the offered rows the monotonic guard must keep
    read_channel: str  # the channel read back after the batch


def live_inputs(seed: int) -> LiveInputs:
    rng = random.Random(seed)
    hist = History(
        LIVE_CHANNELS, base_day_ns(rng), LIVE_HISTORY_STEP_S,
        LIVE_HISTORY_S // LIVE_HISTORY_STEP_S, rng.randrange(1 << 20),
    )
    checked = [channel_name(i) for i in rng.sample(range(LIVE_CHANNELS), CHECKED_CHANNELS)]
    return LiveInputs(hist, checked, rng)


def live_batches(inputs: LiveInputs):
    """Endless micro-batches: each carries the next ``BATCH_S`` seconds of
    1 Hz samples of every channel, plus the replayed newest samples of
    ``REPLAY_CHANNELS`` channels."""
    rng = inputs.rng
    tails = {i: [inputs.history.last_row(i)] for i in range(LIVE_CHANNELS)}
    for b in itertools.count():
        t0 = inputs.history.end_ns + b * BATCH_S * NS
        fresh = [
            (
                channel_name(i),
                t0 + s * NS + (i % 1000) * 1000,
                rng.randrange(-100_000, 100_001) / 100.0,
                0,
                0,
            )
            for i in range(LIVE_CHANNELS)
            for s in range(BATCH_S)
        ]
        replay = [r for i in rng.sample(range(LIVE_CHANNELS), REPLAY_CHANNELS)
                  for r in tails[i]]
        rows = replay + fresh
        rng.shuffle(rows)
        yield Batch(rows, fresh, channel_name(rng.randrange(LIVE_CHANNELS)))
        tails = {i: fresh[(i + 1) * BATCH_S - REPLAY_SAMPLES:(i + 1) * BATCH_S]
                 for i in range(LIVE_CHANNELS)}


def live_setup(spark, root: str, inputs: LiveInputs):
    """Seed the history, so the measured batches extend a populated store.
    The first batch's cascade builds each edge's carry state."""
    store, srv = start_server(spark, root, LIVE_CHANNELS)
    seed_store(spark, store, inputs.history)
    return store, srv


def live_loop(spark, store, port: int, inputs: LiveInputs, seconds: float,
              tracer, check_read) -> dict:
    """Closed loop: one micro-batch through ingest and the whole cascade,
    then the reads of the channel it names, until the deadline. The batch
    in flight at the deadline completes.

    ``check_read(channel, start, end, count, response)`` checks each read
    against the store as it stood; its time, and the time to draw the
    batch, are left out of the loop."""
    from cassandra_pv_archiver_spark.streaming.ingest import ingest_batch

    stream = live_batches(inputs)
    batch_s, batches, written, responses = [], [], [], []
    t_start = time.perf_counter()
    paused = 0.0
    while not batches or time.perf_counter() - t_start - paused < seconds:
        t0 = time.perf_counter()
        batch = next(stream)
        frame = spark.createDataFrame(batch.rows, SAMPLE_SCHEMA)
        paused += time.perf_counter() - t0
        b = len(batches)
        with tracer.op("batch", b):
            t0 = time.perf_counter()
            n = ingest_batch(store, frame, cascade_periods=CASCADE)
            batch_s.append(time.perf_counter() - t0)
        batches.append(batch)
        written.append(n)
        hi = max(r[1] for r in batch.fresh)
        for count in LIVE_READ_COUNTS:
            read = (batch.read_channel, hi - HOUR_S * NS, hi, count)
            with tracer.op("request", f"{b}.{count}"):
                resp = http_get(port, samples_path(*read))
            responses.append(resp)
            t0 = time.perf_counter()
            check_read(*read, resp)
            paused += time.perf_counter() - t0
    return {
        "loop_s": time.perf_counter() - t_start - paused,
        "batch_s": batch_s,
        "batches": batches,
        "written": written,
        "responses": responses,
    }


# -- raw_export ---------------------------------------------------------------
@dataclass
class ExportInputs:
    history: History
    rng: random.Random  # the rest of the seeded stream: the requests


def export_inputs(seed: int) -> ExportInputs:
    rng = random.Random(seed)
    hist = History(
        EXPORT_CHANNELS, base_day_ns(rng), EXPORT_STEP_S, DAY_S // EXPORT_STEP_S,
        rng.randrange(1 << 20),
    )
    return ExportInputs(hist, rng)


def export_requests(inputs: ExportInputs):
    """Endless ``(channel, start, end, count)`` requests without a count.
    The span mix repeats in a fixed order; the seed picks channel and
    position."""
    lo, hi = inputs.history.base_ns, inputs.history.end_ns
    for k in itertools.count():
        span = EXPORT_SPANS_S[k % len(EXPORT_SPANS_S)] * NS
        end = hi if span >= hi - lo else inputs.rng.randrange(lo + span, hi)
        yield channel_name(inputs.rng.randrange(EXPORT_CHANNELS)), end - span, end, None


def export_setup(spark, root: str, inputs: ExportInputs):
    """The raw history alone: a request without a count reads no other
    level."""
    store, srv = start_server(spark, root, EXPORT_CHANNELS)
    store.write_samples(inputs.history.spark_df(spark), level=0)
    return store, srv


def export_warmup_path(inputs: ExportInputs) -> str:
    """The set-up request that warms the serving path: the newest 6 h of
    the first channel."""
    hi = inputs.history.end_ns
    return samples_path(channel_name(0), hi - 6 * HOUR_S * NS, hi, None)


def export_loop(port: int, inputs: ExportInputs, seconds: float, tracer) -> dict:
    """Closed loop of requests until the deadline, in whole cycles of the
    span mix, so every run's median weighs the spans alike."""
    requests, responses = [], []
    t_start = time.perf_counter()
    for k, req in enumerate(export_requests(inputs)):
        if k and k % len(EXPORT_SPANS_S) == 0 and time.perf_counter() - t_start >= seconds:
            break
        with tracer.op("request", k):
            responses.append(http_get(port, samples_path(*req)))
        requests.append(req)
    return {"loop_s": time.perf_counter() - t_start, "requests": requests,
            "responses": responses}
