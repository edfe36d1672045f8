"""Span recorder for the traced run, wrapped around the archiver's public
functions from outside the program.

``Tracer.install`` replaces each function in the layer table with a
wrapper, in its defining module and in every module of the package that
imported it by name, and ``Tracer.uninstall`` puts the originals back.
A span carries its name, start, end, parent and the id of the batch or
request it belongs to; spans stay in memory until the run writes them out.
Each span sets its own Spark job group, so every job is attributed to the
innermost span that launched it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import sys
import threading
import time
from dataclasses import dataclass

PKG = "cassandra_pv_archiver_spark"

#: layer -> (module, public functions) wrapped in the traced run
LAYERS = {
    "server": ("server", ["ArchiveApp.samples"]),
    "management": ("management", ["ChannelRegistry.get_channel"]),
    "plans.planner": ("plans.planner", ["plan_samples"]),
    "sources.archive_store": ("sources.archive_store", [
        "ArchiveStore.probe_stats", "ArchiveStore.read_samples",
        "ArchiveStore.write_samples", "ArchiveStore.channel_hwm",
        "ArchiveStore.read_seed_state", "ArchiveStore.write_seed_state",
        "ArchiveStore.levels",
    ]),
    "sources.manifest": ("sources.manifest", [
        "ManifestTable.files", "ManifestTable.commit",
        "ManifestTable.publish_stage", "ManifestTable.gc",
    ]),
    "functions.json_v1": ("functions.json_v1", [
        "raw_double_to_json", "aggregated_to_json",
    ]),
    "streaming.ingest": ("streaming.ingest", ["ingest_batch", "monotonic_guard"]),
    "plans.jobs": ("plans.jobs", ["incremental_decimation"]),
    "operators.decimate": ("operators.decimate", ["decimate", "reaggregate"]),
}

#: spans opened by the benchmark itself: the HTTP round trip seen by the
#: client, and the drain of a streamed response
CLIENT_LAYER = "server.http"
STREAM_LAYER = "server.stream"
JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    fn: str
    op: str
    parent: int | None
    start: float
    end: float | None = None


class Tracer:
    """Records spans while an operation (a batch or a request) is open.
    Calls outside operations, such as set-up and the output checks, are
    not recorded."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: str | None = None
        self._op_root: int | None = None
        self._patched: list[tuple] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, fn: str = "") -> Span:
        stack = self._stack()
        parent = stack[-1].sid if stack else self._op_root
        span = Span(next(self._ids), name, fn, self._op, parent, time.perf_counter())
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        self.spark.sparkContext.setLocalProperty(JOB_GROUP, f"span-{span.sid}")
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        sc = self.spark.sparkContext
        sc.setLocalProperty(JOB_GROUP, f"span-{stack[-1].sid}" if stack else None)

    @contextlib.contextmanager
    def op(self, kind: str, key):
        """One batch or request. A request opens the client-side
        ``server.http`` span as its root; a batch's root is the
        ``ingest_batch`` span."""
        if not self.enabled:
            yield
            return
        self._op = f"{kind}-{key}"
        root = self._open(CLIENT_LAYER) if kind == "request" else None
        self._op_root = root and root.sid
        try:
            yield
        finally:
            if root is not None:
                self._close(root)
            self._op = self._op_root = None

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, layer: str, qual: str, fn):
        tracer = self
        fname = qual.rsplit(".", 1)[-1]

        if qual == "incremental_decimation":
            def name_of(args, kwargs):
                period = kwargs.get("target_period_s", args[1] if len(args) > 1 else "")
                return f"plans.jobs.e{period}"
        else:
            def name_of(args, kwargs):
                return layer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return fn(*args, **kwargs)
            span = tracer._open(name_of(args, kwargs), fname)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return wrapper

    def install(self) -> None:
        """Wrap every function of the layer table, plus the DataFrame
        iterator the samples endpoint streams through."""
        if not self.enabled:
            return
        for layer, (mod, quals) in LAYERS.items():
            module = importlib.import_module(f"{PKG}.{mod}")
            for qual in quals:
                if "." in qual:
                    cls_name, attr = qual.split(".")
                    owner = getattr(module, cls_name)
                    orig = owner.__dict__[attr]
                    self._set(owner, attr, orig, self._wrap(layer, qual, orig))
                    continue
                orig = getattr(module, qual)
                wrapped = self._wrap(layer, qual, orig)
                # modules that imported the function by name hold their
                # own reference to it
                for name, m in list(sys.modules.items()):
                    if (name == PKG or name.startswith(PKG + ".")) and \
                            getattr(m, qual, None) is orig:
                        self._set(m, qual, orig, wrapped)
        self._wrap_samples()

    def _set(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def _wrap_samples(self) -> None:
        """``ArchiveApp.samples`` returns a lazy iterator that the HTTP
        handler drains. The drain is its own span, ``server.stream``; the
        jobs of ``toLocalIterator`` are started from a JVM thread created
        at the call, so the call runs under the stream span's job group."""
        from pyspark.sql.classic.dataframe import DataFrame

        from cassandra_pv_archiver_spark.server import ArchiveApp

        tracer = self
        orig_iter = DataFrame.__dict__["toLocalIterator"]

        @functools.wraps(orig_iter)
        def to_local_iterator(df, *args, **kwargs):
            if tracer._op is None:
                return orig_iter(df, *args, **kwargs)
            stream = Span(next(tracer._ids), STREAM_LAYER, "drain", tracer._op,
                          tracer._op_root, 0.0)
            tracer._local.stream = stream
            sc = tracer.spark.sparkContext
            prev = sc.getLocalProperty(JOB_GROUP)
            sc.setLocalProperty(JOB_GROUP, f"span-{stream.sid}")
            try:
                return orig_iter(df, *args, **kwargs)
            finally:
                sc.setLocalProperty(JOB_GROUP, prev)

        samples = ArchiveApp.__dict__["samples"]  # already span-wrapped

        @functools.wraps(samples)
        def traced_samples(app, *args, **kwargs):
            tracer._local.stream = None
            out = samples(app, *args, **kwargs)
            stream = getattr(tracer._local, "stream", None)
            if stream is None:
                return out
            tracer._local.stream = None
            return tracer._drain(stream, out)

        self._set(DataFrame, "toLocalIterator", orig_iter, to_local_iterator)
        setattr(ArchiveApp, "samples", traced_samples)

    def _drain(self, stream: Span, it):
        stream.start = time.perf_counter()
        with self._lock:
            self.spans.append(stream)
        try:
            yield from it
        finally:
            stream.end = time.perf_counter()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


#: layers reported in the traced run, in the order they are printed
REPORTED = [
    CLIENT_LAYER, "server", STREAM_LAYER, "management", "plans.planner",
    "sources.archive_store", "sources.manifest", "functions.json_v1",
    "streaming.ingest", "plans.jobs.e30", "plans.jobs.e900",
    "plans.jobs.e21600", "operators.decimate",
]


def unit_of(metric: str) -> str:
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("bytes"):
        return "bytes"
    if metric.endswith(("ratio", "coverage")):
        return "ratio"
    return "count"


def spark_jobs(spark) -> tuple[list, dict]:
    """Every job the status store holds as ``(group, stage ids)``, and the
    metrics of every stage attempt summed per stage id."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages: dict[int, list] = {}
    it = store.stageList(None, False, False,
                         sc._gateway.new_array(sc._gateway.jvm.double, 0), None).iterator()
    while it.hasNext():
        s = it.next()
        acc = stages.setdefault(s.stageId(), [0, 0, 0, 0])
        for i, v in enumerate((s.numCompleteTasks(), s.executorRunTime(),
                               s.shuffleReadBytes(), s.shuffleWriteBytes())):
            acc[i] += v
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        g = j.jobGroup()
        ids = j.stageIds().mkString(",")
        jobs.append((g.get() if g.isDefined() else None,
                     [int(x) for x in ids.split(",") if x]))
    return jobs, stages


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def layer_metrics(tracer: Tracer, loop_s: float, batches: int, requests: int) -> dict:
    """Per-layer calls, self time, jobs, executor time and shuffle bytes,
    plus the per-workload Spark totals and the counts named per layer."""
    spans = [s for s in tracer.spans if s.end is not None]
    by_id = {s.sid: s for s in spans}
    own = self_times(spans)
    m: dict[str, float] = {}
    for layer in REPORTED:
        for k in ("calls", "busy_ms", "spark_jobs", "executor_ms", "shuffle_bytes"):
            m[f"{layer}.{k}"] = 0
    for s in spans:
        m[f"{s.name}.calls"] = m.get(f"{s.name}.calls", 0) + 1
        m[f"{s.name}.busy_ms"] = m.get(f"{s.name}.busy_ms", 0) + own[s.sid] * 1e3
    jobs, stages = spark_jobs(tracer.spark)
    seen: set[int] = set()
    totals = [0, 0, 0, 0, 0, 0]  # jobs, stages, tasks, run ms, read, write
    probe_jobs = 0
    for group, stage_ids in sorted(jobs, key=lambda j: min(j[1], default=0)):
        span = by_id.get(int(group[5:])) if group and group.startswith("span-") else None
        if span is None:
            continue
        fresh = [sid for sid in stage_ids if sid not in seen and sid in stages]
        seen.update(fresh)
        run_ms = sum(stages[sid][1] for sid in fresh)
        shuffle = sum(stages[sid][2] + stages[sid][3] for sid in fresh)
        for k, v in (("spark_jobs", 1), ("executor_ms", run_ms), ("shuffle_bytes", shuffle)):
            m[f"{span.name}.{k}"] = m.get(f"{span.name}.{k}", 0) + v
        probe_jobs += span.fn == "probe_stats"
        totals[0] += 1
        totals[1] += len(fresh)
        totals[2] += sum(stages[sid][0] for sid in fresh)
        totals[3] += run_ms
        totals[4] += sum(stages[sid][2] for sid in fresh)
        totals[5] += sum(stages[sid][3] for sid in fresh)
    for k, v in zip(("jobs", "stages", "tasks", "executor_run_ms",
                     "shuffle_read_bytes", "shuffle_write_bytes"), totals):
        m[f"spark.{k}"] = v
    in_batch = [s for s in spans if s.op.startswith("batch")]
    m["sources.archive_store.probe_stats_jobs_per_request"] = (
        probe_jobs / requests if requests else 0)
    m["sources.manifest.reads_per_batch"] = (
        sum(s.fn == "files" for s in in_batch) / batches if batches else 0)
    m["sources.manifest.commits_per_batch"] = (
        sum(s.fn in ("commit", "publish_stage") for s in in_batch) / batches
        if batches else 0)
    m["trace.spans"] = len(spans)
    m["trace.self_time_coverage"] = sum(own.values()) / loop_s if loop_s else 0
    return m
