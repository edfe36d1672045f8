"""Archiver benchmark: live ingest through the decimation cascade, and
raw exports over the HTTP shim, each checked against an oracle.

Run from the repository root::

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 5 --trace 0

``--seconds`` is the length of the closed loop; ``BENCHMARK.json`` fixes it
as ``run_seconds``, so runs made with it compare. The operation in flight at
the deadline completes, and the raw_export loop always serves whole cycles of
its span mix. ``--trace 0`` measures the end-to-end metrics; ``--trace 1``
repeats the run with every layer's public functions wrapped in spans and
reports the per-layer metrics instead.

Every metric of the workload is printed as ``name = value unit``. The last
line of standard output is one JSON object ``{"correct", "attempted",
"failed", "metrics"}`` whose metrics are those every workload has (the
``end_to_end`` list of ``BENCHMARK.json``) or, traced, the per-layer ones.
The full record, spans included, is written under ``.perfbench_out/``. The
exit code is 0 only when every output check passed.

Spark runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process
may use), with one client thread driving a closed loop.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("live_ingest", "raw_export")

#: every end-to-end metric of each workload, name -> unit
METRICS = {
    "live_ingest": {
        "setup_s": "s",
        "ingest_samples_per_s": "samples/s",
        "batch_p50_s": "s",
        "batch_tail_s": "s",
        "query_p50_ms": "ms",
        "query_tail_ms": "ms",
        "failed_ratio": "ratio",
        "peak_rss_mb": "MB",
        "stored_bytes_per_sample": "bytes",
    },
    "raw_export": {
        "setup_s": "s",
        "query_p50_ms": "ms",
        "query_tail_ms": "ms",
        "first_byte_p50_ms": "ms",
        "export_samples_per_s": "samples/s",
        "failed_ratio": "ratio",
        "peak_rss_mb": "MB",
        "stored_bytes_per_sample": "bytes",
    },
}
#: the result line of an untraced run, and the ``end_to_end`` list of
#: BENCHMARK.json: the metrics every workload has that never read zero and
#: whose spread over unpaired runs stays inside a bound. Latency and memory
#: follow the host's load, which moved query_p50_ms by up to 0.43 of its
#: median (quartile distance over runs of different seeds), so they are
#: compared in alternating pairs of runs instead.
END_TO_END = ("setup_s", "stored_bytes_per_sample")


class RunError(Exception):
    """The run cannot produce a measurement (no result is printed)."""


def tail(values: list[float]):
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``, or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10
    return 100.0 * k / n, sorted(values)[k - 1]


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RunError(f"no VmHWM for process {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def source_hash() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "cassandra_pv_archiver_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def commit_hash():
    """HEAD of the checkout, when it is a git work tree of its own."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def isolate(spark) -> None:
    """Start clean: no session-scoped view, no invocation persist and no
    cached plan may carry work from outside this run."""
    from cassandra_pv_archiver_spark import cache_scope

    # the session-level pair tables exist only once the catalog is loaded
    catalog_data = sys.modules.get("cassandra_pv_archiver_spark.catalog_data")
    if catalog_data is not None:
        for df in catalog_data._PAIR_CACHE.values():
            for d in df if isinstance(df, tuple) else (df,):
                d.unpersist(blocking=True)
        catalog_data._PAIR_CACHE.clear()
    cache_scope.drain()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RunError("Spark's cache manager holds data at run start")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    import workloads as wl
    from checks import StoreOracle, check_cascade, check_live_raw, check_response
    from spans import Tracer, layer_metrics

    from cassandra_pv_archiver_spark.session import get_spark
    from cassandra_pv_archiver_spark.sources.manifest import ManifestTable

    live = args.workload == "live_ingest"
    t0 = time.perf_counter()
    phases = {}
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    srv = None
    try:
        isolate(spark)
        phases["session_s"] = time.perf_counter() - t0
        store_root = f"{work}/store"
        if live:
            inputs = wl.live_inputs(args.seed)
            store, srv = wl.live_setup(spark, store_root, inputs)
            sizes = {"channels": wl.LIVE_CHANNELS, "history_rows": inputs.history.rows,
                     "history_step_s": inputs.history.step_s,
                     "batch_rows": wl.LIVE_CHANNELS * wl.BATCH_S,
                     "replay_channels": wl.REPLAY_CHANNELS,
                     "read_counts": wl.LIVE_READ_COUNTS, "cascade": wl.CASCADE}
        else:
            inputs = wl.export_inputs(args.seed)
            store, srv = wl.export_setup(spark, store_root, inputs)
            sizes = {"channels": wl.EXPORT_CHANNELS, "history_rows": inputs.history.rows,
                     "history_step_s": inputs.history.step_s, "spans_s": wl.EXPORT_SPANS_S}
        phases["store_s"] = time.perf_counter() - t0 - phases["session_s"]
        port = srv.server_address[1]
        if not live and wl.http_get(port, wl.export_warmup_path(inputs)).status != 200:
            raise RunError("warm-up request failed")
        setup_s = time.perf_counter() - t0
        phases["warmup_s"] = setup_s - phases["store_s"] - phases["session_s"]

        # output checks run outside the timed windows; a live read is
        # checked against the store as it stood right after the read
        oracle = StoreOracle(spark, f"{store_root}/archive")
        failures: list[str] = []
        failed = 0

        def check_read(ch, start, end, count, resp):
            nonlocal failed
            oracle.refresh()
            bad = check_response(oracle, resp, ch, start, end, count)
            failures.extend(bad)
            failed += bool(bad)

        tracer = Tracer(spark, args.trace == 1)
        tracer.install()
        try:
            if live:
                loop = wl.live_loop(spark, store, port, inputs, args.seconds, tracer,
                                    check_read)
            else:
                loop = wl.export_loop(port, inputs, args.seconds, tracer)
        finally:
            tracer.uninstall()
        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        stored = dir_bytes(f"{store_root}/archive")

        responses = loop["responses"]
        batches = loop.get("batches", [])
        t_check = time.perf_counter()
        try:
            oracle.refresh()
            if live:
                bad = [i for i, (n, b) in enumerate(zip(loop["written"], batches))
                       if n != len(b.fresh)]
                failures += [f"batch {i} wrote {loop['written'][i]} rows, expected "
                             f"{len(batches[i].fresh)}" for i in bad]
                whole = check_live_raw(oracle, inputs.history, [b.fresh for b in batches])
                checked = sorted(set(inputs.checked) | {b.read_channel for b in batches})
                whole += check_cascade(spark, f"{store_root}/archive", checked)
                failures += whole
                failed += len(batches) if whole else len(bad)
            else:
                for resp, req in zip(responses, loop["requests"]):
                    bad_resp = check_response(oracle, resp, *req)
                    failures += bad_resp
                    failed += bool(bad_resp)
        finally:
            oracle.close()
        phases["checks_s"] = time.perf_counter() - t_check

        files = {
            str(level): len(ManifestTable(
                spark, f"{store_root}/archive/samples/decimation_level={level}").files() or [])
            for level in [0] + wl.CASCADE
        }
        attempted = len(batches) + len(responses)
        query_ms = [r.total_ms for r in responses]
        values = {
            "setup_s": setup_s,
            "query_p50_ms": statistics.median(query_ms),
            "query_tail_ms": tail(query_ms),
            "failed_ratio": failed / attempted,
            "peak_rss_mb": peak_rss,
            "stored_bytes_per_sample": stored / (
                inputs.history.rows + sum(len(b.fresh) for b in batches)),
        }
        if live:
            written = sum(loop["written"])
            values.update({
                "ingest_samples_per_s": written / loop["loop_s"],
                "batch_p50_s": statistics.median(loop["batch_s"]),
                "batch_tail_s": tail(loop["batch_s"]),
            })
        else:
            delivered = sum(len(json.loads(r.body)) for r in responses if r.status == 200)
            values["first_byte_p50_ms"] = statistics.median(r.first_byte_ms for r in responses)
            values["export_samples_per_s"] = delivered / (sum(query_ms) / 1e3)
        per_layer = {}
        if args.trace == 1:
            per_layer = layer_metrics(tracer, loop["loop_s"], len(batches), len(responses))
            offered = sum(len(b.rows) for b in batches)
            per_layer["streaming.ingest.kept_ratio"] = written / offered if live else 0
            for level, n in files.items():
                per_layer[f"sources.manifest.files_level_{level}"] = n
        return {
            "values": values, "per_layer": per_layer, "failures": failures,
            "attempted": attempted, "failed": failed, "sizes": sizes, "phases": phases,
            "files_per_level": files, "loop_s": loop["loop_s"],
            "batches": len(batches), "requests": len(responses),
            "batch_s": loop.get("batch_s", []), "query_ms": query_ms,
            "first_byte_ms": [r.first_byte_ms for r in responses],
            "spans": [vars(s) for s in tracer.spans],
        }
    finally:
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        stop_spark(spark)


def show(name: str, value, unit: str) -> str:
    """One ``name = value unit`` line; a tail names its percentile."""
    if isinstance(value, tuple):
        pct, value = value
        name = f"{name}[p{pct:.1f}]"
    elif value is None:
        return f"{name} = n/a (fewer than 11 samples) {unit}"
    return f"{name} = {value} {unit}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "cassandra_pv_archiver_spark")):
        print("perfbench: run from the repository root (no cassandra_pv_archiver_spark/"
              " package here)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark's shuffle files and both runtimes' temp files in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    try:
        try:
            res = run(args, work)
        except RunError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "commit": commit_hash(), "source_hash": source_hash(), **res,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} nproc={cpus} "
          f"SPARK_GRAFT_CPUS={record['spark_graft_cpus']} pyspark={record['pyspark']} "
          f"commit={record['commit']} source={record['source_hash']}")
    print(f"# sizes {json.dumps(res['sizes'])}")
    print(f"# phases {json.dumps(res['phases'])}")
    print(f"# {res['batches']} batches, {res['requests']} requests, attempted "
          f"{res['attempted']}, failed {res['failed']}, files per level "
          f"{res['files_per_level']}")
    for name, unit in METRICS[args.workload].items():
        print(show(name, res["values"][name], unit))
    for f in res["failures"][:20]:
        print(f"CHECK FAILED: {f}")
    if args.trace == 1:
        from spans import unit_of

        metrics = {k: (v, unit_of(k)) for k, v in res["per_layer"].items()
                   if k != "trace.spans"}
        for name, (value, unit) in metrics.items():
            print(show(name, value, unit))
        base = f"{stem}-trace0.json"
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)
            if untraced.get("source_hash") == record["source_hash"]:
                for name in END_TO_END:
                    print(show(f"trace_overhead.{name}", res["values"][name]
                               - untraced["values"][name], METRICS[args.workload][name]))
    else:
        metrics = {k: (res["values"][k], METRICS[args.workload][k]) for k in END_TO_END}
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not res["failures"] else 1


if __name__ == "__main__":
    sys.exit(main())
