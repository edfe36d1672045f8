"""Query catalog: every implemented operator from SURVEY.md §2 as a
(name -> Spark callable) plus, where SQL-expressible, a DuckDB oracle that
computes the identical result on the same parquet inputs.

Contract (driver): each Spark callable takes ``(spark, sf_dir)`` and returns
a DataFrame; the oracle SQL runs on DuckDB views named after the parquet
tables. Column names and float rounding are aligned on both sides because
the driver hashes values after sorting columns by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import asof, storage
from .operators.decimate import (
    NS,
    big_to_double,
    big_to_double_duck,
    decimate,
    pick_first,
    reaggregate,
)
from .operators.decimate_mixed import decimate_mixed
from .params import DAY_NS, HI, LO, MID, PERIOD_1H, PERIOD_6H
from .plans.planner import plan_samples
from .sources.testdata import (
    MIXED_SAMPLES_CTE,
    SAMPLES_CTE,
    STRING_SAMPLES_CTE,
    TYPED_SAMPLES_CTE,
    load_events,
    load_mixed_samples,
    load_samples,
    load_string_samples,
    load_table,
)

# ---------------------------------------------------------------------------
# oracle SQL builders (mirror operators/decimate.py formulas exactly)
# ---------------------------------------------------------------------------


def _dec_ctes(period_s: int, src: str = "samples", out: str = "dec") -> str:
    """CTE chain computing decimate(src, period_s) -> table ``out``.

    Same math as :func:`operators.decimate.decimate` (A1/A2/A3 + W1/W2 via
    interval splitting); severity pick via row_number because DuckDB's
    arg_max cannot take a struct ordering key.
    """
    p = period_s * NS
    return f"""
{out}_iv AS (
  SELECT channel, t, v, severity, status,
         lead(t) OVER (PARTITION BY channel ORDER BY t) AS t_next,
         max(t) OVER (PARTITION BY channel) AS hwm
  FROM {src}
),
{out}_iv2 AS (
  SELECT channel, t, v, severity, status, hwm, coalesce(t_next, hwm) AS t_end
  FROM {out}_iv WHERE coalesce(t_next, hwm) > t
),
{out}_ex AS (
  SELECT {out}_iv2.*, g.win,
         least(t_end, (g.win+1)*{p}) - greatest(t, g.win*{p}) AS ws_ns,
         CAST(floor(v * 100 + 0.5) AS BIGINT) AS vi
  FROM {out}_iv2, LATERAL (
    SELECT unnest(generate_series(t // {p}, (t_end-1) // {p})) AS win) g
  WHERE (g.win+1)*{p} <= hwm
),
{out}_agg AS (
  SELECT channel, win,
         md AS mean,
         sqrt(greatest({big_to_double_duck("swv2")} / CAST(sw AS DOUBLE) / 10000.0
                       - md * md, 0)) AS std,
         vmin, vmax,
         CAST(sw AS DOUBLE) / 1e9 / {period_s}.0 AS covered_fraction,
         n_samples
  FROM (
    SELECT *, {big_to_double_duck("swv")} / CAST(sw AS DOUBLE) / 100.0 AS md FROM (
      SELECT channel, win,
             sum(ws_ns) AS sw,
             sum(CAST(ws_ns AS HUGEINT) * vi) AS swv,
             sum(CAST(ws_ns AS HUGEINT) * vi * vi) AS swv2,
             min(v) AS vmin, max(v) AS vmax, count(*) AS n_samples
      FROM {out}_ex GROUP BY channel, win))
),
{out}_sev AS (
  SELECT channel, win, severity, status FROM (
    SELECT channel, win, severity, status,
           row_number() OVER (PARTITION BY channel, win ORDER BY severity DESC, t ASC) AS rn
    FROM {out}_ex) WHERE rn = 1
),
{out} AS (
  SELECT a.channel, win * {p} AS t, mean, std, vmin, vmax, covered_fraction,
         s.severity, s.status, n_samples, 'Interpolated' AS quality
  FROM {out}_agg a JOIN {out}_sev s USING (channel, win)
)"""


def _reagg_ctes(target_s: int, src: str = "dec", out: str = "reagg") -> str:
    """CTE chain computing reaggregate(src, ., target_s) -> table ``out``
    (A4: weight = hold-forward validity × covered_fraction; variance via
    Σw·(std²+mean²), `AggregatedScalarDoubleAggregator.java:62-109`)."""
    p = target_s * NS
    return f"""
{out}_iv AS (
  SELECT channel, t, mean, std, vmin, vmax, covered_fraction, severity, status, n_samples,
         lead(t) OVER (PARTITION BY channel ORDER BY t) AS t_next,
         max(t) OVER (PARTITION BY channel) AS hwm
  FROM {src}
),
{out}_iv2 AS (
  SELECT *, coalesce(t_next, hwm) AS t_end FROM {out}_iv
  WHERE coalesce(t_next, hwm) > t
),
{out}_ex AS (
  SELECT {out}_iv2.*, g.win,
         CAST(least(t_end, (g.win+1)*{p}) - greatest(t, g.win*{p}) AS HUGEINT)
           * CAST(floor(covered_fraction * 10000 + 0.5) AS BIGINT) AS w,
         CAST(floor(mean * 10000 + 0.5) AS BIGINT) AS mi,
         CAST(floor(std * 10000 + 0.5) AS BIGINT) AS si
  FROM {out}_iv2, LATERAL (
    SELECT unnest(generate_series(t // {p}, (t_end-1) // {p})) AS win) g
  WHERE (g.win+1)*{p} <= hwm
),
{out}_agg AS (
  SELECT channel, win,
         md AS mean,
         sqrt(greatest({big_to_double_duck("swm2")} / {big_to_double_duck("sw")} / 100000000.0
                       - md * md, 0)) AS std,
         vmin, vmax,
         {big_to_double_duck("sw")} / 1e9 / 10000.0 / {target_s}.0 AS covered_fraction,
         n_samples
  FROM (
    SELECT *, {big_to_double_duck("swm")} / {big_to_double_duck("sw")} / 10000.0 AS md FROM (
      SELECT channel, win,
             sum(w) AS sw,
             sum(w * mi) AS swm,
             sum(w * (si * si + mi * mi)) AS swm2,
             min(vmin) AS vmin, max(vmax) AS vmax,
             CAST(sum(n_samples) AS BIGINT) AS n_samples
      FROM {out}_ex GROUP BY channel, win))
),
{out}_sev AS (
  SELECT channel, win, severity, status FROM (
    SELECT channel, win, severity, status,
           row_number() OVER (PARTITION BY channel, win ORDER BY severity DESC, t ASC) AS rn
    FROM {out}_ex) WHERE rn = 1
),
{out} AS (
  SELECT a.channel, win * {p} AS t, mean, std, vmin, vmax, covered_fraction,
         s.severity, s.status, n_samples, 'Interpolated' AS quality
  FROM {out}_agg a JOIN {out}_sev s USING (channel, win)
)"""


# ---------------------------------------------------------------------------
# archiver queries (SURVEY.md §2.1–§2.7)
# ---------------------------------------------------------------------------



def _scratch_dir(prefix: str) -> str:
    """mkdtemp + atexit rmtree: scratch stores built by driver-checked
    queries hold a full copy of the raw slice; without cleanup every
    correctness/bench run leaked one per query (ADVICE r2). The dir must
    outlive the RETURNED lazy DataFrame (the driver hashes it after this
    function returns), so cleanup is process-exit, not scope-exit."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


#: (applicationId, sf_dir) -> root of the shared fragmented base store.
_STORE_FIXTURE_CACHE: dict[tuple, str] = {}


def _fragmented_store_root(spark: SparkSession, sf_dir: str) -> str:
    """Session-shared store fixture: the full raw slice written as TWO
    interleaved appends (every date partition fragmented, manifest
    versions [append1, append2]). Built once per (session, sf); the four
    store-mechanism queries that used to each rebuild their own copy
    (compaction x2, retention, time travel) now take a driver-side file
    CLONE of this one (:func:`_clone_store`) — data files are immutable
    and manifest paths are relative, so a copy IS an equivalent store.
    Read-only queries (missing_level_empty) use it in place. This keeps
    the driver's 50-query correctness budget falling round over round
    (VERDICT r3 #8) without weakening any oracle: each query still
    exercises its own mutation on its own copy."""
    key = (spark.sparkContext.applicationId, sf_dir)
    root = _STORE_FIXTURE_CACHE.get(key)
    if root is None:
        from .sources.archive_store import ArchiveStore

        root = _scratch_dir("pvarch_base_")
        store = ArchiveStore(spark, root + "/archive")
        raw = load_samples(spark, sf_dir).select(
            "channel", "t", "v", "severity", "status"
        )
        store.write_samples(
            raw.filter(F.expr("pmod(t div 1000, 2) = 0")), level=0
        )
        store.write_samples(
            raw.filter(F.expr("pmod(t div 1000, 2) = 1")), level=0
        )
        _STORE_FIXTURE_CACHE[key] = root
    return root


def _clone_store(spark: SparkSession, sf_dir: str, keep_versions: int = 2):
    """Mutable copy of the shared base store (local-FS copytree — the
    fixtures live under mkdtemp by construction; a real deployment never
    clones stores, this is correctness-gate economics only)."""
    import shutil

    from .sources.archive_store import ArchiveStore

    src = _fragmented_store_root(spark, sf_dir)
    dst = _scratch_dir("pvarch_clone_")
    shutil.copytree(src + "/archive", dst + "/archive")
    return ArchiveStore(spark, dst + "/archive", keep_versions=keep_versions)


def q_raw_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: time-ordered bucket-range scan for one channel
    (`ChannelAccessDatabaseAccess.java:283-311`); pushdown-checked."""
    s = load_samples(spark, sf_dir, channels=["PV:7"], lo_ns=LO, hi_ns=HI)
    return (
        s.filter((F.col("channel") == "PV:7") & F.col("t").between(LO, HI))
        .select("channel", "t", "v", "severity", "status")
        .orderBy("t")
    )


SQL_RAW_SCAN = f"""
WITH {SAMPLES_CTE}
SELECT channel, t, v, severity, status FROM samples
WHERE channel = 'PV:7' AND t BETWEEN {LO} AND {HI}
ORDER BY t
"""


def q_raw_latest_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: newest-first probe, 3 most recent samples at/before MID per
    channel (`ChannelAccessDatabaseAccess.java:328-351`)."""
    s = load_samples(spark, sf_dir).filter(F.col("t") <= MID)
    w = Window.partitionBy("channel").orderBy(F.desc("t"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("channel", "t", "v", "rn")
        .orderBy("channel", "rn")
    )


SQL_RAW_LATEST_N = f"""
WITH {SAMPLES_CTE}
SELECT channel, t, v, rn FROM (
  SELECT channel, t, v,
         row_number() OVER (PARTITION BY channel ORDER BY t DESC) AS rn
  FROM samples WHERE t <= {MID})
WHERE rn <= 3 ORDER BY channel, rn
"""


def q_asof_before(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: per channel, latest sample with t <= MID
    (`ArchiveAccessServiceImpl.firstBucketFindFirstSample:239-316`)."""
    s = load_samples(spark, sf_dir).select("channel", "t", "v", "severity", "status")
    return asof.asof_before(s, MID).orderBy("channel")


SQL_ASOF_BEFORE = f"""
WITH {SAMPLES_CTE}
SELECT channel, t, v, severity, status FROM (
  SELECT channel, t, v, severity, status,
         row_number() OVER (PARTITION BY channel ORDER BY t DESC) AS rn
  FROM samples WHERE t <= {MID})
WHERE rn = 1 ORDER BY channel
"""


def q_asof_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: per channel, earliest sample with t >= MID
    (`ArchiveAccessServiceImpl.lastBucketFindLastSample:514-598`)."""
    s = load_samples(spark, sf_dir).select("channel", "t", "v", "severity", "status")
    return asof.asof_after(s, MID).orderBy("channel")


SQL_ASOF_AFTER = f"""
WITH {SAMPLES_CTE}
SELECT channel, t, v, severity, status FROM (
  SELECT channel, t, v, severity, status,
         row_number() OVER (PARTITION BY channel ORDER BY t ASC) AS rn
  FROM samples WHERE t >= {MID})
WHERE rn = 1 ORDER BY channel
"""


_ALIGN_BASE = [f"PV:{i}" for i in range(10)]
_ALIGN_REF = [f"PV:{i}" for i in range(10, 20)]


def q_asof_pair_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise as-of alignment: PV:(i+10)'s value aligned onto every
    PV:i sample timestamp (latest at-or-before) — the correlation-plot
    primitive the probe operators (J1/J2) generalize to whole series.
    One union-merge window per channel, never a per-row probe join; the
    oracle is DuckDB's native ASOF JOIN."""
    base = load_samples(spark, sf_dir, channels=_ALIGN_BASE)
    ref = load_samples(spark, sf_dir, channels=_ALIGN_REF).withColumn(
        "channel",
        F.concat(
            F.lit("PV:"),
            (F.expr("CAST(substr(channel, 4) AS BIGINT)") - 10).cast("string"),
        ),
    )
    return asof.asof_align(base, ref).orderBy("channel", "t")


_ALIGN_BASE_SQL = ", ".join(f"'{c}'" for c in _ALIGN_BASE)
_ALIGN_REF_SQL = ", ".join(f"'{c}'" for c in _ALIGN_REF)

SQL_ASOF_PAIR_ALIGN = f"""
WITH {SAMPLES_CTE},
base AS (
  SELECT channel, t, v FROM samples WHERE channel IN ({_ALIGN_BASE_SQL})
),
ref AS (
  SELECT 'PV:' || CAST(CAST(substr(channel, 4) AS BIGINT) - 10 AS VARCHAR)
           AS channel,
         t, v
  FROM samples WHERE channel IN ({_ALIGN_REF_SQL})
)
SELECT b.channel, b.t, b.v, r.v AS ref_v
FROM base b ASOF LEFT JOIN ref r ON b.channel = r.channel AND b.t >= r.t
ORDER BY b.channel, b.t
"""


def q_range_limit_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-path range query with (AT_OR_BEFORE, AT_OR_AFTER) limit modes:
    core range ∪ boundary probes, distinct (`ArchiveAccessService.java:55-135`)."""
    s = load_samples(spark, sf_dir).select("channel", "t", "v", "severity", "status")
    return asof.get_samples(s, LO, HI, asof.AT_OR_BEFORE, asof.AT_OR_AFTER)


SQL_RANGE_LIMIT_MODES = f"""
WITH {SAMPLES_CTE},
core AS (
  SELECT channel, t, v, severity, status FROM samples WHERE t BETWEEN {LO} AND {HI}
),
lo_probe AS (
  SELECT channel, t, v, severity, status FROM (
    SELECT channel, t, v, severity, status,
           row_number() OVER (PARTITION BY channel ORDER BY t DESC) AS rn
    FROM samples WHERE t <= {LO}) WHERE rn = 1
),
hi_probe AS (
  SELECT channel, t, v, severity, status FROM (
    SELECT channel, t, v, severity, status,
           row_number() OVER (PARTITION BY channel ORDER BY t ASC) AS rn
    FROM samples WHERE t >= {HI}) WHERE rn = 1
)
SELECT * FROM core UNION SELECT * FROM lo_probe UNION SELECT * FROM hi_probe
ORDER BY channel, t
"""


def q_decimate_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A3/W1/W2: time-weighted decimation of the raw series to 1 h."""
    return decimate(load_samples(spark, sf_dir), PERIOD_1H).orderBy("channel", "t")


def q_decimate_1h_auto_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``skew_safe="auto"`` path end to end through the driver: the
    sampled key_skew_report pre-flight measures the corpus (flat here —
    the default plan is chosen; the plan-switch behavior itself is
    pinned both ways in tests/test_skew.py), and the result must equal
    plain decimation bit-for-bit regardless of which plan ran — the
    same oracle attests both."""
    return decimate(
        load_samples(spark, sf_dir), PERIOD_1H, skew_safe="auto"
    ).orderBy("channel", "t")


SQL_DECIMATE_1H = f"""
WITH {SAMPLES_CTE},
{_dec_ctes(PERIOD_1H)}
SELECT * FROM dec ORDER BY channel, t
"""


def q_decimate_plugin_median_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 extension SPI (`ControlSystemSupport.createSampleDecimator`,
    `ControlSystemSupport.java:180-182`): a third-party weighted-median
    decimator plugin (operators/plugins.py) running through the engine's
    hold-forward interval assignment with ZERO engine edits — the
    decimator analog of a registered control-system plugin. Median =
    smallest value whose cumulative validity covers half the interval's
    covered time (attained, hence exactly SQL-oracle-able).

    Scoped to an 8-channel slice: the SPI's per-interval Python dispatch
    is the declared cost of a third-party decimator (the reference's
    plugin decimators pay the same per-sample virtual call), so the
    catalog exercises the contract, not corpus throughput — the built-in
    Catalyst path (decimate_1h) remains the scale query."""
    from .operators.plugins import decimate_with, make_median_plugin

    return decimate_with(
        load_samples(
            spark, sf_dir, channels=_MEDIAN_CHANNELS, lo_ns=LO, hi_ns=HI
        ),
        PERIOD_1H,
        make_median_plugin(PERIOD_1H),
    ).orderBy("channel", "t")


_MEDIAN_CHANNELS = [f"PV:{i}" for i in range(8)]

SQL_DECIMATE_PLUGIN_MEDIAN_1H = f"""
WITH {SAMPLES_CTE},
psamples AS (
  SELECT * FROM samples
  WHERE channel IN ({", ".join(f"'PV:{i}'" for i in range(8))})
    AND t >= {LO} AND t <= {HI}
),
{_dec_ctes(PERIOD_1H, src="psamples")},
med_rows AS (
  SELECT channel, win, v, t, ws_ns,
         sum(ws_ns) OVER (PARTITION BY channel, win ORDER BY v, t
                          ROWS UNBOUNDED PRECEDING) AS cum,
         sum(ws_ns) OVER (PARTITION BY channel, win) AS total,
         count(*) OVER (PARTITION BY channel, win) AS n_samples
  FROM dec_ex
),
med AS (
  SELECT channel, win, min(v) AS median,
         min(total) AS total, min(n_samples) AS n_samples
  FROM med_rows WHERE 2 * cum >= total GROUP BY channel, win
)
SELECT channel, CAST(win * {PERIOD_1H * NS} AS BIGINT) AS t, median,
       CAST(total AS DOUBLE) / {float(PERIOD_1H * NS)} AS covered_fraction,
       n_samples
FROM med ORDER BY channel, t
"""


def q_decimate_cascade_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: cascade — 1 h aggregates re-aggregated to 6 h (algebraic
    recombination, weight = validity × covered_fraction)."""
    dec1h = decimate(load_samples(spark, sf_dir), PERIOD_1H)
    return reaggregate(dec1h, PERIOD_1H, PERIOD_6H).orderBy("channel", "t")


SQL_DECIMATE_CASCADE_6H = f"""
WITH {SAMPLES_CTE},
{_dec_ctes(PERIOD_1H)},
{_reagg_ctes(PERIOD_6H)}
SELECT * FROM reagg ORDER BY channel, t
"""


def q_archive_incremental_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/W3/T3 end-to-end: raw batch -> partitioned archive store ->
    incremental decimation job -> pruned read-back. Output must equal the
    plain batch decimation (same oracle as decimate_1h)."""

    from .plans.jobs import incremental_decimation
    from .sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, _scratch_dir("pvarch_") + "/archive")
    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    store.write_samples(raw, level=0)
    incremental_decimation(store, PERIOD_1H)
    return store.read_samples(PERIOD_1H).select(
        "channel", "t", "mean", "std", "vmin", "vmax", "covered_fraction",
        "severity", "status", "n_samples", "quality",
    ).orderBy("channel", "t")


#: Channel slice for the store-lifecycle mechanism checks: the write/
#: backfill/streaming paths are channel-independent, so 30 of the 150
#: sf0.01 channels exercise every mechanism at ~1/5 the gap-fill window
#: count — these two were the costliest rows of the driver's sf0.01
#: correctness gate (32.5 s + 10.9 s in round 2's shape) while never being
#: throughput queries (bench uses decimate_1h for that).
_LIFECYCLE_CHANNELS = [f"PV:{i}" for i in range(30)]

SQL_ARCHIVE_INCREMENTAL_1H = f"""
WITH {SAMPLES_CTE},
lsamples AS (
  SELECT * FROM samples
  WHERE channel IN ({", ".join(f"'PV:{i}'" for i in range(30))})
),
{_dec_ctes(PERIOD_1H, src="lsamples")}
SELECT * FROM dec ORDER BY channel, t
"""


def q_store_level_drop_invariance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``update_channel``'s dropped-level cascade
    (:meth:`ArchiveStore.delete_channel_level`, round 11 — the
    reference's configuration update deletes a removed level's sample
    buckets, `ArchiveConfigurationService`) must remove exactly ONE
    channel's rows and metadata from exactly ONE level: after dropping
    PV:0's 1 h level on a freshly decimated store, the 1 h level equals
    the batch decimation oracle with PV:0 excluded — bit-identical
    surviving rows prove the shared-file rewrite disturbed no
    neighbour. Raw stays untouched and the level's marks drop the
    channel (asserted inline; a violation fails the row)."""
    from .plans.jobs import incremental_decimation
    from .sources.archive_store import ArchiveStore

    store = ArchiveStore(
        spark, _scratch_dir("pvarch_lvldrop_") + "/archive"
    )
    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    store.write_samples(raw, level=0)
    incremental_decimation(store, PERIOD_1H)
    n_raw = store.read_samples(0).count()
    store.delete_channel_level("PV:0", PERIOD_1H)
    assert store.read_samples(0).count() == n_raw, "raw level disturbed"
    # None when the level was never written (empty input)
    hwm = store.channel_hwm(PERIOD_1H) or {}
    assert "PV:0" not in hwm, "dropped level kept the channel's hwm"
    return store.read_samples(PERIOD_1H).select(
        "channel", "t", "mean", "std", "vmin", "vmax", "covered_fraction",
        "severity", "status", "n_samples", "quality",
    ).orderBy("channel", "t")


def q_stream_lifecycle_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 -> §3.3 -> §3.1 lifecycle as ONE driver-checked query: a real
    Structured Streaming run (file source, availableNow trigger) ingests
    the raw series in two chunks through the F5 monotonic guard into the
    archive store, with the incremental 1 h cascade maintained after each
    micro-batch; the second run resumes from the first's checkpoint
    (exactly-once across restarts, T2). The materialized level is read
    back pruned. Output must equal plain batch decimation — the same
    oracle as ``decimate_1h``, which makes the entire streaming write
    path value-hash-checked, not just row-counted. (The §3.1 planner read
    over a streamed store is covered by tests/test_streaming.py; the
    planner's own selection logic is oracled by ``planner_fallback``.)"""

    from .sources.archive_store import ArchiveStore
    from .streaming.ingest import start_file_ingest

    root = _scratch_dir("pvarch_stream_")
    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    tmin, tmax = raw.agg(F.min("t"), F.max("t")).first()
    src = f"{root}/incoming"
    ckpt = f"{root}/ckpt"
    store = ArchiveStore(spark, f"{root}/archive")
    if tmin is None:  # empty source: nothing to stream, empty 1 h level
        return store.read_samples(PERIOD_1H)
    cut = tmin + (tmax - tmin) // 2

    raw.filter(F.col("t") < cut).write.mode("overwrite").parquet(src)
    q = start_file_ingest(
        spark, src, raw.schema, store, checkpoint_dir=ckpt,
        cascade_periods=[PERIOD_1H],
    )
    q.awaitTermination(600)
    # late chunk arrives; a NEW stream on the SAME checkpoint picks up only
    # the unseen files and the cascade catches up incrementally
    raw.filter(F.col("t") >= cut).write.mode("append").parquet(src)
    q2 = start_file_ingest(
        spark, src, raw.schema, store, checkpoint_dir=ckpt,
        cascade_periods=[PERIOD_1H],
    )
    q2.awaitTermination(600)

    out = store.read_samples(PERIOD_1H)
    return out.select(
        "channel", "t", "mean", "std", "vmin", "vmax", "covered_fraction",
        "severity", "status", "n_samples", "quality",
    ).orderBy("channel", "t")


SQL_STREAM_LIFECYCLE_1H = SQL_ARCHIVE_INCREMENTAL_1H

#: the archive-incremental decimation chain with the dropped channel
#: excluded from the FINAL select (the decimation itself ran on all 30)
SQL_STORE_LEVEL_DROP_INVARIANCE = SQL_ARCHIVE_INCREMENTAL_1H.replace(
    "SELECT * FROM dec ORDER BY channel, t",
    "SELECT * FROM dec WHERE channel != 'PV:0' ORDER BY channel, t",
)
assert "WHERE channel != 'PV:0'" in SQL_STORE_LEVEL_DROP_INVARIANCE


def _text_format_roundtrip(spark, sf_dir: str, fmt: str) -> DataFrame:
    """Shared body for the CSV/JSONL ingestion round-trips: export the
    30-channel raw slice to the text format, read it back through a
    SCHEMA-d reader (never inference — int64 ns would degrade), decimate
    to 1 h. Output must equal decimating the original parquet slice
    (SQL_ARCHIVE_INCREMENTAL_1H), which pins that the text codec
    round-trips every value bit-exactly: Spark writes shortest-round-trip
    doubles, so v survives; t is integral.

    Why it exists: the reference's migration surface is CSV/JSON exports
    from other archivers (SURVEY §2.1 S7/S8 are the outbound analogs);
    this is the inbound path a real switch-over runs."""
    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    root = _scratch_dir(f"pvarch_{fmt}_")
    path = f"{root}/{fmt}"
    if fmt == "orc":
        raw.write.orc(path)
        # explicit schema: an empty write leaves no ORC footers to infer
        # from (and pinning it documents the contract, as the text paths do)
        back = spark.read.schema(
            "channel string, t long, v double, severity int, status int"
        ).orc(path)
    elif fmt == "csv":
        raw.write.option("header", True).csv(path)
        back = (
            spark.read.schema(
                "channel string, t long, v double, severity int, status int"
            )
            .option("header", True)
            .csv(path)
        )
    else:
        raw.write.json(path)
        back = spark.read.schema(
            "channel string, t long, v double, severity int, status int"
        ).json(path)
    return decimate(back, PERIOD_1H).orderBy("channel", "t")


def q_csv_ingest_roundtrip_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source format: export -> schema'd read-back -> decimate; equals
    the parquet-path decimation bit-for-bit (same oracle)."""
    return _text_format_roundtrip(spark, sf_dir, "csv")


def q_jsonl_ingest_roundtrip_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source format: export -> schema'd read-back -> decimate;
    equals the parquet-path decimation bit-for-bit (same oracle)."""
    return _text_format_roundtrip(spark, sf_dir, "jsonl")


def q_orc_ingest_roundtrip_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source format (Spark-native columnar alternative to parquet):
    export -> read-back (typed natively, no schema string needed) ->
    decimate; equals the parquet-path decimation bit-for-bit (same
    oracle). Rounds out the inbound migration surface: parquet / CSV /
    JSON-lines / ORC."""
    return _text_format_roundtrip(spark, sf_dir, "orc")


SQL_CSV_INGEST_ROUNDTRIP_1H = SQL_ARCHIVE_INCREMENTAL_1H
SQL_JSONL_INGEST_ROUNDTRIP_1H = SQL_ARCHIVE_INCREMENTAL_1H
SQL_ORC_INGEST_ROUNDTRIP_1H = SQL_ARCHIVE_INCREMENTAL_1H


def q_ca_ingest_roundtrip_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPICS Channel Access WIRE source — the reference's actual front
    door (`ChannelAccessArchivingChannel.java` subscribes over CA and
    archives every monitor event): the raw slice is rendered as real
    CA_PROTO_EVENT_ADD frames (big-endian header + DBR_TIME_DOUBLE,
    1990-epoch timestamps — functions/ca_wire.py), decoded back by the
    wire decoder, sid-resolved through the broadcast subscription dim,
    and decimated. Equals the parquet-path decimation bit-for-bit (same
    oracle), so every header field, the epoch shift, and the IEEE
    payload layout are driver-attested; the byte offsets themselves are
    spec-pinned in tests/test_ca_wire.py."""
    from .functions import ca_wire

    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    subs = (
        raw.select("channel")
        .distinct()
        .withColumn(
            "sid",
            F.expr("CAST(conv(substring(md5(channel), 1, 8), 16, 10) AS BIGINT)"),
        )
    )
    frames = ca_wire.encode_samples(raw, subs)
    events = ca_wire.decode_monitor_events(frames)
    back = ca_wire.resolve_subscriptions(events, subs)
    return decimate(back, PERIOD_1H).orderBy("channel", "t")


SQL_CA_INGEST_ROUNDTRIP_1H = SQL_ARCHIVE_INCREMENTAL_1H


def q_ca_live_subscribe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE EPICS Channel Access client lifecycle, driver-attested: an
    embedded CA server (IOC stand-in holding the raw slice as its
    monitor schedule) accepts a REAL TCP connection from the production
    -shaped client (streaming/ca_client.py), which walks the full
    protocol — VERSION exchange, CLIENT_NAME/HOST_NAME, CREATE_CHAN per
    channel (sid learned from the live response, never precomputed),
    EVENT_ADD subscriptions, fragment-reassembled monitor stream,
    EVENT_CANCEL with payload-0 confirms, CLEAR_CHANNEL teardown. The
    captured frames then take the DISTRIBUTED path: Spark-side wire
    decode, broadcast sid resolution, 1 h decimation. Equals the
    parquet-path decimation bit-for-bit (same oracle), so every
    handshake step that could drop/duplicate/corrupt an event is
    value-hash-checked.

    The schedule collect is bounded validation-scale metadata (30
    lifecycle channels x ~67 rows at any SF — the sim must hold its
    feed in memory like any IOC); the 100 TB path is captured frames as
    a table (`ca_ingest_roundtrip_1h`), where decode stays fully
    distributed. Reference: `ChannelAccessArchivingChannel.java`
    (connection lifecycle), `SampleListener.java` (monitor callback)."""
    from .functions import ca_wire
    from .streaming.ca_client import CAServerSim, ca_subscribe

    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    sched: dict[str, list[tuple[int, float, int, int]]] = {}
    for r in raw.collect():
        sched.setdefault(r["channel"], []).append(
            (r["t"], r["v"], r["severity"], r["status"])
        )
    n_total = sum(len(v) for v in sched.values())
    with CAServerSim(sched) as srv:
        frames, bindings = ca_subscribe(
            "127.0.0.1", srv.port, sorted(sched), n_total
        )
    fdf = spark.createDataFrame(
        [(ch, bytearray(fr)) for ch, fr in frames],
        "channel string, frame binary",
    )
    events = ca_wire.decode_monitor_events(fdf)
    dim = spark.createDataFrame(
        [(int(sid), ch) for sid, ch in bindings.items()],
        "sid long, channel string",
    )
    back = ca_wire.resolve_subscriptions(events, dim)
    return decimate(back, PERIOD_1H).orderBy("channel", "t")


SQL_CA_LIVE_SUBSCRIBE = SQL_ARCHIVE_INCREMENTAL_1H


def q_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alarm-limit threshold crossings per channel: the archiver-side
    analog of EPICS limit alarms (the reference stores per-sample
    warn/alarm limits in display metadata,
    `ChannelAccessSampleValueAccess.java:98-132`, and severity encodes
    limit violations) — here the limit is data-derived (the channel's
    (min+max)/2 midpoint) and every upward/downward crossing of it is
    detected with a lag window.

    100 TB shape: the unbounded min/max window, the lag window, and the
    final per-channel aggregation ALL reuse the load's single channel
    hash partitioning — one data exchange total, same guarantee as
    channel_gap_stats (audit-pinned). Returns per channel: thr, n_up,
    n_down, t_first_cross, t_last_cross.
    """
    from .operators.stats import threshold_crossings

    s = load_samples(spark, sf_dir).select("channel", "t", "v")
    return threshold_crossings(s).orderBy("channel")


SQL_THRESHOLD_CROSSINGS = f"""
WITH {SAMPLES_CTE},
x AS (
  SELECT channel, t, v,
         (min(v) OVER (PARTITION BY channel)
          + max(v) OVER (PARTITION BY channel)) / 2 AS thr,
         lag(v) OVER (PARTITION BY channel ORDER BY t) AS v_prev
  FROM samples
)
SELECT channel, max(thr) AS thr,
       CAST(sum(CASE WHEN v_prev IS NOT NULL AND v_prev < thr AND v >= thr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(sum(CASE WHEN v_prev IS NOT NULL AND v_prev >= thr AND v < thr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       min(CASE WHEN v_prev IS NOT NULL AND
                     ((v_prev < thr AND v >= thr) OR (v_prev >= thr AND v < thr))
                THEN t END) AS t_first_cross,
       max(CASE WHEN v_prev IS NOT NULL AND
                     ((v_prev < thr AND v >= thr) OR (v_prev >= thr AND v < thr))
                THEN t END) AS t_last_cross
FROM x GROUP BY channel ORDER BY channel
"""


def q_pick_first_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: pick-first decimation of a non-aggregatable (string) series
    (`PickFirstSampleAggregator.java:50-76`)."""
    return pick_first(load_string_samples(spark, sf_dir), PERIOD_1H).orderBy(
        "channel", "t"
    )


_P1H = PERIOD_1H * NS
SQL_PICK_FIRST_1H = f"""
WITH {STRING_SAMPLES_CTE},
iv AS (
  SELECT channel, t, sval,
         lead(t) OVER (PARTITION BY channel ORDER BY t) AS t_next,
         max(t) OVER (PARTITION BY channel) AS hwm
  FROM string_samples
),
iv2 AS (
  SELECT channel, t, sval, hwm, coalesce(t_next, hwm) AS t_end
  FROM iv WHERE coalesce(t_next, hwm) > t
),
ex AS (
  SELECT iv2.*, g.win, greatest(t, g.win*{_P1H}) AS clip
  FROM iv2, LATERAL (
    SELECT unnest(generate_series(t // {_P1H}, (t_end-1) // {_P1H})) AS win) g
  WHERE (g.win+1)*{_P1H} <= hwm
)
SELECT channel, win * {_P1H} AS t, arg_min(sval, clip) AS sval,
       count(*) AS n_samples, 'Interpolated' AS quality
FROM ex GROUP BY channel, win ORDER BY channel, t
"""


def q_decimate_mixed_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: mixed-type interval resolution over a tagged-union series
    (`ChannelAccessSampleDecimator.java:124-296`). Projection pinned to the
    scalar union columns (the full-union payload slots are exercised by
    ``decimate_typed_1h``)."""
    return (
        decimate_mixed(load_mixed_samples(spark, sf_dir), PERIOD_1H)
        .select(
            "channel", "t", "type", "mean", "std", "vmin", "vmax",
            "covered_fraction", "sval", "severity", "status", "n_samples",
            "quality",
        )
        .orderBy("channel", "t")
    )


_AGG_IN = ", ".join(
    f"'{x}'"
    for x in (
        "scalar_char",
        "scalar_short",
        "scalar_long",
        "scalar_float",
        "scalar_double",
        "aggregated_scalar_char",
        "aggregated_scalar_short",
        "aggregated_scalar_long",
        "aggregated_scalar_float",
        "aggregated_scalar_double",
    )
)
SQL_DECIMATE_MIXED_1H = f"""
WITH {MIXED_SAMPLES_CTE},
iv AS (
  SELECT channel, t, type, v, sval, severity, status,
         lead(t) OVER (PARTITION BY channel ORDER BY t) AS t_next,
         max(t) OVER (PARTITION BY channel) AS hwm
  FROM mixed_samples
),
iv2 AS (
  SELECT *, coalesce(t_next, hwm) AS t_end FROM iv
  WHERE coalesce(t_next, hwm) > t
),
ex AS (
  SELECT iv2.*, g.win,
         least(t_end, (g.win+1)*{_P1H}) - greatest(t, g.win*{_P1H}) AS ws_ns,
         greatest(t, g.win*{_P1H}) AS clip,
         CAST(floor(v * 100 + 0.5) AS BIGINT) AS vi,
         type IN ({_AGG_IN}) AS is_agg,
         type IN ('disabled','disconnected') AS is_marker
  FROM iv2, LATERAL (
    SELECT unnest(generate_series(t // {_P1H}, (t_end-1) // {_P1H})) AS win) g
  WHERE (g.win+1)*{_P1H} <= hwm
),
s1 AS (
  SELECT channel, win, type,
         any_value(is_agg) AS is_agg, any_value(is_marker) AS is_marker,
         sum(ws_ns) AS cov,
         sum(CAST(ws_ns AS HUGEINT) * vi) AS swv,
         sum(CAST(ws_ns AS HUGEINT) * vi * vi) AS swv2,
         min(v) AS vmin, max(v) AS vmax,
         arg_max(struct_pack(severity := severity, status := status),
                 CAST(severity AS HUGEINT) * 20000000000000000000 - t) AS sevpick,
         arg_min(struct_pack(sval := sval, severity := severity,
                             status := status), clip) AS firstsamp,
         min(clip) AS first_clip,
         count(*) AS n_samples
  FROM ex GROUP BY channel, win, type
),
s1v AS (
  SELECT channel, win, first_clip, cov, is_agg, is_marker,
         struct_pack(
           type := type, is_agg := is_agg,
           mean := CASE WHEN is_agg THEN md END,
           std := CASE WHEN is_agg THEN
             sqrt(greatest({big_to_double_duck("swv2")} / CAST(cov AS DOUBLE) / 10000.0
                           - md * md, 0)) END,
           vmin := vmin, vmax := vmax,
           covered_fraction := CASE WHEN is_agg THEN
             CAST(cov AS DOUBLE) / 1e9 / 3600.0 END,
           agg_severity := sevpick.severity, agg_status := sevpick.status,
           pf_sval := firstsamp.sval, pf_severity := firstsamp.severity,
           pf_status := firstsamp.status,
           n_samples := n_samples) AS S
  FROM (SELECT *, CASE WHEN is_agg THEN
          {big_to_double_duck("swv")} / CAST(cov AS DOUBLE) / 100.0 END AS md FROM s1)
),
keysel AS (
  -- key selection + join-back instead of arg_min/arg_max(STRUCT, HUGEINT):
  -- DuckDB's struct-payload argmin aggregate allocates per ROW (1M+ rows
  -- at sf0.1 => ~65k retained VMAs, tripping vm.max_map_count with a
  -- spurious "bad allocation"). Selecting the winning SCALAR keys first
  -- and equi-joining the winners back never routes a struct through an
  -- aggregate state. Both keys are UNIQUE within (channel, win) --
  -- validity intervals partition time, so clip values never tie --
  -- making the selection deterministic and the joins 1:1.
  SELECT channel, win,
         min(first_clip) AS kf,
         max(CASE WHEN is_agg THEN
             CAST(cov AS HUGEINT) * 10000000000000000000 - first_clip END)
           AS kb,
         max(CASE WHEN NOT is_agg AND NOT is_marker THEN 1 ELSE 0 END) AS veto
  FROM s1v GROUP BY channel, win
),
s2 AS (
  SELECT k.channel, k.win, f.S AS first_row, b.S AS best_row, k.veto
  FROM keysel k
  JOIN s1v f ON f.channel = k.channel AND f.win = k.win
            AND f.first_clip = k.kf
  LEFT JOIN s1v b ON b.channel = k.channel AND b.win = k.win AND b.is_agg
            AND CAST(b.cov AS HUGEINT) * 10000000000000000000 - b.first_clip
                = k.kb
),
ch AS (
  SELECT channel, win,
         CASE WHEN veto = 1 OR best_row IS NULL THEN first_row
              ELSE best_row END AS C
  FROM s2
)
SELECT channel, win * {_P1H} AS t,
       CASE WHEN C.is_agg AND C.type LIKE 'scalar\\_%' ESCAPE '\\'
            THEN 'aggregated_' || C.type ELSE C.type END AS type,
       C.mean AS mean, C.std AS std,
       CASE WHEN C.is_agg THEN C.vmin END AS vmin,
       CASE WHEN C.is_agg THEN C.vmax END AS vmax,
       C.covered_fraction AS covered_fraction,
       CASE WHEN NOT C.is_agg THEN C.pf_sval END AS sval,
       CASE WHEN C.is_agg THEN C.agg_severity ELSE C.pf_severity END AS severity,
       CASE WHEN C.is_agg THEN C.agg_status ELSE C.pf_status END AS status,
       C.n_samples AS n_samples, 'Interpolated' AS quality
FROM ch ORDER BY channel, t
"""


def q_decimate_typed_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 over the FULL sample-type union: numeric arrays, scalar enum with
    labels, string arrays, markers, and numeric display metadata — the
    reference's complete 20-type system (`ChannelAccessSampleType.java:
    18-129`). Non-aggregatable types resolve pick-first
    (`ChannelAccessSampleDecimatorTest.java:836-900`); aggregated windows
    carry the display metadata of the first used source sample
    (`:700-757`). Arrays/labels flattened to joined strings and the meta
    struct to columns for the cross-engine hash."""
    from .sources.testdata import load_typed_samples

    dec = decimate_mixed(load_typed_samples(spark, sf_dir), PERIOD_1H)
    return _typed_dec_projection(dec)


def _typed_dec_projection(dec: DataFrame) -> DataFrame:
    """Hash-friendly projection of a full-union decimation (shared by
    the parquet path and the CA wire roundtrip, which must equal it)."""

    def _joined(c: str):
        return F.when(F.col(c).isNotNull(), F.concat_ws(",", F.col(c)))

    return dec.select(
        "channel", "t", "type", "mean", "std", "vmin", "vmax",
        "covered_fraction",
        _joined("aval").alias("aval_str"),
        "eval",
        _joined("labels").alias("labels_str"),
        _joined("asval").alias("asval_str"),
        F.col("meta.precision").alias("meta_precision"),
        F.col("meta.units").alias("meta_units"),
        F.col("meta.lower_warning_limit").alias("meta_warn_lo"),
        F.col("meta.upper_warning_limit").alias("meta_warn_hi"),
        F.col("meta.lower_alarm_limit").alias("meta_alarm_lo"),
        F.col("meta.upper_alarm_limit").alias("meta_alarm_hi"),
        F.col("meta.lower_display_limit").alias("meta_disp_lo"),
        F.col("meta.upper_display_limit").alias("meta_disp_hi"),
        F.col("meta.lower_control_limit").alias("meta_ctrl_lo"),
        F.col("meta.upper_control_limit").alias("meta_ctrl_hi"),
        "severity", "status", "n_samples", "quality",
    ).orderBy("channel", "t")


def _union_dec_ctes(src: str) -> str:
    """CTE chain (iv..ch) decimating a FULL-union source CTE ``src`` at 1 h
    — the SQL mirror of decimate_mixed over the extended payload slots;
    ends with ``ch(channel, win, C)`` where C carries the winner."""
    return f"""
iv AS (
  SELECT channel, t, type, v, aval, eval, labels, asval, sval, meta,
         severity, status,
         lead(t) OVER (PARTITION BY channel ORDER BY t) AS t_next,
         max(t) OVER (PARTITION BY channel) AS hwm
  FROM {src}
),
iv2 AS (
  SELECT *, coalesce(t_next, hwm) AS t_end FROM iv
  WHERE coalesce(t_next, hwm) > t
),
ex AS (
  SELECT iv2.*, g.win,
         least(t_end, (g.win+1)*{_P1H}) - greatest(t, g.win*{_P1H}) AS ws_ns,
         greatest(t, g.win*{_P1H}) AS clip,
         CAST(floor(v * 100 + 0.5) AS BIGINT) AS vi,
         type IN ({_AGG_IN}) AS is_agg,
         type IN ('disabled','disconnected') AS is_marker
  FROM iv2, LATERAL (
    SELECT unnest(generate_series(t // {_P1H}, (t_end-1) // {_P1H})) AS win) g
  WHERE (g.win+1)*{_P1H} <= hwm
),
s1 AS (
  SELECT channel, win, type,
         any_value(is_agg) AS is_agg, any_value(is_marker) AS is_marker,
         sum(ws_ns) AS cov,
         sum(CAST(ws_ns AS HUGEINT) * vi) AS swv,
         sum(CAST(ws_ns AS HUGEINT) * vi * vi) AS swv2,
         min(v) AS vmin, max(v) AS vmax,
         arg_max(struct_pack(severity := severity, status := status),
                 CAST(severity AS HUGEINT) * 20000000000000000000 - t) AS sevpick,
         arg_min(struct_pack(sval := sval, aval := aval, eval := eval,
                             labels := labels, asval := asval, meta := meta,
                             severity := severity, status := status),
                 clip) AS firstsamp,
         min(clip) AS first_clip,
         count(*) AS n_samples
  FROM ex GROUP BY channel, win, type
),
s1v AS (
  SELECT channel, win, first_clip, cov, is_agg, is_marker,
         struct_pack(
           type := type, is_agg := is_agg,
           mean := CASE WHEN is_agg THEN md END,
           std := CASE WHEN is_agg THEN
             sqrt(greatest({big_to_double_duck("swv2")} / CAST(cov AS DOUBLE) / 10000.0
                           - md * md, 0)) END,
           vmin := vmin, vmax := vmax,
           covered_fraction := CASE WHEN is_agg THEN
             CAST(cov AS DOUBLE) / 1e9 / 3600.0 END,
           agg_severity := sevpick.severity, agg_status := sevpick.status,
           firstsamp := firstsamp,
           n_samples := n_samples) AS S
  FROM (SELECT *, CASE WHEN is_agg THEN
          {big_to_double_duck("swv")} / CAST(cov AS DOUBLE) / 100.0 END AS md FROM s1)
),
keysel AS (
  -- key selection + join-back instead of arg_min/arg_max(STRUCT, HUGEINT):
  -- DuckDB's struct-payload argmin aggregate allocates per ROW (1M+ rows
  -- at sf0.1 => ~65k retained VMAs, tripping vm.max_map_count with a
  -- spurious "bad allocation"). Selecting the winning SCALAR keys first
  -- and equi-joining the winners back never routes a struct through an
  -- aggregate state. Both keys are UNIQUE within (channel, win) --
  -- validity intervals partition time, so clip values never tie --
  -- making the selection deterministic and the joins 1:1.
  SELECT channel, win,
         min(first_clip) AS kf,
         max(CASE WHEN is_agg THEN
             CAST(cov AS HUGEINT) * 10000000000000000000 - first_clip END)
           AS kb,
         max(CASE WHEN NOT is_agg AND NOT is_marker THEN 1 ELSE 0 END) AS veto
  FROM s1v GROUP BY channel, win
),
s2 AS (
  SELECT k.channel, k.win, f.S AS first_row, b.S AS best_row, k.veto
  FROM keysel k
  JOIN s1v f ON f.channel = k.channel AND f.win = k.win
            AND f.first_clip = k.kf
  LEFT JOIN s1v b ON b.channel = k.channel AND b.win = k.win AND b.is_agg
            AND CAST(b.cov AS HUGEINT) * 10000000000000000000 - b.first_clip
                = k.kb
),
ch AS (
  SELECT channel, win,
         CASE WHEN veto = 1 OR best_row IS NULL THEN first_row
              ELSE best_row END AS C
  FROM s2
)"""


#: hash projection of the ``ch(channel, win, C)`` winner — shared by
#: every full-union decimation oracle
_TYPED_DEC_TAIL = f"""
SELECT channel, win * {_P1H} AS t,
       CASE WHEN C.is_agg AND C.type LIKE 'scalar\\_%' ESCAPE '\\'
            THEN 'aggregated_' || C.type ELSE C.type END AS type,
       C.mean AS mean, C.std AS std,
       CASE WHEN C.is_agg THEN C.vmin END AS vmin,
       CASE WHEN C.is_agg THEN C.vmax END AS vmax,
       C.covered_fraction AS covered_fraction,
       CASE WHEN NOT C.is_agg AND C.firstsamp.aval IS NOT NULL
            THEN array_to_string(C.firstsamp.aval, ',') END AS aval_str,
       CASE WHEN NOT C.is_agg THEN C.firstsamp.eval END AS eval,
       CASE WHEN NOT C.is_agg AND C.firstsamp.labels IS NOT NULL
            THEN array_to_string(C.firstsamp.labels, ',') END AS labels_str,
       CASE WHEN NOT C.is_agg AND C.firstsamp.asval IS NOT NULL
            THEN array_to_string(C.firstsamp.asval, ',') END AS asval_str,
       C.firstsamp.meta."precision" AS meta_precision,
       C.firstsamp.meta.units AS meta_units,
       C.firstsamp.meta.lower_warning_limit AS meta_warn_lo,
       C.firstsamp.meta.upper_warning_limit AS meta_warn_hi,
       C.firstsamp.meta.lower_alarm_limit AS meta_alarm_lo,
       C.firstsamp.meta.upper_alarm_limit AS meta_alarm_hi,
       C.firstsamp.meta.lower_display_limit AS meta_disp_lo,
       C.firstsamp.meta.upper_display_limit AS meta_disp_hi,
       C.firstsamp.meta.lower_control_limit AS meta_ctrl_lo,
       C.firstsamp.meta.upper_control_limit AS meta_ctrl_hi,
       CASE WHEN C.is_agg THEN C.agg_severity ELSE C.firstsamp.severity END AS severity,
       CASE WHEN C.is_agg THEN C.agg_status ELSE C.firstsamp.status END AS status,
       C.n_samples AS n_samples, 'Interpolated' AS quality
FROM ch ORDER BY channel, t
"""

SQL_DECIMATE_TYPED_1H = f"""
WITH {TYPED_SAMPLES_CTE},
{_union_dec_ctes("typed_samples")}
{_TYPED_DEC_TAIL}
"""


#: full tagged-union column set (assembled wire samples and parquet
#: typed samples agree on these)
_TYPED_UNION_COLS = [
    "channel", "t", "type", "v", "aval", "eval", "labels", "asval",
    "sval", "meta", "severity", "status",
]

_MARKER_TYPES = ("disabled", "disconnected")


def _md5_sids(channels: DataFrame) -> DataFrame:
    """Deterministic (sid, channel) subscription dim (registry-sized)."""
    return channels.select("channel").distinct().withColumn(
        "sid",
        F.expr("CAST(conv(substring(md5(channel), 1, 8), 16, 10) AS BIGINT)"),
    )


def q_ca_typed_roundtrip_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-union CA wire roundtrip — the reference's complete front
    door: the typed fixture is rendered as real CA traffic (per sample a
    DBR_TIME_<family> monitor frame; metadata/label changes as the
    controls monitor's DBR_CTRL_DOUBLE / DBR_CTRL_ENUM frames —
    `ChannelAccessArchivingChannel.java:580-700`'s two-monitor design),
    decoded back by the typed wire decoder, controls/time-assembled by
    per-sid LOCF, sid-resolved, re-unioned with the marker rows the
    archiver itself synthesizes (markers never cross the wire,
    `:642-685`), and decimated over the full type union. Equals the
    parquet-path typed decimation bit-for-bit (same oracle as
    ``decimate_typed_1h``), so every family's value layout, the CTRL
    metadata re-ordering, and the latest-controls combination are
    driver-attested."""
    full = _ca_wire_reconstructed(spark, sf_dir)
    return _typed_dec_projection(decimate_mixed(full, PERIOD_1H))


def _ca_wire_reconstructed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """typed fixture -> CA frames -> decode + LOCF assembly -> full
    union (markers re-unioned; they never cross the wire) — the shared
    reconstruction the decimation roundtrip and the JSON rendering
    roundtrip both consume."""
    from . import cache_scope
    from .functions import ca_wire_typed as cwt
    from .sources.testdata import load_typed_samples

    # the typed fixture feeds the wire branch (via the checkpoint job
    # below) AND the markers re-union — persist it so the ~0.4 s typed
    # derivation runs once per invocation, not twice (guide §7.2, r12;
    # the eager checkpoint job doubles as the cache-population pass)
    typed = cache_scope.persist(load_typed_samples(spark, sf_dir))
    wire = typed.filter(~F.col("type").isin(*_MARKER_TYPES))
    markers = typed.filter(F.col("type").isin(*_MARKER_TYPES))
    subs = _md5_sids(wire)
    # the frame stream feeds BOTH decode branches (time + ctrl) of the
    # assemble union — without materialization the whole encode
    # (Python struct.pack kernel, measured 1.86 s at sf0.1) runs twice,
    # once per branch (guide §7.2 duplicated subtrees). localCheckpoint
    # materializes it once PER INVOCATION (never across runs; lineage
    # truncation is irrelevant here — the cost is the double kernel).
    frames = cwt.encode_typed_samples(wire, subs).localCheckpoint()
    assembled = cwt.assemble_typed_samples(
        cwt.decode_time_events_typed(frames), cwt.decode_ctrl_events(frames)
    )
    back = assembled.join(F.broadcast(subs), "sid").select(*_TYPED_UNION_COLS)
    return back.unionByName(markers.select(*_TYPED_UNION_COLS))


SQL_CA_TYPED_ROUNDTRIP_1H = SQL_DECIMATE_TYPED_1H


def q_json_v1_ca_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front door to serving door in ONE attested chain: raw CA wire
    traffic (all DBR families + CTRL metadata) reconstructed into the
    full union, rendered through the JSON V1 shape projection — the
    REST response a reference user would fetch for what the archiver
    just received. The oracle is the parquet-path raw rendering
    (``json_v1_raw_typed``'s SQL), so any wire-side loss — a dropped
    label, a mis-ordered CTRL limit, a truncated string cell — breaks
    the serialized-field hash."""
    from .functions.json_v1 import render_columns

    full = _ca_wire_reconstructed(spark, sf_dir)
    return render_columns(full, raw=True).orderBy("channel", "t")


def q_ca_wire_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every DBR_TIME family x {scalar, array} as one value-hashed
    roundtrip: a deterministic slice of the raw series fans out to all
    14 wire sample shapes (`ChannelAccessSampleType.java:18-129` minus
    markers and the aggregated types, which never cross the wire), each
    encoded as its CA monitor frame and decoded back
    (functions/ca_wire_typed.py). The oracle derives the same values
    codec-free, so signedness (char int8, short int16, long int32),
    float32 width, uint16 enum indices, 40-byte string cells, and every
    per-family RISC pad are attested by the value hash."""
    from .functions import ca_wire_typed as cwt
    from .operators.decimate_mixed import METADATA_SCHEMA

    base = load_samples(spark, sf_dir).filter(F.col("event_id") % 29 == 0)
    d = F.expr("CAST(CAST(floor(v * 100 + 0.5) AS BIGINT) AS DOUBLE)")
    k = (F.col("event_id") % 100 - 50).cast("double")
    big = (F.col("event_id") % 1000000 - 500000).cast("double")
    e4 = (F.col("event_id") % 4).cast("int")
    e4b = ((F.col("event_id") + 1) % 4).cast("double")

    def mk(typ, v=None, aval=None, ev=None, sval=None, asval=None):
        return F.struct(
            F.lit(typ).alias("type"),
            (F.lit(None).cast("double") if v is None else v).alias("v"),
            (F.lit(None).cast("array<double>") if aval is None else aval)
            .alias("aval"),
            (F.lit(None).cast("int") if ev is None else ev).alias("eval"),
            (F.lit(None).cast("string") if sval is None else sval)
            .alias("sval"),
            (F.lit(None).cast("array<string>") if asval is None else asval)
            .alias("asval"),
        )

    combos = F.array(
        mk("scalar_double", v=F.col("v")),
        mk("array_double", aval=F.array(d, d * 2)),
        mk("scalar_float", v=k + 0.5),
        mk("array_float", aval=F.array(k + 0.25, k - 0.5)),
        mk("scalar_short", v=k * 100),
        mk("array_short", aval=F.array(k, F.lit(0.0) - k)),
        mk("scalar_char", v=k),
        mk("array_char", aval=F.array(k, F.lit(0.0) - k)),
        mk("scalar_long", v=big),
        mk("array_long", aval=F.array(big, big + 1)),
        mk("scalar_enum", ev=e4),
        mk("array_enum", aval=F.array(e4.cast("double"), e4b)),
        mk(
            "scalar_string",
            sval=F.concat(F.lit("S"), (F.col("event_id") % 1000)
                          .cast("string")),
        ),
        mk(
            "array_string",
            asval=F.array(
                F.concat(F.lit("A"), (F.col("event_id") % 7).cast("string")),
                F.concat(F.lit("B"), (F.col("event_id") % 13).cast("string")),
            ),
        ),
    )
    src = base.select(
        "channel", "t", "severity", "status", F.explode(combos).alias("c")
    ).select(
        F.concat(F.col("c.type"), F.lit(":"), F.col("channel"))
        .alias("channel"),
        "t",
        F.col("c.type").alias("type"),
        F.col("c.v").alias("v"),
        F.col("c.aval").alias("aval"),
        F.col("c.eval").alias("eval"),
        F.lit(None).cast("array<string>").alias("labels"),
        F.col("c.asval").alias("asval"),
        F.col("c.sval").alias("sval"),
        F.lit(None).cast(METADATA_SCHEMA).alias("meta"),
        "severity",
        "status",
    )
    subs = _md5_sids(src)
    frames = cwt.encode_typed_samples(src, subs)
    back = cwt.decode_time_events_typed(frames).join(F.broadcast(subs), "sid")
    return back.select(
        "channel", "t", "type", "v",
        F.when(F.col("aval").isNotNull(), F.concat_ws(",", F.col("aval")))
        .alias("aval_str"),
        "eval", "sval",
        F.when(F.col("asval").isNotNull(), F.concat_ws(",", F.col("asval")))
        .alias("asval_str"),
        "severity", "status",
    ).orderBy("channel", "t")


SQL_CA_WIRE_MATRIX = f"""
WITH {SAMPLES_CTE},
m AS (
  SELECT channel, t, severity, status, v,
         CAST(CAST(floor(v * 100 + 0.5) AS BIGINT) AS DOUBLE) AS d,
         CAST(event_id % 100 - 50 AS DOUBLE) AS k,
         CAST(event_id % 1000000 - 500000 AS DOUBLE) AS big,
         CAST(event_id % 4 AS INTEGER) AS e4,
         CAST((event_id + 1) % 4 AS DOUBLE) AS e4b,
         event_id
  FROM samples WHERE event_id % 29 = 0
),
x AS (
  SELECT 'scalar_double' AS type, v AS vv, CAST(NULL AS VARCHAR) AS aval_str,
         CAST(NULL AS INTEGER) AS ev, CAST(NULL AS VARCHAR) AS sv,
         CAST(NULL AS VARCHAR) AS asval_str, m.* FROM m
  UNION ALL SELECT 'array_double', NULL,
         array_to_string(list_value(d, d * 2), ','),
         NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'scalar_float', k + 0.5, NULL, NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'array_float', NULL,
         array_to_string(list_value(k + 0.25, k - 0.5), ','),
         NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'scalar_short', k * 100, NULL, NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'array_short', NULL,
         array_to_string(list_value(k, 0 - k), ','), NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'scalar_char', k, NULL, NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'array_char', NULL,
         array_to_string(list_value(k, 0 - k), ','), NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'scalar_long', big, NULL, NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'array_long', NULL,
         array_to_string(list_value(big, big + 1), ','),
         NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'scalar_enum', NULL, NULL, e4, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'array_enum', NULL,
         array_to_string(list_value(CAST(e4 AS DOUBLE), e4b), ','),
         NULL, NULL, NULL, m.* FROM m
  UNION ALL SELECT 'scalar_string', NULL, NULL, NULL,
         'S' || CAST(event_id % 1000 AS VARCHAR), NULL, m.* FROM m
  UNION ALL SELECT 'array_string', NULL, NULL, NULL, NULL,
         'A' || CAST(event_id % 7 AS VARCHAR) || ','
           || 'B' || CAST(event_id % 13 AS VARCHAR), m.* FROM m
)
SELECT type || ':' || channel AS channel, t, type, vv AS v, aval_str,
       ev AS eval, sv AS sval, asval_str, severity, status
FROM x ORDER BY channel, t
"""


def q_ca_ctrl_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connect-time DBR_CTRL_* metadata fetch, every family: units /
    precision / 8 limits for the numeric families, state labels for
    enum, nothing for string (`ChannelAccessSampleValueAccess.java:
    98-132,184`; controls monitor at
    `ChannelAccessArchivingChannel.java:605`). Encoded with precision
    set on EVERY numeric family, the integer families' wire structs
    carry no precision field — the oracle asserts precision comes back
    0 for short/char/long and intact for float/double, so the
    per-family CTRL layouts themselves are what is being attested."""
    from .functions import ca_wire_typed as cwt

    base = load_samples(spark, sf_dir).filter(F.col("event_id") % 97 == 0)
    fams = F.array(*[F.lit(x) for x in
                     ("double", "float", "long", "short", "char", "enum",
                      "string")])
    rows = base.select("channel", "event_id", F.explode(fams).alias("family"))
    w = (F.col("event_id") % 10).cast("double")
    meta = F.when(
        F.col("family").isin("double", "float", "long", "short", "char"),
        F.struct(
            (F.col("event_id") % 5).cast("int").alias("precision"),
            F.concat(F.lit("U"), (F.col("event_id") % 3).cast("string"))
            .alias("units"),
            (-w).alias("lower_warning_limit"),
            (w + 1).alias("upper_warning_limit"),
            (-w - 2).alias("lower_alarm_limit"),
            (w + 3).alias("upper_alarm_limit"),
            (-w - 4).alias("lower_display_limit"),
            (w + 5).alias("upper_display_limit"),
            (-w - 6).alias("lower_control_limit"),
            (w + 7).alias("upper_control_limit"),
        ),
    )
    labels = F.when(
        F.col("family") == "enum",
        F.array(
            F.lit("E0"), F.lit("E1"),
            F.concat(F.lit("E"), (F.col("event_id") % 4).cast("string")),
        ),
    )
    ctrl = rows.select(
        F.concat(F.col("family"), F.lit(":"), F.col("channel"))
        .alias("channel"),
        "event_id",
        "family",
        meta.alias("meta"),
        labels.alias("labels"),
    )
    subs = _md5_sids(ctrl)
    tagged = ctrl.join(F.broadcast(subs), "channel").select(
        "sid", F.col("event_id").alias("seq"), "family", "meta", "labels"
    )
    frames = cwt.encode_ctrl_table(tagged)
    back = cwt.decode_ctrl_events(frames).join(F.broadcast(subs), "sid")
    return back.select(
        "channel",
        F.col("seq").alias("event_id"),
        "family",
        F.col("meta.precision").alias("precision"),
        F.col("meta.units").alias("units"),
        F.col("meta.lower_warning_limit").alias("warn_lo"),
        F.col("meta.upper_warning_limit").alias("warn_hi"),
        F.col("meta.lower_alarm_limit").alias("alarm_lo"),
        F.col("meta.upper_alarm_limit").alias("alarm_hi"),
        F.col("meta.lower_display_limit").alias("disp_lo"),
        F.col("meta.upper_display_limit").alias("disp_hi"),
        F.col("meta.lower_control_limit").alias("ctrl_lo"),
        F.col("meta.upper_control_limit").alias("ctrl_hi"),
        F.when(F.col("labels").isNotNull(), F.concat_ws(",", F.col("labels")))
        .alias("labels_str"),
    ).orderBy("channel", "event_id")


SQL_CA_CTRL_METADATA = f"""
WITH {SAMPLES_CTE},
base AS (SELECT channel, event_id FROM samples WHERE event_id % 97 = 0),
fams(family) AS (
  VALUES ('double'), ('float'), ('long'), ('short'), ('char'), ('enum'),
         ('string')
),
j AS (
  SELECT family || ':' || channel AS channel, event_id, family,
         CAST(event_id % 10 AS DOUBLE) AS w,
         family IN ('double', 'float', 'long', 'short', 'char') AS has_meta
  FROM base CROSS JOIN fams
)
SELECT channel, event_id, family,
       CAST(CASE WHEN family IN ('double', 'float') THEN event_id % 5
                 WHEN has_meta THEN 0 END AS INTEGER) AS "precision",
       CASE WHEN has_meta
            THEN 'U' || CAST(event_id % 3 AS VARCHAR) END AS units,
       -- int wire families (char/short/long) carry int8/int16/int32
       -- limits (db_access.h) which cannot represent -0.0: the limit
       -- must round-trip through an integer in the oracle too, else a
       -- -0.0 warn_lo (w = 0) hash-diverges from the engine's +0.0.
       CASE WHEN family IN ('double', 'float') THEN -w
            WHEN has_meta THEN CAST(CAST(-w AS BIGINT) AS DOUBLE)
            END AS warn_lo,
       CASE WHEN family IN ('double', 'float') THEN w + 1
            WHEN has_meta THEN CAST(CAST(w + 1 AS BIGINT) AS DOUBLE)
            END AS warn_hi,
       CASE WHEN family IN ('double', 'float') THEN -w - 2
            WHEN has_meta THEN CAST(CAST(-w - 2 AS BIGINT) AS DOUBLE)
            END AS alarm_lo,
       CASE WHEN family IN ('double', 'float') THEN w + 3
            WHEN has_meta THEN CAST(CAST(w + 3 AS BIGINT) AS DOUBLE)
            END AS alarm_hi,
       CASE WHEN family IN ('double', 'float') THEN -w - 4
            WHEN has_meta THEN CAST(CAST(-w - 4 AS BIGINT) AS DOUBLE)
            END AS disp_lo,
       CASE WHEN family IN ('double', 'float') THEN w + 5
            WHEN has_meta THEN CAST(CAST(w + 5 AS BIGINT) AS DOUBLE)
            END AS disp_hi,
       CASE WHEN family IN ('double', 'float') THEN -w - 6
            WHEN has_meta THEN CAST(CAST(-w - 6 AS BIGINT) AS DOUBLE)
            END AS ctrl_lo,
       CASE WHEN family IN ('double', 'float') THEN w + 7
            WHEN has_meta THEN CAST(CAST(w + 7 AS BIGINT) AS DOUBLE)
            END AS ctrl_hi,
       CASE WHEN family = 'enum' THEN
         'E0,E1,E' || CAST(event_id % 4 AS VARCHAR) END AS labels_str
FROM j ORDER BY channel, event_id
"""


def q_ca_live_subscribe_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE typed CA lifecycle, driver-attested: the lifecycle channels'
    full-union series is regrouped into single-native-type live PVs
    (``<type>:<channel>`` — a real CA channel has ONE native type), an
    embedded IOC stand-in serves them through the reference's
    two-monitor contract (controls monitor first with DBR_CTRL_* —
    including mid-stream metadata-change updates — then DBR_TIME_*
    events; `ChannelAccessArchivingChannel.java:580-700`), and the real
    TCP client walks native-type discovery, controls-before-time
    subscription ordering, interleaved frame capture, dual cancel and
    teardown. The capture then takes the distributed path: typed wire
    decode, LOCF assembly, and full-union decimation. The oracle
    decimates the same regrouped series codec-free, so the whole typed
    handshake is value-hash-checked. Schedule collect is bounded
    validation-scale metadata (30 channels' rows), same contract as
    ``ca_live_subscribe``."""
    from .functions import ca_wire_typed as cwt
    from .sources.testdata import load_typed_samples
    from .streaming.ca_client import CAServerSim, ca_subscribe_typed

    typed = (
        load_typed_samples(spark, sf_dir)
        .filter(F.col("channel").isin(_LIFECYCLE_CHANNELS))
        .filter(~F.col("type").isin(*_MARKER_TYPES))
        .withColumn(
            "channel", F.concat("type", F.lit(":"), "channel")
        )
    )
    sched: dict[str, dict] = {}
    for r in typed.collect():
        fam = r["type"].split("_", 1)[1]
        arr = r["type"].startswith("array_")
        if fam == "enum":
            values = ([int(x) for x in r["aval"]] if arr else [r["eval"]])
        elif fam == "string":
            values = list(r["asval"]) if arr else [r["sval"]]
        else:
            values = list(r["aval"]) if arr else [r["v"]]
        meta = r["meta"].asDict() if r["meta"] is not None else None
        labels = list(r["labels"]) if r["labels"] is not None else None
        sched.setdefault(r["channel"], {"family": fam, "events": []})[
            "events"
        ].append((r["t"], values, r["severity"], r["status"], meta, labels))
    for entry in sched.values():
        entry["events"].sort(key=lambda e: e[0])
    n_time = sum(len(e["events"]) for e in sched.values())
    with CAServerSim({}, typed_schedule=sched) as srv:
        frames, bindings = ca_subscribe_typed(
            "127.0.0.1", srv.port, sorted(sched), n_time
        )
    fdf = spark.createDataFrame(
        [(s, bytearray(fr)) for s, _ch, fr in frames],
        "seq long, frame binary",
    )
    dim = spark.createDataFrame(
        [(int(s), c) for s, c in bindings.items()],
        "subid long, channel string",
    )
    key = F.expr("CAST(conv(substring(md5(channel), 1, 8), 16, 10) AS BIGINT)")

    def _rekey(df: DataFrame) -> DataFrame:
        # both monitors' subids fold onto one per-channel key so the
        # LOCF assembly sees a single sid per live PV
        return (
            df.withColumnRenamed("sid", "subid")
            .join(F.broadcast(dim), "subid")
            .withColumn("sid", key)
            .drop("subid", "channel")
        )

    chan_dim = dim.select("channel").distinct().withColumn("sid", key)
    assembled = (
        cwt.assemble_typed_samples(
            _rekey(cwt.decode_time_events_typed(fdf)),
            _rekey(cwt.decode_ctrl_events(fdf)),
        )
        .join(F.broadcast(chan_dim), "sid")
        .select(*_TYPED_UNION_COLS)
    )
    return _typed_dec_projection(decimate_mixed(assembled, PERIOD_1H))


SQL_CA_LIVE_SUBSCRIBE_TYPED = f"""
WITH {TYPED_SAMPLES_CTE},
live AS (
  SELECT type || ':' || channel AS channel, t, type, v, aval, eval, labels,
         asval, sval, meta, severity, status
  FROM typed_samples
  WHERE channel IN ({", ".join(f"'PV:{i}'" for i in range(30))})
    AND type NOT IN ('disabled', 'disconnected')
),
{_union_dec_ctes("live")}
{_TYPED_DEC_TAIL}
"""


def q_store_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 over the FULL 20-type union: the archive store itself holds
    typed samples — arrays, enum labels, string arrays, the metadata
    struct, markers — not just the numeric scalar family (the
    reference's per-type UDT tables, `ChannelAccessSampleValueAccess
    .java:98-207`, mapped onto parquet's native nested types). Write
    the typed fixture through the manifest-committed store path, read
    it back through the pruned scan, decimate the full union — equals
    the direct-path typed decimation bit-for-bit (same oracle), so
    hwm folding, (date, channel) clustering, and nested-column
    roundtrip are all attested for every payload family."""
    from .sources.archive_store import ArchiveStore
    from .sources.testdata import load_typed_samples

    typed = load_typed_samples(spark, sf_dir).drop("event_id")
    root = _scratch_dir("pvtyped_")
    store = ArchiveStore(spark, root + "/archive")
    store.write_samples(typed, level=0)
    back = store.read_samples(0)
    if "type" not in back.columns:
        # an empty level reads back under the F4 fallback schema
        # (numeric RAW_SCHEMA); keep the typed shape for decimation
        back = typed.limit(0)
    return _typed_dec_projection(decimate_mixed(back, PERIOD_1H))


SQL_STORE_TYPED_ROUNDTRIP = SQL_DECIMATE_TYPED_1H


def q_json_v1_mixed_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/F6/S7: JSON V1 shape projection of the mixed decimated series —
    every field the serializer writes (`JsonV1SampleSerializer.java:
    995-1174`) as typed columns, oracle-hashed. The byte-exact JSON string
    is pinned by golden tests in tests/test_json_v1.py instead (float-to-
    text rendering is engine-specific, so the string itself cannot be
    cross-engine-hashed)."""
    from .functions.json_v1 import render_columns

    dec = decimate_mixed(load_mixed_samples(spark, sf_dir), PERIOD_1H)
    return render_columns(dec).orderBy("channel", "t")


def q_json_v1_typed_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 complete: V1 shape projection over the FULL type union — enum
    states, long/double array values, and the numeric/enum ``metaData``
    blocks (`JsonV1SampleSerializer.java:1024-1100`,
    `ChannelAccessSampleValueAccess.java:413-514`)."""
    from .functions.json_v1 import render_columns

    from .sources.testdata import load_typed_samples

    dec = decimate_mixed(load_typed_samples(spark, sf_dir), PERIOD_1H)
    return render_columns(dec).orderBy("channel", "t")


def q_json_v1_raw_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 raw path: V1 shape projection of the RAW full-union series —
    scalar/array values, enum states, markers, numeric metaData with the
    double-family precision kept and integer families forced to 0
    (`ChannelAccessSampleValueAccess.java:318-514`). Complements the
    decimated projections: raw samples render with quality Original and
    no minimum/maximum."""
    from .functions.json_v1 import render_columns
    from .sources.testdata import load_typed_samples

    s = load_typed_samples(spark, sf_dir)
    return render_columns(s, raw=True).orderBy("channel", "t")


def _sql_render_raw_select() -> str:
    dbl_t = "'scalar_double','scalar_float','array_double','array_float'"
    long_t = ("'scalar_char','scalar_short','scalar_long',"
              "'array_char','array_short','array_long'")
    return f"""
jb AS (
  SELECT channel, t, type AS typ, v, sval, aval, eval, labels, asval, meta,
         severity AS sev, status AS stat,
         type IN ('disabled','disconnected') AS is_marker,
         type IN ('scalar_enum','array_enum') AS is_enum,
         CASE WHEN type = 'disabled' THEN 'Archive_Disabled'
              WHEN type = 'disconnected' THEN 'Disconnected' END AS mlabel,
         (meta IS NOT NULL
            AND (type IN ({dbl_t}) OR type IN ({long_t}))) AS has_meta,
         (type LIKE '%\\_char' ESCAPE '\\' OR type LIKE '%\\_short' ESCAPE '\\'
            OR type LIKE '%\\_long' ESCAPE '\\') AS int_fam
  FROM typed_samples
)
SELECT channel, t,
       CASE WHEN is_enum THEN 'enum'
            WHEN typ IN ({dbl_t}) THEN 'double'
            WHEN typ IN ({long_t}) THEN 'long'
            ELSE 'string' END AS rtype,
       CASE WHEN is_marker THEN 'INVALID'
            ELSE CASE sev WHEN 0 THEN 'OK' WHEN 1 THEN 'MINOR'
                 WHEN 2 THEN 'MAJOR' ELSE 'INVALID' END END AS level,
       NOT is_marker AS has_value,
       CASE WHEN is_marker THEN mlabel
            ELSE {_sql_status_case("stat")} END AS status,
       'Original' AS quality,
       CASE WHEN typ IN ('scalar_double','scalar_float') THEN v END AS value_num,
       CASE WHEN typ IN ('scalar_char','scalar_short','scalar_long')
              THEN CAST(v AS BIGINT)
            WHEN typ = 'scalar_enum' THEN CAST(eval AS BIGINT) END AS value_long,
       CASE WHEN is_marker THEN mlabel
            WHEN typ = 'scalar_string' THEN sval END AS value_str,
       CASE WHEN typ IN ('array_double','array_float')
              THEN array_to_string(aval, ',')
            WHEN typ IN ('array_char','array_short','array_long','array_enum')
              THEN array_to_string(list_transform(aval, x -> CAST(x AS BIGINT)), ',')
            WHEN typ = 'array_string' THEN array_to_string(asval, ',')
       END AS value_arr,
       CAST(NULL AS DOUBLE) AS minimum,
       CAST(NULL AS DOUBLE) AS maximum,
       CASE WHEN is_enum AND labels IS NOT NULL THEN 'enum'
            WHEN has_meta THEN 'numeric' END AS meta_type,
       CAST(CASE WHEN has_meta AND int_fam THEN 0
            WHEN has_meta THEN coalesce(meta."precision", 0) END AS INTEGER)
         AS meta_precision,
       CASE WHEN has_meta THEN meta.units END AS meta_units,
       CASE WHEN has_meta THEN meta.lower_display_limit END AS meta_disp_lo,
       CASE WHEN has_meta THEN meta.upper_display_limit END AS meta_disp_hi,
       CASE WHEN has_meta THEN meta.lower_warning_limit END AS meta_warn_lo,
       CASE WHEN has_meta THEN meta.upper_warning_limit END AS meta_warn_hi,
       CASE WHEN has_meta THEN meta.lower_alarm_limit END AS meta_alarm_lo,
       CASE WHEN has_meta THEN meta.upper_alarm_limit END AS meta_alarm_hi,
       CASE WHEN is_enum AND labels IS NOT NULL THEN array_to_string(labels, ',') END AS meta_states
FROM jb ORDER BY channel, t
"""


def _sql_status_case(col: str) -> str:
    from .functions.json_v1 import STATUS_LABELS

    whens = " ".join(
        f"WHEN {i} THEN '{lbl}'" for i, lbl in enumerate(STATUS_LABELS)
    )
    return f"CASE {col} {whens} ELSE CAST({col} AS VARCHAR) END"


def _sql_render_select() -> str:
    """SELECT mirroring functions.json_v1.render_columns over the
    ``ch(channel, win, C)`` produced by :func:`_union_dec_ctes`."""
    dbl_t = "'scalar_double','scalar_float','array_double','array_float'"
    long_t = ("'scalar_char','scalar_short','scalar_long',"
              "'array_char','array_short','array_long'")
    return f"""
jb AS (
  SELECT channel, win, C.type AS typ, C.is_agg AS is_agg,
         C.mean AS mean, C.vmin AS vmin, C.vmax AS vmax,
         C.type IN ('disabled','disconnected') AS is_marker,
         C.type IN ('scalar_enum','array_enum') AS is_enum,
         CASE WHEN C.is_agg THEN C.agg_severity
              ELSE C.firstsamp.severity END AS sev,
         CASE WHEN C.is_agg THEN C.agg_status
              ELSE C.firstsamp.status END AS stat,
         C.firstsamp.sval AS sval, C.firstsamp.aval AS aval,
         C.firstsamp.eval AS eval, C.firstsamp.labels AS labels,
         C.firstsamp.asval AS asval, C.firstsamp.meta AS meta,
         CASE WHEN C.type = 'disabled' THEN 'Archive_Disabled'
              WHEN C.type = 'disconnected' THEN 'Disconnected' END AS mlabel,
         (C.firstsamp.meta IS NOT NULL AND (C.is_agg
            OR C.type IN ({dbl_t}) OR C.type IN ({long_t}))) AS has_meta,
         (C.type LIKE '%\\_char' ESCAPE '\\' OR C.type LIKE '%\\_short' ESCAPE '\\'
            OR C.type LIKE '%\\_long' ESCAPE '\\') AS int_fam
  FROM ch
)
SELECT channel, win * {_P1H} AS t,
       CASE WHEN is_agg THEN 'minMaxDouble'
            WHEN is_enum THEN 'enum'
            WHEN typ IN ({dbl_t}) THEN 'double'
            WHEN typ IN ({long_t}) THEN 'long'
            ELSE 'string' END AS rtype,
       CASE WHEN is_marker THEN 'INVALID'
            ELSE CASE sev WHEN 0 THEN 'OK' WHEN 1 THEN 'MINOR'
                 WHEN 2 THEN 'MAJOR' ELSE 'INVALID' END END AS level,
       NOT is_marker AS has_value,
       CASE WHEN is_marker THEN mlabel
            ELSE {_sql_status_case("stat")} END AS status,
       'Interpolated' AS quality,
       CASE WHEN is_agg THEN mean END AS value_num,
       CASE WHEN typ = 'scalar_enum' THEN CAST(eval AS BIGINT) END AS value_long,
       CASE WHEN is_marker THEN mlabel
            WHEN typ = 'scalar_string' THEN sval END AS value_str,
       CASE WHEN typ IN ('array_double','array_float')
              THEN array_to_string(aval, ',')
            WHEN typ IN ('array_char','array_short','array_long','array_enum')
              THEN array_to_string(list_transform(aval, x -> CAST(x AS BIGINT)), ',')
            WHEN typ = 'array_string' THEN array_to_string(asval, ',')
       END AS value_arr,
       CASE WHEN is_agg THEN vmin END AS minimum,
       CASE WHEN is_agg THEN vmax END AS maximum,
       CASE WHEN is_enum AND labels IS NOT NULL THEN 'enum'
            WHEN has_meta THEN 'numeric' END AS meta_type,
       CAST(CASE WHEN has_meta AND int_fam THEN 0
            WHEN has_meta THEN coalesce(meta."precision", 0) END AS INTEGER)
         AS meta_precision,
       CASE WHEN has_meta THEN meta.units END AS meta_units,
       CASE WHEN has_meta THEN meta.lower_display_limit END AS meta_disp_lo,
       CASE WHEN has_meta THEN meta.upper_display_limit END AS meta_disp_hi,
       CASE WHEN has_meta THEN meta.lower_warning_limit END AS meta_warn_lo,
       CASE WHEN has_meta THEN meta.upper_warning_limit END AS meta_warn_hi,
       CASE WHEN has_meta THEN meta.lower_alarm_limit END AS meta_alarm_lo,
       CASE WHEN has_meta THEN meta.upper_alarm_limit END AS meta_alarm_hi,
       CASE WHEN is_enum AND labels IS NOT NULL THEN array_to_string(labels, ',') END AS meta_states
FROM jb ORDER BY channel, t
"""


_MIXED_AS_TYPED_CTE = """
typed_src AS (
  SELECT channel, t, type, v,
         CAST(NULL AS DOUBLE[]) AS aval,
         CAST(NULL AS INTEGER) AS eval,
         CAST(NULL AS VARCHAR[]) AS labels,
         CAST(NULL AS VARCHAR[]) AS asval,
         sval,
         CAST(NULL AS STRUCT("precision" INTEGER, units VARCHAR,
           lower_warning_limit DOUBLE, upper_warning_limit DOUBLE,
           lower_alarm_limit DOUBLE, upper_alarm_limit DOUBLE,
           lower_display_limit DOUBLE, upper_display_limit DOUBLE,
           lower_control_limit DOUBLE, upper_control_limit DOUBLE)) AS meta,
         severity, status, event_id
  FROM mixed_samples
)
"""

SQL_JSON_V1_MIXED_1H = f"""
WITH {MIXED_SAMPLES_CTE},
{_MIXED_AS_TYPED_CTE},
{_union_dec_ctes("typed_src")},
{_sql_render_select()}
"""

SQL_JSON_V1_TYPED_1H = f"""
WITH {TYPED_SAMPLES_CTE},
{_union_dec_ctes("typed_samples")},
{_sql_render_select()}
"""

SQL_JSON_V1_RAW_TYPED = f"""
WITH {TYPED_SAMPLES_CTE},
{_sql_render_raw_select()}
"""

SQL_JSON_V1_CA_WIRE = SQL_JSON_V1_RAW_TYPED


def q_union_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: retention-fallback ordered union — coarse (1 h aggregated) level
    serves t < HI, raw level serves t >= HI (`Api10Controller.java:443-518`)."""
    raw = load_samples(spark, sf_dir)
    dec = decimate(raw, PERIOD_1H)
    fine = raw.select(
        "channel", "t", F.col("v").alias("value"), F.lit(0).alias("level")
    )
    coarse = dec.select(
        "channel", "t", F.col("mean").alias("value"), F.lit(PERIOD_1H).alias("level")
    )
    return asof.union_levels(fine, coarse, HI)


SQL_UNION_LEVELS = f"""
WITH {SAMPLES_CTE},
{_dec_ctes(PERIOD_1H)}
SELECT * FROM (
  SELECT channel, t, mean AS value, {PERIOD_1H} AS level FROM dec WHERE t <= {HI} - 1
  UNION ALL
  SELECT channel, t, v AS value, 0 AS level FROM samples WHERE t >= {HI}
) ORDER BY channel, t
"""


#: retention-fallback fixture: raw kept from MID, 1 h level kept from LO,
#: 6 h level complete; query spans [LO - 5 d, HI] so the planner must stitch
#: 6h -> 1h -> raw (operator U1 driven by the §4 planner).
_PLAN_START = LO - 5 * DAY_NS


def q_planner_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4 planner: level selection (count -> level 0 here) + retention
    fallback union across three levels (`Api10Controller.java:396-518`)."""
    from . import cache_scope

    raw = load_samples(spark, sf_dir, channels=["PV:3"])
    # the 1 h level feeds l1, l2 (via re-agg) AND the planner's per-level
    # min(t) probes — persist it (invocation-scoped, r12: bench drains
    # it after the timed action), as a real deployment reads these
    # levels from materialized archive tables, not by re-decimating raw
    dec = cache_scope.persist(decimate(raw, PERIOD_1H))
    l0 = raw.select(
        "channel", "t", F.col("v").alias("value"), F.lit(0).alias("level")
    ).filter(F.col("t") >= MID)
    l1 = dec.select(
        "channel", "t", F.col("mean").alias("value"), F.lit(PERIOD_1H).alias("level")
    ).filter(F.col("t") >= LO)
    l2 = reaggregate(dec, PERIOD_1H, PERIOD_6H).select(
        "channel", "t", F.col("mean").alias("value"), F.lit(PERIOD_6H).alias("level")
    )
    return plan_samples(
        {0: l0, PERIOD_1H: l1, PERIOD_6H: l2}, _PLAN_START, HI, count=10**6
    )


SQL_PLANNER_FALLBACK = f"""
WITH {SAMPLES_CTE},
samples3 AS (SELECT * FROM samples WHERE channel = 'PV:3'),
{_dec_ctes(PERIOD_1H, src="samples3", out="dec")},
{_reagg_ctes(PERIOD_6H, src="dec", out="reagg")},
l0 AS (SELECT channel, t, v AS value, 0 AS level FROM samples3 WHERE t >= {MID}),
l1 AS (SELECT channel, t, mean AS value, {PERIOD_1H} AS level FROM dec WHERE t >= {LO}),
l2 AS (SELECT channel, t, mean AS value, {PERIOD_6H} AS level FROM reagg),
c0 AS (
  SELECT * FROM l0 WHERE t BETWEEN {_PLAN_START} AND {HI}
  UNION SELECT * FROM (SELECT * FROM l0 WHERE t <= {_PLAN_START} ORDER BY t DESC LIMIT 1)
  UNION SELECT * FROM (SELECT * FROM l0 WHERE t >= {HI} ORDER BY t ASC LIMIT 1)
),
e0 AS (SELECT min(t) AS m FROM c0),
c1 AS (
  SELECT * FROM l1 WHERE t BETWEEN {_PLAN_START} AND (SELECT least(m - 1, {HI}) FROM e0)
  UNION SELECT * FROM (SELECT * FROM l1 WHERE t <= {_PLAN_START} ORDER BY t DESC LIMIT 1)
),
e1 AS (SELECT min(t) AS m FROM c1),
c2 AS (
  SELECT * FROM l2 WHERE t BETWEEN {_PLAN_START} AND (SELECT least(m - 1, {HI}) FROM e1)
  UNION SELECT * FROM (SELECT * FROM l2 WHERE t <= {_PLAN_START} ORDER BY t DESC LIMIT 1)
)
SELECT * FROM c2 UNION ALL SELECT * FROM c1 UNION ALL SELECT * FROM c0
ORDER BY channel, t
"""


def q_rate_limit_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 minUpdatePeriod: greedy per-channel rate limit to >= 10 min
    spacing (`LimitingSampleWriterDelegate.java:20-105`). Sequential per
    channel -> applyInPandas; oracle = DuckDB recursive CTE stepping the
    keep-set (each kept row derives the next as min(t >= kept.t + period)),
    semantics additionally pinned by tests/test_streaming.py."""
    from .streaming.limits import min_update_period

    s = load_samples(spark, sf_dir).select("channel", "t", "v")
    return min_update_period(s, 600).orderBy("channel", "t")


_RATE_P = 600 * NS
SQL_RATE_LIMIT_10M = f"""
WITH RECURSIVE {SAMPLES_CTE},
base AS (SELECT channel, t, v FROM samples),
keep AS (
  SELECT channel, min(t) AS t FROM base GROUP BY channel
  UNION ALL
  SELECT channel, t FROM (
    SELECT k.channel,
           (SELECT min(b.t) FROM base b
             WHERE b.channel = k.channel AND b.t >= k.t + {_RATE_P}) AS t
    FROM keep k) WHERE t IS NOT NULL
)
SELECT b.channel, b.t, b.v
FROM base b JOIN keep USING (channel, t) ORDER BY channel, t
"""


def q_heartbeat_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 maxUpdatePeriod: re-emit the held value hourly through silent
    gaps (`LimitingSampleWriterDelegate` heartbeat)."""
    from .streaming.limits import max_update_period

    s = load_samples(spark, sf_dir).select("channel", "t", "v")
    return max_update_period(s, PERIOD_1H).orderBy("channel", "t", "heartbeat")


SQL_HEARTBEAT_1H = f"""
WITH {SAMPLES_CTE},
base AS (SELECT channel, t, v FROM samples),
iv AS (
  SELECT channel, t, v, lead(t) OVER (PARTITION BY channel ORDER BY t) AS tn
  FROM base
),
beats AS (
  SELECT channel, t + g.k * {PERIOD_1H * NS} AS t, v, TRUE AS heartbeat
  FROM iv, LATERAL (
    SELECT unnest(generate_series(1, CAST((tn - 1 - t) // {PERIOD_1H * NS} AS INT))) AS k) g
  WHERE tn IS NOT NULL
)
SELECT channel, t, v, FALSE AS heartbeat FROM base
UNION ALL SELECT * FROM beats
ORDER BY channel, t, heartbeat
"""


def q_markers_disconnect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: disconnected markers at connected->false transitions
    (`ControlSystemSupport.java:208-258`); state = event_type != 'error'."""
    from .streaming.markers import transition_markers

    ev = load_events(spark, sf_dir)
    states = ev.select(
        F.concat(F.lit("PV:"), F.col("user_id").cast("string")).alias("channel"),
        F.expr("(ts div 1000) * 1000").alias("t"),
        (F.col("event_type") != "error").alias("connected"),
        F.col("event_id"),
    )
    w = Window.partitionBy("channel", "t").orderBy("event_id")
    states = (
        states.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "event_id")
    )
    return transition_markers(states).orderBy("channel", "t")


SQL_MARKERS_DISCONNECT = """
WITH states AS (
  SELECT channel, t, connected FROM (
    SELECT 'PV:' || CAST(user_id AS VARCHAR) AS channel,
           epoch_ns(ts) AS t,
           event_type != 'error' AS connected,
           row_number() OVER (PARTITION BY user_id, epoch_ns(ts) ORDER BY event_id) AS _rn
    FROM events) WHERE _rn = 1
),
d AS (
  SELECT channel, t, connected,
         lag(connected) OVER (PARTITION BY channel ORDER BY t) AS prev
  FROM states
)
SELECT channel, t, 'disconnected' AS type FROM d
WHERE NOT connected AND (prev IS NULL OR prev)
ORDER BY channel, t
"""


#: supervisor grace before a transition becomes a T5 disconnect marker
CONNECTION_GRACE_S = 1800


def q_heartbeat_connected_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 + T5 fused, the reference's ACTUAL heartbeat contract: a
    channel re-emits its last sample every max_update_period only WHILE
    CONNECTED (`updateSampleTimeStamp`; an outage gets a T5 marker, not
    fabricated samples asserting the stale payload persisted through
    it). Heartbeats inside each hold-forward gap stop at the first
    disconnect marker in that gap; channels without markers keep the
    plain heartbeat_1h behavior.

    The marker is stamped at transition + CONNECTION_GRACE (the
    supervisor declares the channel dead after a grace period, like the
    CA client's connection timeout) — raw transitions coincide with
    sample timestamps by construction in this dataset (every error
    event IS a sample), which would make the strictly-inside-the-gap
    condition vacuous."""
    from .streaming.limits import max_update_period
    from .streaming.markers import transition_markers

    s = load_samples(spark, sf_dir).select("channel", "t", "v")
    ev = load_events(spark, sf_dir)
    states = ev.select(
        F.concat(F.lit("PV:"), F.col("user_id").cast("string")).alias("channel"),
        F.expr("(ts div 1000) * 1000").alias("t"),
        (F.col("event_type") != "error").alias("connected"),
        F.col("event_id"),
    )
    w = Window.partitionBy("channel", "t").orderBy("event_id")
    states = (
        states.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "event_id")
    )
    markers = transition_markers(states).withColumn(
        "t", F.col("t") + F.lit(CONNECTION_GRACE_S * NS)
    )
    return max_update_period(s, PERIOD_1H, markers=markers).orderBy(
        "channel", "t", "heartbeat"
    )


def q_heartbeat_stream_connected_1h(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VERDICT r10 #4: the connection-aware heartbeat on the
    STREAMING-NATIVE path. The 30-channel lifecycle slice of samples
    and its graced T5 disconnect markers are replayed as two file
    streams through :func:`streaming.limits.max_update_period_stream`
    (samples + markers fused into one per-channel GroupState walk), in
    two chunks with a RESTART in between (second run resumes the
    first's checkpoint, carrying the open gap and its marker clip
    point across the boundary). The oracle is the batch connected-heartbeat
    chain on the same slice, so a value-hash match proves the
    streaming operator's replay determinism AND its T4+T5 fusion
    (`LimitingSampleWriterDelegate.java:20-105` +
    `ControlSystemSupport.java:208-258`) in one row."""
    from .streaming.limits import max_update_period_stream
    from .streaming.markers import transition_markers

    root = _scratch_dir("pvhb_stream_")
    s = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v"
    )
    ev = load_events(spark, sf_dir)
    states = ev.select(
        F.concat(F.lit("PV:"), F.col("user_id").cast("string")).alias(
            "channel"
        ),
        F.expr("(ts div 1000) * 1000").alias("t"),
        (F.col("event_type") != "error").alias("connected"),
        F.col("event_id"),
    ).filter(F.col("channel").isin(_LIFECYCLE_CHANNELS))
    w = Window.partitionBy("channel", "t").orderBy("event_id")
    states = (
        states.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "event_id")
    )
    markers = transition_markers(states).withColumn(
        "t", F.col("t") + F.lit(CONNECTION_GRACE_S * NS)
    )
    out_schema = "channel string, t long, v double, heartbeat boolean"
    bounds = s.agg(F.min("t"), F.max("t")).first()
    if bounds[0] is None:  # empty slice: nothing to stream
        return spark.createDataFrame([], out_schema)
    cut = bounds[0] + (bounds[1] - bounds[0]) // 2
    sdir, mdir, outdir = f"{root}/s", f"{root}/m", f"{root}/out"
    mschema = "channel string, t long, type string"

    def _phase(pred):
        s.filter(pred).write.mode("append").parquet(sdir)
        markers.filter(pred).write.mode("append").parquet(mdir)

    def _run():
        out = max_update_period_stream(
            spark.readStream.schema("channel string, t long, v double")
            .parquet(sdir),
            PERIOD_1H,
            markers=spark.readStream.schema(mschema).parquet(mdir),
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            # a silent timeout would race the second run against this
            # one on the same checkpoint, or hash partial output — turn
            # it into a diagnosable failure (round-11 review)
            q.stop()
            raise TimeoutError(
                "heartbeat_stream_connected_1h: streaming run exceeded "
                "600s"
            )

    _phase(F.col("t") < cut)
    _run()
    _phase(F.col("t") >= cut)
    _run()  # restart on the same checkpoint
    return (
        spark.read.schema(out_schema)
        .parquet(outdir)
        .orderBy("channel", "t", "heartbeat")
    )


SQL_HEARTBEAT_CONNECTED_1H = f"""
WITH {{SAMPLES_CTE}},
base AS (SELECT channel, t, v FROM samples),
states AS (
  SELECT channel, t, connected FROM (
    SELECT 'PV:' || CAST(user_id AS VARCHAR) AS channel,
           epoch_ns(ts) AS t,
           event_type != 'error' AS connected,
           row_number() OVER (PARTITION BY user_id, epoch_ns(ts) ORDER BY event_id) AS _rn
    FROM events) WHERE _rn = 1
),
d AS (
  SELECT channel, t, connected,
         lag(connected) OVER (PARTITION BY channel ORDER BY t) AS prev
  FROM states
),
marks AS (
  SELECT channel, t + {{GRACE_NS}} AS t
  FROM d WHERE NOT connected AND (prev IS NULL OR prev)
),
iv AS (
  SELECT channel, t, v, lead(t) OVER (PARTITION BY channel ORDER BY t) AS tn
  FROM base
),
iv2 AS (
  -- heartbeats stop at the FIRST disconnect marker strictly inside the
  -- gap; (channel, t) is unique in iv, so this group is one source row
  SELECT iv.channel, iv.t, iv.v, coalesce(min(m.t), iv.tn) AS tn
  FROM iv LEFT JOIN marks m
    ON m.channel = iv.channel AND m.t > iv.t AND m.t < iv.tn
  WHERE iv.tn IS NOT NULL
  GROUP BY iv.channel, iv.t, iv.v, iv.tn
),
beats AS (
  SELECT channel, t + g.k * {PERIOD_1H * NS} AS t, v, TRUE AS heartbeat
  FROM iv2, LATERAL (
    SELECT unnest(generate_series(1, CAST((tn - 1 - t) // {PERIOD_1H * NS} AS INT))) AS k) g
)
SELECT channel, t, v, FALSE AS heartbeat FROM base
UNION ALL SELECT * FROM beats
ORDER BY channel, t, heartbeat
""".replace("{SAMPLES_CTE}", SAMPLES_CTE.strip().rstrip()).replace(
    "{GRACE_NS}", str(CONNECTION_GRACE_S * NS)
)

#: same chain as the batch connected heartbeat, restricted to the
#: 30-channel lifecycle slice the streaming replay ingests (base AND
#: marks — a marker on an out-of-slice channel never meets a sample,
#: so restricting both is the cheap equivalent form)
_LIFECYCLE_IN = ", ".join(f"'PV:{i}'" for i in range(30))
SQL_HEARTBEAT_STREAM_CONNECTED_1H = (
    SQL_HEARTBEAT_CONNECTED_1H
    .replace(
        "base AS (SELECT channel, t, v FROM samples)",
        "base AS (SELECT channel, t, v FROM samples"
        f" WHERE channel IN ({_LIFECYCLE_IN}))",
    )
    .replace(
        "FROM d WHERE NOT connected AND (prev IS NULL OR prev)",
        "FROM d WHERE NOT connected AND (prev IS NULL OR prev)"
        f" AND channel IN ({_LIFECYCLE_IN})",
    )
)
assert SQL_HEARTBEAT_STREAM_CONNECTED_1H.count(_LIFECYCLE_IN) == 2  # both replaces hit


def q_channel_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 + archive-info: glob 'PV:1*' over channel names, per-channel sample
    count / time extent / mean (`Api10Controller.compileGlobPattern:307-345`)."""
    from .functions.glob import glob_to_like

    s = load_samples(spark, sf_dir)
    return (
        s.filter(F.col("channel").like(glob_to_like("PV:1*")))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
            (
                F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).cast("double")
                / F.count(F.lit(1))
                / F.lit(100.0)
            ).alias("v_mean"),
        )
        .orderBy("channel")
    )


SQL_CHANNEL_GLOB = f"""
WITH {SAMPLES_CTE}
SELECT channel, count(*) AS n_samples, min(t) AS t_min, max(t) AS t_max,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS v_mean
FROM samples WHERE channel LIKE 'PV:1%'
GROUP BY channel ORDER BY channel
"""


def q_channel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: raw regex channel match (`Api10Controller.channelsByRegExp:
    189-211`) — same archive-info aggregate as the glob query, pattern
    applied via rlike (anchored, so Spark/DuckDB search semantics agree)."""
    s = load_samples(spark, sf_dir)
    return (
        s.filter(F.col("channel").rlike("^PV:1[0-9]$"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
        )
        .orderBy("channel")
    )


SQL_CHANNEL_REGEX = f"""
WITH {SAMPLES_CTE}
SELECT channel, count(*) AS n_samples, min(t) AS t_min, max(t) AS t_max
FROM samples WHERE regexp_matches(channel, '^PV:1[0-9]$')
GROUP BY channel ORDER BY channel
"""


def q_enabling_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: enabling-channel link — PV:0's value gates archiving of every
    other channel (`channelaccess/internal/EnablingChannel.java`): a sample
    survives iff PV:0's most recent value at its timestamp is >= 0.5.
    Summarized per channel to keep the compare set small."""
    s = load_samples(spark, sf_dir).filter(F.col("channel") != "PV:0")
    en = load_samples(spark, sf_dir, channels=["PV:0"]).select(
        "t", (F.col("v") >= 0.5).alias("en")
    )
    gated = asof.enabling_filter(s, en)
    return (
        gated.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
        )
        .orderBy("channel")
    )


SQL_ENABLING_LINK = f"""
WITH {SAMPLES_CTE},
e AS (SELECT t, v >= 0.5 AS en FROM samples WHERE channel = 'PV:0'),
iv AS (SELECT t AS et, en, lead(t) OVER (ORDER BY t) AS et_next FROM e),
gated AS (
  SELECT s.channel, s.t FROM samples s
  JOIN iv ON s.t >= iv.et AND (s.t < iv.et_next OR iv.et_next IS NULL)
  WHERE iv.en AND s.channel <> 'PV:0'
)
SELECT channel, count(*) AS n_kept, min(t) AS t_min, max(t) AS t_max
FROM gated GROUP BY channel ORDER BY channel
"""


def q_enabling_link_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 generalized: PER-CHANNEL enabling links
    (asof.enabling_filter_linked; `ConfigurationOptions.java:76` lets
    every channel name its own enabling PV). Even-numbered channels
    follow PV:0, odd follow PV:1, every third channel is unlinked
    (always archived) — covering the gated-true / gated-false /
    ungated paths in one result."""
    s = load_samples(spark, sf_dir).filter(
        ~F.col("channel").isin("PV:0", "PV:1")
    )
    en = load_samples(spark, sf_dir, channels=["PV:0", "PV:1"]).select(
        "channel", "t", (F.col("v") >= 0.5).alias("en")
    )
    links = (
        s.select("channel")
        .distinct()
        .withColumn(
            "_n", F.regexp_extract("channel", "(\\d+)$", 1).cast("int")
        )
        .filter(F.col("_n") % 3 != 2)
        .select(
            "channel",
            F.when(F.col("_n") % 2 == 0, F.lit("PV:0"))
            .otherwise(F.lit("PV:1"))
            .alias("enabling_channel"),
        )
    )
    gated = asof.enabling_filter_linked(s, en, links)
    return (
        gated.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
        )
        .orderBy("channel")
    )


SQL_ENABLING_LINK_MULTI = f"""
WITH {{SAMPLES}},
ch AS (
  SELECT DISTINCT channel,
         CAST(regexp_extract(channel, '(\\d+)$', 1) AS INT) AS n
  FROM samples WHERE channel NOT IN ('PV:0', 'PV:1')
),
links AS (
  SELECT channel,
         CASE WHEN n % 2 = 0 THEN 'PV:0' ELSE 'PV:1' END AS ech
  FROM ch WHERE n % 3 <> 2
),
e AS (SELECT channel AS ech, t, v >= 0.5 AS en
      FROM samples WHERE channel IN ('PV:0', 'PV:1')),
iv AS (SELECT ech, t AS et, en,
              lead(t) OVER (PARTITION BY ech ORDER BY t) AS et_next FROM e),
base AS (
  SELECT s.channel, s.t, l.ech FROM samples s
  LEFT JOIN links l ON s.channel = l.channel
  WHERE s.channel NOT IN ('PV:0', 'PV:1')
),
gated AS (
  SELECT b.channel, b.t FROM base b
  LEFT JOIN iv ON b.ech = iv.ech AND b.t >= iv.et
              AND (b.t < iv.et_next OR iv.et_next IS NULL)
  WHERE b.ech IS NULL OR coalesce(iv.en, FALSE)
)
SELECT channel, count(*) AS n_kept, min(t) AS t_min, max(t) AS t_max
FROM gated GROUP BY channel ORDER BY channel
""".replace("{SAMPLES}", SAMPLES_CTE)


def q_channel_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: channel dimension lookup as a broadcast hash join — resolve each
    sample's channel against the registry (enabled flag + type), keep
    enabled channels only (`ChannelInformationCache.java:91-226`)."""

    from .management import ChannelConfig, ChannelRegistry

    reg = ChannelRegistry(spark, _scratch_dir("pvreg_") + "/channels")
    reg.apply(adds=[
        ChannelConfig(
            f"PV:{i}",
            enabled=(i % 3 != 0),
            options={"tier": "fast" if i % 2 == 0 else "slow"},
        )
        for i in range(200)
    ])
    dim = reg.to_df().select(
        F.col("channel_name").alias("channel"),
        "enabled",
        F.col("options")["tier"].alias("tier"),
    )
    s = load_samples(spark, sf_dir)
    return (
        s.join(F.broadcast(dim), "channel")
        .filter(F.col("enabled"))
        .groupBy("channel", "tier")
        .agg(F.count(F.lit(1)).alias("n_samples"), F.max("t").alias("t_max"))
        .orderBy("channel")
    )


SQL_CHANNEL_DIM_JOIN = f"""
WITH {SAMPLES_CTE},
dim AS (
  SELECT 'PV:' || CAST(i AS VARCHAR) AS channel,
         (i % 3) != 0 AS enabled,
         CASE WHEN i % 2 = 0 THEN 'fast' ELSE 'slow' END AS tier
  FROM (SELECT unnest(generate_series(0, 199)) AS i)
)
SELECT channel, tier, count(*) AS n_samples, max(t) AS t_max
FROM samples JOIN dim USING (channel)
WHERE enabled
GROUP BY channel, tier ORDER BY channel
"""


def q_monotonic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: monotonicity-filter accounting — events seen vs samples kept per
    channel ('skipped back' counter, `ArchivedChannelDecimationLevel.java:398-425`)."""
    ev = load_events(spark, sf_dir).select(
        F.concat(F.lit("PV:"), F.col("user_id").cast("string")).alias("channel"),
        F.expr("(ts div 1000) * 1000").alias("t"),
    )
    return (
        ev.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("t").alias("n_kept"),
            (F.count(F.lit(1)) - F.countDistinct("t")).alias("n_dropped"),
        )
        .orderBy("channel")
    )


SQL_MONOTONIC_STATS = """
SELECT 'PV:' || CAST(user_id AS VARCHAR) AS channel,
       count(*) AS n_events,
       count(DISTINCT epoch_ns(ts)) AS n_kept,
       count(*) - count(DISTINCT epoch_ns(ts)) AS n_dropped
FROM events GROUP BY user_id ORDER BY channel
"""


def q_severity_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 standalone: per (channel, day) max severity with first-wins status
    (`AveragingSampleAggregator.java:114-141`)."""
    s = load_samples(spark, sf_dir)
    day_ns = 86400 * NS
    d = s.withColumn("day", F.expr(f"t div {day_ns}"))
    return (
        d.groupBy("channel", "day")
        .agg(
            F.expr(
                "max_by(named_struct('severity', severity, 'status', status),"
                " named_struct('sev', severity, 'negt', -t))"
            ).alias("_p"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            "channel",
            "day",
            F.col("_p.severity").alias("severity"),
            F.col("_p.status").alias("status"),
            "n_samples",
        )
        .orderBy("channel", "day")
    )


SQL_SEVERITY_DAILY = f"""
WITH {SAMPLES_CTE},
d AS (SELECT channel, t // {86400 * NS} AS day, severity, status, t FROM samples),
a AS (SELECT channel, day, count(*) AS n_samples FROM d GROUP BY channel, day),
p AS (
  SELECT channel, day, severity, status FROM (
    SELECT channel, day, severity, status,
           row_number() OVER (PARTITION BY channel, day ORDER BY severity DESC, t ASC) AS rn
    FROM d) WHERE rn = 1
)
SELECT a.channel, a.day, p.severity, p.status, a.n_samples
FROM a JOIN p USING (channel, day) ORDER BY channel, day
"""


def q_fuzzy_channel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage over channel names: near-duplicate pairs at edit
    distance 1 via FastSS deletion-neighborhood blocking (guaranteed
    recall, O(n·len) candidate keys — see operators/linkage.py). The
    name set is the live channel list plus planted config-side typo
    variants ('PV_n' for every 7th channel) — the config-reconciliation
    check an operator runs after a hand-edited import."""
    from .operators import linkage

    ids = load_events(spark, sf_dir).select("user_id").distinct()
    live = ids.select(
        F.concat(F.lit("PV:"), F.col("user_id").cast("string")).alias("name")
    )
    typos = ids.filter(F.col("user_id") % 7 == 0).select(
        F.concat(F.lit("PV_"), F.col("user_id").cast("string")).alias("name")
    )
    names = live.unionByName(typos).distinct()
    return linkage.fuzzy_pairs(names).orderBy("name_a", "name_b")


SQL_FUZZY_CHANNEL_PAIRS = """
WITH ids AS (SELECT DISTINCT user_id FROM events),
names AS (
  SELECT 'PV:' || CAST(user_id AS VARCHAR) AS name FROM ids
  UNION
  SELECT 'PV_' || CAST(user_id AS VARCHAR) AS name FROM ids WHERE user_id % 7 = 0
),
keyed AS (
  SELECT name, unnest(list_distinct(list_concat([name],
           list_transform(range(0, length(name)),
                          i -> substr(name, 1, i) || substr(name, i + 2))))) AS k
  FROM names
),
pairs AS (
  SELECT DISTINCT x.name AS name_a, y.name AS name_b
  FROM keyed x JOIN keyed y ON x.k = y.k AND x.name < y.name
)
SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
FROM pairs WHERE levenshtein(name_a, name_b) <= 1
ORDER BY name_a, name_b
"""


def q_severity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Severity/value rollup across grouping sets — (channel, day),
    per-channel subtotal, grand total — in ONE pass via the native
    ROLLUP operator (Expand feeding a single partial-aggregated
    groupBy; the reference would need three queries). Grouping markers
    are materialized as explicit labels ('<all>' / -1) so the result is
    engine-portable; every aggregate is an exact selection (count, max
    severity, min/max v) — nothing order-sensitive."""
    s = load_samples(spark, sf_dir).withColumn("day", F.expr(f"t div {DAY_NS}"))
    return (
        s.rollup("channel", "day")
        .agg(
            F.grouping("channel").alias("_gc"),
            F.grouping("day").alias("_gd"),
            F.count(F.lit(1)).alias("n"),
            F.max("severity").alias("max_sev"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .select(
            F.when(F.col("_gc") == 1, F.lit("<all>"))
            .otherwise(F.col("channel"))
            .alias("channel"),
            F.when(F.col("_gd") == 1, F.lit(-1))
            .otherwise(F.col("day"))
            .cast("long")
            .alias("day"),
            "n",
            "max_sev",
            "vmin",
            "vmax",
        )
        .orderBy("channel", "day")
    )


SQL_SEVERITY_ROLLUP = f"""
WITH {SAMPLES_CTE}
SELECT CASE WHEN GROUPING(channel) = 1 THEN '<all>' ELSE channel END AS channel,
       CAST(CASE WHEN GROUPING(day) = 1 THEN -1 ELSE day END AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n,
       max(severity) AS max_sev,
       min(v) AS vmin,
       max(v) AS vmax
FROM (SELECT channel, t // {DAY_NS} AS day, severity, v FROM samples)
GROUP BY ROLLUP(channel, day)
ORDER BY channel, day
"""


GAP_THRESHOLD_NS = 30 * 1_000_000_000


def q_channel_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel inter-sample gap analysis via the lag analytic: max
    gap, mean gap (exact rational), and the count of gaps above the
    disconnect threshold (30 s — the silence the marker operator T5
    reacts to). One window over the (channel, t) ordering the load
    already established — no extra exchange beyond the load's own
    channel hash."""
    s = load_samples(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("channel").orderBy("t")
    g = s.withColumn("_gap", F.col("t") - F.lag("t").over(w)).filter(
        F.col("_gap").isNotNull()
    )
    return (
        g.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.max("_gap").alias("max_gap"),
            (F.sum("_gap") / F.count(F.lit(1))).alias("mean_gap"),
            F.sum(
                (F.col("_gap") > GAP_THRESHOLD_NS).cast("long")
            ).alias("n_silent"),
        )
        .orderBy("channel")
    )


SQL_CHANNEL_GAP_STATS = f"""
WITH {SAMPLES_CTE},
g AS (
  SELECT channel, t - lag(t) OVER (PARTITION BY channel ORDER BY t) AS gap
  FROM samples
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(max(gap) AS BIGINT) AS max_gap,
       CAST(sum(gap) AS DOUBLE) / count(*) AS mean_gap,
       CAST(sum(CASE WHEN gap > {GAP_THRESHOLD_NS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_silent
FROM g WHERE gap IS NOT NULL
GROUP BY channel ORDER BY channel
"""


# ---------------------------------------------------------------------------
# S6 retention sweep / S8 + C5 config round-trip (driver-checked)
# ---------------------------------------------------------------------------

def q_retention_sweep_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 driver-checked end-to-end: raw batch -> partitioned archive store
    -> retention sweep at a data-derived cutoff -> per-channel survivor
    stats. ``delete_older_than`` drops whole date partitions below the
    cutoff date (metadata-only, the analog of the reference's bucket drops,
    `ArchivedChannelDecimationLevel.java:1097-1320`) and rewrites only the
    boundary partition with the exact ``t >= cutoff`` predicate, so the
    read-back must equal a plain ``t >= cutoff`` filter over the input —
    which is exactly what the oracle computes. Retention is ~half the span
    (all integer ns arithmetic, reproduced bit-for-bit in SQL)."""

    from .plans.jobs import retention_sweep

    raw = load_samples(spark, sf_dir).select(
        "channel", "t", "v", "severity", "status"
    )
    tmin, tmax = raw.agg(F.min("t"), F.max("t")).first()
    if tmin is None:
        return spark.createDataFrame(
            [], "channel string, n_kept long, t_first long, t_last long"
        )
    # retention mutates (drops partitions): clone the shared base store
    # (content == one full append; the fragmented layout is irrelevant to
    # the t >= cutoff contract)
    store = _clone_store(spark, sf_dir)
    retention_s = int((tmax - tmin) // (2 * NS) + 1)
    now_ns = int(tmax + NS)
    retention_sweep(store, {0: retention_s}, now_ns)
    return (
        store.read_samples(0)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
        )
        .orderBy("channel")
    )


SQL_RETENTION_SWEEP_DAILY = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
b AS (SELECT min(t) AS tmin, max(t) AS tmax FROM samples),
c AS (
  SELECT tmax + {NS} - ((tmax - tmin) // (2 * {NS}) + 1) * {NS} AS cutoff
  FROM b
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last
FROM samples, c
WHERE t >= c.cutoff
GROUP BY channel ORDER BY channel
"""


def q_retention_fallback_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 ∘ U1 composed end-to-end: retention sweeps the FINE level of a
    real store (partition drops + exact boundary trim), then the §4
    planner serves a range straddling the trimmed boundary — so the
    coarser level must cover exactly the swept span and the fine level
    takes over at the retention cutoff, with the limit-mode contract
    (seed row before start, closing row after end) held across the trim
    (`ArchivedChannelDecimationLevel.java:1097-1320` retention +
    `Api10Controller.java:443-518` fallback). The oracle recomputes the
    cutoff and the two-level walk from the raw series, so a sweep that
    trims one row too many/few, or a planner that stitches at the wrong
    boundary, hash-mismatches."""
    from .plans.jobs import retention_sweep

    raw = load_samples(spark, sf_dir)
    tmin, tmax = raw.agg(F.min("t"), F.max("t")).first()
    if tmin is None:
        return spark.createDataFrame(
            [], "channel string, t long, value double, level int"
        )
    store = _clone_store(spark, sf_dir)
    # materialize the 1 h level for the planned channel (a deployment's
    # cascade keeps coarse levels with longer retention than fine ones)
    dec = decimate(load_samples(spark, sf_dir, channels=["PV:3"]), PERIOD_1H)
    store.write_samples(dec, level=PERIOD_1H)
    retention_s = int((tmax - tmin) // (2 * NS) + 1)
    retention_sweep(store, {0: retention_s}, now_ns=int(tmax + NS))
    l0 = store.read_samples(0, channels=["PV:3"]).select(
        "channel", "t", F.col("v").alias("value"), F.lit(0).alias("level")
    )
    l1 = store.read_samples(PERIOD_1H, channels=["PV:3"]).select(
        "channel", "t", F.col("mean").alias("value"),
        F.lit(PERIOD_1H).alias("level"),
    )
    return plan_samples(
        {0: l0, PERIOD_1H: l1}, _PLAN_START, HI, count=10**6
    )


SQL_RETENTION_FALLBACK_PLAN = f"""
WITH {SAMPLES_CTE},
b AS (SELECT min(t) AS tmin, max(t) AS tmax FROM samples),
cut AS (
  SELECT tmax + {NS} - ((tmax - tmin) // (2 * {NS}) + 1) * {NS} AS cutoff
  FROM b
),
samples3 AS (SELECT * FROM samples WHERE channel = 'PV:3'),
{_dec_ctes(PERIOD_1H, src="samples3", out="dec")},
l0 AS (
  SELECT channel, t, v AS value, 0 AS level FROM samples3, cut
  WHERE t >= cutoff
),
l1 AS (SELECT channel, t, mean AS value, {PERIOD_1H} AS level FROM dec),
c0 AS (
  SELECT * FROM l0 WHERE t BETWEEN {_PLAN_START} AND {HI}
  UNION SELECT * FROM (
    SELECT * FROM l0 WHERE t <= {_PLAN_START} ORDER BY t DESC LIMIT 1)
  UNION SELECT * FROM (
    SELECT * FROM l0 WHERE t >= {HI} ORDER BY t ASC LIMIT 1)
),
e0 AS (SELECT min(t) AS m FROM c0),
c1 AS (
  SELECT * FROM l1
  WHERE t BETWEEN {_PLAN_START} AND (SELECT least(m - 1, {HI}) FROM e0)
  UNION SELECT * FROM (
    SELECT * FROM l1 WHERE t <= {_PLAN_START} ORDER BY t DESC LIMIT 1)
)
SELECT * FROM c1 UNION ALL SELECT * FROM c0 ORDER BY channel, t
"""


def q_config_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 + C5 driver-checked: derive a deterministic per-channel
    configuration from the corpus (enabled = even PV number; an extra 60 s
    decimation level for every third channel; an option carrying the
    url-encoded channel name), export it to the reference XML schema
    (`ArchiveServerConfigurationXmlExport.java:55-190`), re-import, and
    return the round-tripped table. The output matches the oracle only if
    export -> import is lossless across every field family (attributes with
    defaults omitted, decimation levels, control-system options) AND the
    C5 url codec percent-encodes exactly like the oracle's ``replace``.

    The channel list is a bounded dimension (the registry is driver-side
    metadata by design, like the reference's channel config tables), so the
    one ``collect()`` here is a dimension read, not a data-path collect."""
    from . import management as M

    chans = sorted(
        r[0]
        for r in load_samples(spark, sf_dir).select("channel").distinct().collect()
    )
    cfgs = []
    for name in chans:
        num = int(name.split(":", 1)[1])
        levels = {0: 0, 3600: 30 * 86400}
        if num % 3 == 0:
            levels[60] = 86400
        cfgs.append(
            M.ChannelConfig(
                channel_name=name,
                enabled=(num % 2 == 0),
                decimation_levels=levels,
                options={"display_name": M.url_encode(name)},
            )
        )
    back = M.import_xml(M.export_xml(cfgs))
    rows = [
        (
            c.channel_name,
            c.control_system_type,
            c.enabled,
            ",".join(
                f"{p}:{r}" for p, r in sorted(c.decimation_levels.items())
            ),
            c.options["display_name"],
        )
        for c in back
    ]
    schema = (
        "channel_name string, control_system_type string, enabled boolean,"
        " levels string, display_name string"
    )
    return spark.createDataFrame(rows, schema).orderBy("channel_name")


SQL_CONFIG_XML_ROUNDTRIP = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
ch AS (SELECT DISTINCT channel FROM samples),
n AS (SELECT channel, CAST(substr(channel, 4) AS INTEGER) AS num FROM ch)
SELECT channel AS channel_name,
       'channel_access' AS control_system_type,
       (num % 2 = 0) AS enabled,
       CASE WHEN num % 3 = 0 THEN '0:0,60:86400,3600:2592000'
            ELSE '0:0,3600:2592000' END AS levels,
       replace(channel, ':', '%3A') AS display_name
FROM n ORDER BY channel_name
"""


def q_missing_level_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 driver-checked: reading a decimation level that was never
    configured/written yields an EMPTY result with the level's stable
    schema — not an error (`ArchiveAccessServiceImpl.java:794-805`). The
    store is real (raw level written) so the path exercises the per-level
    existence check, not a missing root. The driver row pins the
    emptiness and the column NAMES (on a zero-row frame the value hash is
    vacuous and pandas dtypes degrade to object, so column TYPES are not
    checkable there — ADVICE r2); the type contract is pinned instead by
    tests/test_archive_store.py's schema assertion on the same path."""

    from .sources.archive_store import ArchiveStore

    # read-only on a level that does not exist: the shared base store
    # serves as-is, no copy
    store = ArchiveStore(
        spark, _fragmented_store_root(spark, sf_dir) + "/archive"
    )
    return store.read_samples(PERIOD_1H).select(
        "channel", "t", "mean", "n_samples", "quality"
    )


SQL_MISSING_LEVEL_EMPTY = """
SELECT CAST(NULL AS VARCHAR) AS channel,
       CAST(NULL AS BIGINT) AS t,
       CAST(NULL AS DOUBLE) AS mean,
       CAST(NULL AS BIGINT) AS n_samples,
       CAST(NULL AS VARCHAR) AS quality
WHERE FALSE
"""


def q_compact_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7-analog driver-checked: the compaction pass (`archive_store.
    compact`, the OPTIMIZE rewrite standing in for the reference's 96 MB
    bucket-size rollover bookkeeping) must be LOSSLESS. The raw series is
    written in two interleaved appends (fragmenting every date partition),
    compacted to one sorted file per partition, and read back; per-channel
    row counts, distinct-timestamp counts, time bounds, AND value/severity
    checksums (exact scaled-int sums — order-insensitive, engine-exact)
    must equal a straight aggregation over the input — any dropped,
    duplicated, or value-corrupted row moves one of them (ADVICE r2: the
    round-2 oracle was count/timestamp-only, blind to payload corruption)."""

    # the shared base store IS the two-interleaved-appends construction
    # (>= 2 files per touched date partition); compaction mutates -> clone
    store = _clone_store(spark, sf_dir)
    store.compact(0)
    return (
        store.read_samples(0)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("t").alias("n_ts"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                "v_checksum"
            ),
            F.sum(F.col("severity").cast("bigint")).alias("sev_checksum"),
        )
        .orderBy("channel")
    )


SQL_COMPACT_INVARIANCE = f"""
WITH {SAMPLES_CTE.strip().rstrip()}
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT t) AS BIGINT) AS n_ts,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_checksum,
       CAST(sum(severity) AS BIGINT) AS sev_checksum
FROM samples
GROUP BY channel ORDER BY channel
"""


def q_compact_zorder_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact(zorder=True) — the Morton (channel-hash × time) clustering
    rewrite — must be exactly as LOSSLESS as the default channel-major
    compaction: layout is the only thing allowed to change. Same
    fragmented-append construction and the same per-channel count/bound/
    checksum oracle as ``compact_invariance``; the pruning benefit the
    layout buys is measured separately
    (`test_zorder_compaction_prunes_time_slices`)."""

    store = _clone_store(spark, sf_dir)
    store.compact(0, zorder=True)
    return (
        store.read_samples(0)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("t").alias("n_ts"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                "v_checksum"
            ),
            F.sum(F.col("severity").cast("bigint")).alias("sev_checksum"),
        )
        .orderBy("channel")
    )


def q_store_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changed-data feed between two retained snapshots
    (`ArchiveStore.read_changes` — the Delta CDF / Iceberg
    incremental-read analog): the rows appended by the second commit of
    the shared base store, read from the MANIFEST FILE DIFF alone (cost
    proportional to the delta, never the table — the incremental-
    consumer economics a 100 TB replication/cascade job needs). The
    base store's two commits partition the raw slice by (t div 1000)
    parity, so the oracle is exactly the odd-parity half, checksummed
    per channel. Read-only on the shared fixture."""
    from .sources.archive_store import ArchiveStore

    store = ArchiveStore(
        spark, _fragmented_store_root(spark, sf_dir) + "/archive"
    )
    versions = store.level_versions(0)
    if len(versions) < 2:  # empty slice: appends of nothing commit nothing
        return spark.createDataFrame(
            [],
            "channel string, n_added long, t_first long, t_last long,"
            " v_checksum long, sev_checksum long",
        )
    added = store.read_changes(0, versions[0], versions[-1])
    return (
        added.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_added"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                "v_checksum"
            ),
            F.sum(F.col("severity").cast("bigint")).alias("sev_checksum"),
        )
        .orderBy("channel")
    )


SQL_STORE_CDC_DIFF = f"""
WITH {SAMPLES_CTE.strip().rstrip()}
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_added,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_checksum,
       CAST(sum(severity) AS BIGINT) AS sev_checksum
FROM samples
WHERE (t // 1000) % 2 = 1
GROUP BY channel ORDER BY channel
"""


def q_store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation time travel over the manifest store (the
    `VERSION AS OF` surface of sources/manifest.py's Iceberg-lite commit
    protocol; the reference's crash-safe pending-ops intent,
    `ChannelMetaDataDAOImpl.java:2124-2144`, extended to readable
    history). Two appends then a compaction produce three retained
    snapshots; each is read back via ``read_samples(at_version=...)`` and
    checksummed per channel. The oracle recomputes every snapshot from
    the raw slice: snapshot 1 = first append only, snapshot 2 = both
    appends, snapshot 3 = both appends again (compaction rewrites layout,
    never content). Any snapshot bleeding rows into another — the torn
    read this store exists to prevent — or a compaction altering payload
    breaks the hash. Data files are immutable, so an old manifest IS the
    old table bit-for-bit; the cost of the horizon is just the replaced
    files the old manifests pin (VACUUM economics)."""

    # the shared base store's version log is exactly [append even, append
    # odd]; a keep_versions=3 clone + compact appends snapshot 3
    store = _clone_store(spark, sf_dir, keep_versions=3)
    store.compact(0)
    # oldest first; len 3 by design (2 appends + compact). On an EMPTY
    # input slice compact no-ops, leaving 2 empty snapshots — the per-
    # channel aggregation is empty either way, matching the empty oracle.
    versions = store.level_versions(0)
    snaps = []
    for ordinal, v in enumerate(versions, start=1):
        snaps.append(
            store.read_samples(0, at_version=v)
            .groupBy("channel")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("t").alias("t_first"),
                F.max("t").alias("t_last"),
                F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                    "v_checksum"
                ),
                F.sum(F.col("severity").cast("bigint")).alias("sev_checksum"),
            )
            .select(F.lit(ordinal).alias("snapshot"), "*")
        )
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out.orderBy("snapshot", "channel")


SQL_STORE_TIME_TRAVEL = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
snap AS (
  SELECT 1 AS snapshot, * FROM samples WHERE (t // 1000) % 2 = 0
  UNION ALL
  SELECT 2 AS snapshot, * FROM samples
  UNION ALL
  SELECT 3 AS snapshot, * FROM samples
)
SELECT CAST(snapshot AS INTEGER) AS snapshot, channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_checksum,
       CAST(sum(severity) AS BIGINT) AS sev_checksum
FROM snap GROUP BY snapshot, channel ORDER BY snapshot, channel
"""


def q_plot_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 plot downsampling (Jugel et al., VLDB 2014): per (channel,
    6 h pixel bucket) the first/last/min/max samples — the reduction
    that rasterizes identically to the full series on a plot of that
    width. The archiver UI problem the reference solves with decimation
    levels (`manual/index.xml:222-256`) has this as its display-side
    complement. ONE hash aggregation of min/max/min_by/max_by selectors,
    all map-side combinable; value ties resolve to the earliest t, so
    the result is deterministic at any parallelism."""
    from .operators.resample import m4_downsample

    return m4_downsample(load_samples(spark, sf_dir), PERIOD_6H)


_M4_P_NS = PERIOD_6H * NS

SQL_PLOT_DOWNSAMPLE_M4 = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
b AS (
  SELECT channel, t - ((t % {_M4_P_NS} + {_M4_P_NS}) % {_M4_P_NS}) AS bucket, t, v FROM samples
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY t) AS rf,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY t DESC) AS rl,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY v, t) AS rmin,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY v DESC, t) AS rmax
  FROM b
)
SELECT channel, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rf = 1 THEN t END) AS BIGINT) AS t_first,
       max(CASE WHEN rf = 1 THEN v END) AS v_first,
       CAST(max(CASE WHEN rmin = 1 THEN t END) AS BIGINT) AS t_min,
       max(CASE WHEN rmin = 1 THEN v END) AS v_min,
       CAST(max(CASE WHEN rmax = 1 THEN t END) AS BIGINT) AS t_max,
       max(CASE WHEN rmax = 1 THEN v END) AS v_max,
       CAST(max(CASE WHEN rl = 1 THEN t END) AS BIGINT) AS t_last,
       max(CASE WHEN rl = 1 THEN v END) AS v_last
FROM r GROUP BY channel, bucket ORDER BY channel, bucket
"""


def q_counter_rate_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring ``rate()`` over the sample series: per (channel, 6 h
    window) the per-second increase of a monotonic counter, counting a
    value drop as a counter reset (the increase restarts from the new
    value). Exact scaled-integer increase sums (order-insensitive), one
    IEEE divide per window; the lag window and the window aggregation
    reuse the load's channel hash — one data exchange total."""
    from .operators.resample import counter_rate

    return counter_rate(load_samples(spark, sf_dir), PERIOD_6H)


SQL_COUNTER_RATE_6H = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
q AS (
  SELECT channel, t, CAST(floor(v * 100 + 0.5) AS BIGINT) AS qv FROM samples
),
l AS (
  SELECT *, lag(qv) OVER (PARTITION BY channel ORDER BY t) AS prev FROM q
)
SELECT channel, CAST(t - ((t % {_M4_P_NS} + {_M4_P_NS}) % {_M4_P_NS}) AS BIGINT) AS w_start,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN qv < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
       CAST(sum(CASE WHEN qv >= prev THEN qv - prev ELSE qv END) AS DOUBLE)
         / {100 * PERIOD_6H} AS rate_per_s
FROM l WHERE prev IS NOT NULL
GROUP BY channel, w_start ORDER BY channel, w_start
"""


def q_resample_linear_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto the epoch-aligned 1 h grid — the
    "linear" retrieval operator archiver HTTP APIs expose next to raw
    and LOCF (the reference's own decimation is strictly hold-forward,
    `AbstractStatefulSampleDecimator.java:74-92`; display stacks
    interpolate). Segments emit their covered grid points via the same
    sequence+explode construction decimate.py uses for window splitting;
    the interpolation expression tree is fixed, so any IEEE engine
    reproduces the bits. Nothing is extrapolated past the last sample."""
    from .operators.resample import resample_linear

    return resample_linear(
        load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS), PERIOD_1H
    )


_RL_P_NS = PERIOD_1H * NS
_RL_CAP = 100_000

SQL_RESAMPLE_LINEAR_1H = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
lsamples AS (
  SELECT * FROM samples
  WHERE channel IN ({", ".join(f"'PV:{i}'" for i in range(30))})
),
l AS (
  SELECT channel, t, v,
         lead(t) OVER (PARTITION BY channel ORDER BY t) AS t_next,
         lead(v) OVER (PARTITION BY channel ORDER BY t) AS v_next
  FROM lsamples
),
segs AS (
  SELECT *, t + (((-t) % {_RL_P_NS} + {_RL_P_NS}) % {_RL_P_NS}) AS g0,
    CASE WHEN t_next IS NOT NULL
         THEN least(t_next - 1,
                    t + (((-t) % {_RL_P_NS} + {_RL_P_NS}) % {_RL_P_NS})
                    + {(_RL_CAP - 1) * _RL_P_NS})
         WHEN ((t % {_RL_P_NS}) + {_RL_P_NS}) % {_RL_P_NS} = 0 THEN t
         END AS g_stop
  FROM l
),
pts AS (
  SELECT channel, t, v, t_next, v_next,
         unnest(generate_series(g0, g_stop, {_RL_P_NS})) AS g
  FROM segs WHERE g_stop IS NOT NULL AND g0 <= g_stop
)
SELECT channel, CAST(g AS BIGINT) AS t,
       CASE WHEN t_next IS NOT NULL
            THEN v + (v_next - v) * (CAST(g - t AS DOUBLE)
                                     / CAST(t_next - t AS DOUBLE))
            ELSE v END AS v_interp
FROM pts ORDER BY channel, t
"""


def q_plot_query_240px(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The archiver UI's plot request end-to-end: §4 aggregate navigation
    (count-driven decimation-level selection, `Api10Controller.java:
    396-442`) composed with M4 display reduction. A 240-pixel plot of
    [LO, HI) (10 days) has a perfect period of exactly 3600 s, so the
    planner must choose the materialized 1 h level — the oracle is built
    statically against that level, which pins the selection itself: if
    the planner ever picked raw or 6 h, the values (time-weighted means
    vs raw samples) would hash-mismatch. The chosen level is then
    M4-reduced at one bucket per pixel. At 100 TB this is THE dashboard
    query: the level table is ~period× smaller than raw, the M4 agg is
    one exchange, and the answer ships 4 points per pixel."""
    from .operators.resample import m4_downsample
    from .plans.planner import select_decimation_level

    pixels = 240
    bucket_s = (HI - LO) // (pixels * NS)  # 3600
    best = select_decimation_level([0, PERIOD_1H, PERIOD_6H], LO, HI, pixels)
    raw = load_samples(spark, sf_dir, channels=["PV:3"])
    if best == 0:
        src = raw.select("channel", "t", "v")
    elif best == PERIOD_1H:
        src = decimate(raw, PERIOD_1H).select(
            "channel", "t", F.col("mean").alias("v")
        )
    else:
        src = reaggregate(decimate(raw, PERIOD_1H), PERIOD_1H, PERIOD_6H).select(
            "channel", "t", F.col("mean").alias("v")
        )
    # a decimated sample stamped t represents [t, t+period): the plot
    # range is the half-open [LO, HI)
    sel = src.filter(F.col("t").between(LO, HI - 1))
    return m4_downsample(sel, bucket_s).withColumn(
        "level", F.lit(best).cast("int")
    )


SQL_PLOT_QUERY_240PX = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
samples3 AS (SELECT * FROM samples WHERE channel = 'PV:3'),
{_dec_ctes(PERIOD_1H, src="samples3", out="dec")},
src AS (
  SELECT channel, t, mean AS v FROM dec WHERE t BETWEEN {LO} AND {HI - 1}
),
b AS (
  -- floor-aligned bucket via pmod (t - ((t % P + P) % P)), matching the
  -- Spark m4_downsample path for t < 0 too; DuckDB's // truncates toward
  -- zero on hugeint-free BIGINTs only for t >= 0 (ADVICE r3)
  SELECT channel,
         t - ((t % {PERIOD_1H * NS} + {PERIOD_1H * NS}) % {PERIOD_1H * NS})
           AS bucket, t, v
  FROM src
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY t) AS rf,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY t DESC) AS rl,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY v, t) AS rmin,
    row_number() OVER (PARTITION BY channel, bucket ORDER BY v DESC, t) AS rmax
  FROM b
)
SELECT channel, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rf = 1 THEN t END) AS BIGINT) AS t_first,
       max(CASE WHEN rf = 1 THEN v END) AS v_first,
       CAST(max(CASE WHEN rmin = 1 THEN t END) AS BIGINT) AS t_min,
       max(CASE WHEN rmin = 1 THEN v END) AS v_min,
       CAST(max(CASE WHEN rmax = 1 THEN t END) AS BIGINT) AS t_max,
       max(CASE WHEN rmax = 1 THEN v END) AS v_max,
       CAST(max(CASE WHEN rl = 1 THEN t END) AS BIGINT) AS t_last,
       max(CASE WHEN rl = 1 THEN v END) AS v_last,
       CAST({PERIOD_1H} AS INTEGER) AS level
FROM r GROUP BY channel, bucket ORDER BY channel, bucket
"""


N_HIST_BINS = 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel equal-width value histogram (the archive viewer's
    distribution panel): 20 bins between the channel's own min/max.
    Two hash aggregations over one scan — per-channel bounds, broadcast
    back, then (channel, bin) counts. Bin assignment is a fixed IEEE
    expression tree ((v - lo) / (hi - lo) * bins, floored), so every
    engine bins identically; a constant channel degenerates to bin 0."""
    s = load_samples(spark, sf_dir).select("channel", "v")
    bounds = s.groupBy("channel").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = s.join(F.broadcast(bounds), "channel").withColumn(
        "bin",
        F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(N_HIST_BINS - 1),
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * N_HIST_BINS
                ),
            )
        ).cast("int"),
    )
    return (
        binned.groupBy("channel", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("channel", "bin")
    )


SQL_VALUE_HISTOGRAM = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
bounds AS (
  SELECT channel, min(v) AS lo, max(v) AS hi FROM samples GROUP BY channel
),
binned AS (
  SELECT s.channel,
         CAST(CASE WHEN b.hi = b.lo THEN 0
              ELSE least({N_HIST_BINS - 1},
                         floor((s.v - b.lo) / (b.hi - b.lo) * {N_HIST_BINS}))
              END AS INTEGER) AS bin
  FROM samples s JOIN bounds b USING (channel)
)
SELECT channel, bin, count(*) AS n
FROM binned GROUP BY channel, bin ORDER BY channel, bin
"""


def q_channel_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-channel outlier detection: discrete (attained) median
    and MAD — median absolute deviation — then count samples beyond
    3×MAD and locate the worst one (the alarm-forensics query an
    operator runs on a misbehaving PV). Discrete quantiles keep every
    statistic an attained value (bit-portable, no interpolation); the
    two tiny per-channel statistic tables broadcast back over the scan,
    so the series shuffles only for its own channel clustering."""
    from .operators.stats import group_discrete_quantiles

    s = load_samples(spark, sf_dir).select("channel", "t", "v")
    med = group_discrete_quantiles(s, "channel", "v", [0.5], "t").select(
        "channel", F.col("q_value").alias("med")
    )
    dev = s.join(F.broadcast(med), "channel").withColumn(
        "adev", F.abs(F.col("v") - F.col("med"))
    )
    mad = group_discrete_quantiles(dev, "channel", "adev", [0.5], "t").select(
        "channel", F.col("q_value").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "channel")
    return (
        flagged.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("med").alias("median"),
            F.first("mad").alias("mad"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
            # worst sample: max |deviation|, earliest t on exact ties
            F.max_by(
                "t", F.struct(F.col("adev"), (-F.col("t")).alias("nt"))
            ).alias("worst_t"),
            F.max_by(
                "v", F.struct(F.col("adev"), (-F.col("t")).alias("nt"))
            ).alias("worst_v"),
        )
        .orderBy("channel")
    )


SQL_CHANNEL_OUTLIERS_MAD = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
r AS (
  SELECT channel, t, v,
         row_number() OVER (PARTITION BY channel ORDER BY v, t) AS rn,
         count(*) OVER (PARTITION BY channel) AS n
  FROM samples
),
med AS (
  SELECT channel, v AS med FROM r WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
),
dev AS (
  SELECT s.channel, s.t, s.v, m.med, abs(s.v - m.med) AS adev
  FROM samples s JOIN med m USING (channel)
),
rd AS (
  SELECT *, row_number() OVER (PARTITION BY channel ORDER BY adev, t) AS rn,
         count(*) OVER (PARTITION BY channel) AS n
  FROM dev
),
mad AS (
  SELECT channel, adev AS mad FROM rd WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
),
fl AS (
  SELECT d.*, md.mad,
         row_number() OVER (PARTITION BY d.channel ORDER BY d.adev DESC, d.t)
           AS rworst
  FROM dev d JOIN mad md ON d.channel = md.channel
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n,
       max(med) AS median,
       max(mad) AS mad,
       CAST(sum(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(max(CASE WHEN rworst = 1 THEN t END) AS BIGINT) AS worst_t,
       max(CASE WHEN rworst = 1 THEN v END) AS worst_v
FROM fl GROUP BY channel ORDER BY channel
"""


_XCORR_LAGS = [-21600, -3600, 0, 3600, 21600]


def q_lagged_correlation_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation between two channels on the regular 1 h
    hold-forward grid — the "which PV leads which, and by how much"
    analysis that follows a correlation-matrix hit. Each lag's pairing is
    a hash equi-join on the computed key t + lag (never a range join);
    Pearson moments are exact DECIMAL sums per lag, bit-stable at any
    parallelism (operators/stats.lagged_channel_correlation)."""
    from .operators.stats import lagged_channel_correlation

    s = load_samples(spark, sf_dir, channels=["PV:3", "PV:7"])
    return lagged_channel_correlation(
        s, "PV:3", "PV:7", PERIOD_1H, _XCORR_LAGS
    ).orderBy("lag_s")


def _sql_lagged_corr() -> str:
    from .operators.decimate import big_to_double_duck

    p = PERIOD_1H * NS
    lag_vals = ", ".join(f"({l})" for l in _XCORR_LAGS)
    num = big_to_double_duck("(n_ * sxy - sx * sy)")
    dx = big_to_double_duck("(n_ * sxx - sx * sx)")
    dy = big_to_double_duck("(n_ * syy - sy * sy)")
    zero = "(n_ * sxx - sx * sx = 0 OR n_ * syy - sy * sy = 0)"
    return f"""
WITH {SAMPLES_CTE.strip().rstrip()},
s AS (
  SELECT channel, t, CAST(floor(v * 100 + 0.5) AS HUGEINT) AS vi
  FROM samples WHERE channel IN ('PV:3', 'PV:7')
),
bnd AS (SELECT min(t) AS lo, max(t) AS hi FROM s),
grid AS (
  SELECT unnest(generate_series(lo + (((-lo) % {p}) + {p}) % {p},
                                hi - ((hi % {p}) + {p}) % {p}, {p})) AS t
  FROM bnd WHERE lo IS NOT NULL
),
gc AS (
  SELECT g.t, c.channel
  FROM grid g CROSS JOIN (VALUES ('PV:3'), ('PV:7')) c(channel)
),
rows_ AS (
  SELECT channel, t, vi, 0 AS g FROM s
  UNION ALL
  SELECT channel, t, NULL, 1 FROM gc
),
held AS (
  SELECT channel, t, g,
         last_value(vi IGNORE NULLS) OVER (
           PARTITION BY channel ORDER BY t, g
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
  FROM rows_
),
gv AS (SELECT channel, t, h FROM held WHERE g = 1 AND h IS NOT NULL),
a AS (SELECT t, h AS va FROM gv WHERE channel = 'PV:3'),
bb AS (SELECT t AS tb, h AS vb FROM gv WHERE channel = 'PV:7'),
pairs AS (
  SELECT l.lag_s, a.va, bb.vb
  FROM a CROSS JOIN (VALUES {lag_vals}) l(lag_s)
  JOIN bb ON a.t + CAST(l.lag_s AS BIGINT) * {NS} = bb.tb
),
mo AS (
  SELECT lag_s, CAST(count(*) AS HUGEINT) AS n_,
         sum(va) AS sx, sum(vb) AS sy, sum(va * vb) AS sxy,
         sum(va * va) AS sxx, sum(vb * vb) AS syy
  FROM pairs GROUP BY lag_s
)
SELECT CAST(lag_s AS BIGINT) AS lag_s,
       CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)
            ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END AS r,
       CAST(n_ AS BIGINT) AS n_points
FROM mo WHERE n_ >= 2 ORDER BY lag_s
"""


SQL_LAGGED_CORRELATION_1H = _sql_lagged_corr()


PERIOD_1D = 86400


def q_decimate_cascade_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 at depth 3: raw -> 1 h -> 6 h -> 1 d, re-aggregating data that is
    itself re-aggregated. The reference maintains arbitrary decimation-level
    stacks this same way — each level is generated from the NEXT-FINER
    level, never from raw (`ArchivedChannelDecimationLevel.java`
    source-level selection) — so the algebra (weight = hold-forward
    validity x covered_fraction, variance via Σw·(std²+mean²)) has to
    recombine associatively through two stages. The oracle chains the same
    CTE builder twice, so any drift between one- and two-stage
    recombination (weight normalization, severity first-wins tie order,
    hold-forward clipping at the high-water mark) breaks the hash."""
    dec1h = decimate(load_samples(spark, sf_dir), PERIOD_1H)
    dec6h = reaggregate(dec1h, PERIOD_1H, PERIOD_6H)
    return reaggregate(dec6h, PERIOD_6H, PERIOD_1D).orderBy("channel", "t")


SQL_DECIMATE_CASCADE_1D = f"""
WITH {SAMPLES_CTE},
{_dec_ctes(PERIOD_1H)},
{_reagg_ctes(PERIOD_6H)},
{_reagg_ctes(PERIOD_1D, src="reagg", out="reagg2")}
SELECT * FROM reagg2 ORDER BY channel, t
"""


# --- round-3: N-way aligned channel correlation matrix -------------------

#: the correlation-plot channel set (6 channels -> 15 pairs) over the
#: LO..HI probe range
_CORR_CHANNELS = [f"PV:{i}" for i in range(6)]


def q_channel_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way correlation-plot primitive: every pairwise Pearson r between
    as-of-aligned channels (hold-forward onto the union time grid, J1
    boundary semantics at every grid point), with exact decimal moments
    so r is bit-stable at any parallelism. One grid pass + one window per
    channel + ONE moment aggregation for all 15 pairs
    (operators/stats.aligned_channel_correlations)."""
    from .operators.stats import aligned_channel_correlations

    s = load_samples(
        spark, sf_dir, channels=_CORR_CHANNELS, lo_ns=LO, hi_ns=HI
    )
    return aligned_channel_correlations(s, _CORR_CHANNELS).orderBy(
        "ch_a", "ch_b"
    )


def _sql_channel_corr_matrix() -> str:
    from .operators.decimate import big_to_double_duck

    chans = _CORR_CHANNELS
    n = len(chans)
    in_list = ", ".join(f"'{c}'" for c in chans)
    vals = ", ".join(f"('{c}')" for c in chans)
    piv = ",\n         ".join(
        f"max(CASE WHEN channel = '{c}' THEN h END) AS c{i}"
        for i, c in enumerate(chans)
    )
    notnull = " AND ".join(f"c{i} IS NOT NULL" for i in range(n))
    sums = ["CAST(count(*) AS HUGEINT) AS n_"]
    for i in range(n):
        sums.append(f"sum(c{i}) AS s{i}")
        sums.append(f"sum(c{i} * c{i}) AS q{i}")
    for i in range(n):
        for j in range(i + 1, n):
            sums.append(f"sum(c{i} * c{j}) AS x{i}_{j}")
    outs = []
    for i in range(n):
        for j in range(i + 1, n):
            num = big_to_double_duck(f"(n_ * x{i}_{j} - s{i} * s{j})")
            dx = big_to_double_duck(f"(n_ * q{i} - s{i} * s{i})")
            dy = big_to_double_duck(f"(n_ * q{j} - s{j} * s{j})")
            zero = (
                f"(n_ * q{i} - s{i} * s{i} = 0"
                f" OR n_ * q{j} - s{j} * s{j} = 0)"
            )
            outs.append(
                f"SELECT '{chans[i]}' AS ch_a, '{chans[j]}' AS ch_b,"
                f" CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)"
                f" ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END AS r,"
                " CAST(n_ AS BIGINT) AS n_points FROM mm"
            )
    union = "\nUNION ALL\n".join(outs)
    return f"""
WITH {SAMPLES_CTE},
cs AS (
  SELECT channel, t, CAST(floor(v * 100 + 0.5) AS HUGEINT) AS vi
  FROM samples
  WHERE channel IN ({in_list}) AND t >= {LO} AND t <= {HI}
),
grid AS (SELECT DISTINCT t FROM cs),
chans(channel) AS (VALUES {vals}),
u AS (
  SELECT g.t, g.channel, cs.vi
  FROM (SELECT grid.t, chans.channel FROM grid CROSS JOIN chans) g
  LEFT JOIN cs ON cs.channel = g.channel AND cs.t = g.t
),
held AS (
  SELECT t, channel,
         last_value(vi IGNORE NULLS) OVER (
           PARTITION BY channel ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
  FROM u
),
mat AS (
  SELECT t,
         {piv}
  FROM held GROUP BY t
),
mat2 AS (SELECT * FROM mat WHERE {notnull}),
mm AS (SELECT {", ".join(sums)} FROM mat2)
SELECT * FROM (
{union}
) WHERE n_points >= 2 ORDER BY ch_a, ch_b
"""


SQL_CHANNEL_CORRELATION_MATRIX = _sql_channel_corr_matrix()


# ---------------------------------------------------------------------------
# round-6 additions: CUSUM changepoints, distribution drift, SAX motifs
# ---------------------------------------------------------------------------

CUSUM_LAMBDA = 8


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel CUSUM changepoint alarms — the classic mean-shift
    detector, made declarative via the prefix-sum closed form and exact
    integer arithmetic throughout (operators/stats.cusum_alarms)."""
    from .operators.stats import cusum_alarms

    return cusum_alarms(load_samples(spark, sf_dir), lam=CUSUM_LAMBDA)


SQL_CUSUM_CHANGEPOINTS = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
base AS (
  SELECT channel, t,
         CAST(floor(v * 100 + 0.5) AS HUGEINT) AS vi
  FROM samples
),
dev AS (
  SELECT channel, t,
         count(*) OVER (PARTITION BY channel) AS n,
         count(*) OVER (PARTITION BY channel) * vi
           - sum(vi) OVER (PARTITION BY channel) AS d
  FROM base
),
pfx AS (
  SELECT channel, t, n, d,
         sum(abs(d)) OVER (PARTITION BY channel) AS a,
         sum(d) OVER (PARTITION BY channel ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM dev
),
cus AS (
  -- the running min/max anchors at the EMPTY prefix (P_{-1} = 0), the
  -- exact closed form of the max(0, C + d) recursion
  SELECT channel, t, n, a,
         p - least(min(p) OVER (PARTITION BY channel ORDER BY t),
                   CAST(0 AS HUGEINT)) AS cpos,
         greatest(max(p) OVER (PARTITION BY channel ORDER BY t),
                  CAST(0 AS HUGEINT)) - p AS cneg
  FROM pfx
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN cpos * n > {CUSUM_LAMBDA} * a THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pos_alarms,
       CAST(sum(CASE WHEN cneg * n > {CUSUM_LAMBDA} * a THEN 1 ELSE 0 END)
            AS BIGINT) AS n_neg_alarms,
       min(CASE WHEN cpos * n > {CUSUM_LAMBDA} * a
                  OR cneg * n > {CUSUM_LAMBDA} * a THEN t END)
         AS first_alarm_t,
       ({big_to_double_duck("max(cpos)")}) / (CAST(max(n) AS DOUBLE) * 100.0)
         AS max_pos_dev,
       ({big_to_double_duck("max(cneg)")}) / (CAST(max(n) AS DOUBLE) * 100.0)
         AS max_neg_dev
FROM cus GROUP BY channel ORDER BY channel
"""


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-half vs second-half value-distribution drift per channel as
    exact total-variation distance (operators/stats.distribution_drift)."""
    from .operators.stats import distribution_drift

    return distribution_drift(load_samples(spark, sf_dir), n_bins=N_HIST_BINS)


SQL_DISTRIBUTION_DRIFT = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
bounds AS (
  SELECT channel, min(v) AS lo, max(v) AS hi,
         min(t) AS tlo, max(t) AS thi
  FROM samples GROUP BY channel
),
binned AS (
  SELECT s.channel,
         CAST(CASE WHEN b.hi = b.lo THEN 0
              ELSE least({N_HIST_BINS - 1},
                         floor((s.v - b.lo) / (b.hi - b.lo) * {N_HIST_BINS}))
              END AS INTEGER) AS bin,
         CASE WHEN s.t * 2 < b.tlo + b.thi THEN 1 ELSE 0 END AS fst
  FROM samples s JOIN bounds b USING (channel)
),
per_bin AS (
  SELECT channel, bin,
         CAST(sum(fst) AS HUGEINT) AS a,
         CAST(sum(1 - fst) AS HUGEINT) AS b
  FROM binned GROUP BY channel, bin
),
tot AS (
  SELECT channel, bin, a, b,
         sum(a) OVER (PARTITION BY channel) AS na,
         sum(b) OVER (PARTITION BY channel) AS nb
  FROM per_bin
)
SELECT channel,
       CAST(max(na) AS BIGINT) AS n_first,
       CAST(max(nb) AS BIGINT) AS n_second,
       CASE WHEN max(na) = 0 OR max(nb) = 0 THEN CAST(NULL AS DOUBLE)
            ELSE ({big_to_double_duck("sum(abs(a * nb - b * na))")})
               / ({big_to_double_duck("(2 * max(na) * max(nb))")}) END AS tvd
FROM tot GROUP BY channel ORDER BY channel
"""


SAX_PERIOD_NS = PERIOD_1H * NS
SAX_SYMBOLS, SAX_WORD_LEN = 4, 3


def q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX/PAA symbolic motif discovery: most frequent 3-window symbol
    word per channel over 1 h PAA windows (operators/stats.sax_motifs)."""
    from .operators.stats import sax_motifs

    return sax_motifs(
        load_samples(spark, sf_dir),
        period_ns=SAX_PERIOD_NS,
        n_symbols=SAX_SYMBOLS,
        word_len=SAX_WORD_LEN,
    )


_SAX_P = PERIOD_1H * NS
SQL_SAX_MOTIFS = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
paa AS (
  SELECT channel,
         CAST((t - ((t % {_SAX_P} + {_SAX_P}) % {_SAX_P})) AS BIGINT)
           // {_SAX_P} AS win,
         CAST(sum(CAST(floor(v * 100 + 0.5) AS HUGEINT)) AS HUGEINT) AS sv,
         count(*) AS c
  FROM samples GROUP BY channel, win
),
pm AS (
  SELECT channel, win,
         ({big_to_double_duck("sv")}) / CAST(c AS DOUBLE) AS m
  FROM paa
),
bounds AS (
  SELECT channel, min(m) AS lo, max(m) AS hi FROM pm GROUP BY channel
),
sym AS (
  SELECT pm.channel, pm.win,
         CAST(CASE WHEN b.hi = b.lo THEN 0
              ELSE least({SAX_SYMBOLS - 1},
                         floor((pm.m - b.lo) / (b.hi - b.lo) * {SAX_SYMBOLS}))
              END AS INTEGER) AS s,
         count(*) OVER (PARTITION BY pm.channel) AS n_windows
  FROM pm JOIN bounds b ON b.channel = pm.channel
),
words AS (
  SELECT channel, n_windows,
         CAST(s AS VARCHAR)
           || CAST(lead(s, 1) OVER w AS VARCHAR)
           || CAST(lead(s, 2) OVER w AS VARCHAR) AS word,
         lead(win, 1) OVER w = win + 1
           AND lead(win, 2) OVER w = win + 2 AS ok
  FROM sym WINDOW w AS (PARTITION BY channel ORDER BY win)
),
counts AS (
  SELECT channel, n_windows, word, count(*) AS n_occ
  FROM words WHERE ok AND word IS NOT NULL
  GROUP BY channel, n_windows, word
),
ranked AS (
  SELECT channel, n_windows, word, n_occ,
         row_number() OVER (PARTITION BY channel
                            ORDER BY n_occ DESC, word) AS rn
  FROM counts
)
SELECT channel, word AS motif,
       CAST(n_occ AS BIGINT) AS n_occurrences,
       CAST(n_windows AS BIGINT) AS n_windows
FROM ranked WHERE rn = 1 ORDER BY channel
"""


# --- round-6: per-channel autocorrelation function -----------------------

_ACF_LAGS = [3600, 7200, 21600, 43200]  # 1h, 2h, 6h, 12h on the 1h grid


def q_channel_acf_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF per channel on the 1 h hold-forward grid: how fast each PV
    decorrelates / whether it is periodic (operators/stats.channel_acf —
    the all-channels, channel-partitioned cousin of the two-channel
    lead/lag operator)."""
    from .operators.stats import channel_acf

    return channel_acf(
        load_samples(spark, sf_dir), PERIOD_1H, _ACF_LAGS
    ).orderBy("channel", "lag_s")


def _sql_channel_acf() -> str:
    from .operators.decimate import big_to_double_duck

    p = PERIOD_1H * NS
    lag_vals = ", ".join(f"({l})" for l in _ACF_LAGS)
    num = big_to_double_duck("(n_ * sxy - sx * sy)")
    dx = big_to_double_duck("(n_ * sxx - sx * sx)")
    dy = big_to_double_duck("(n_ * syy - sy * sy)")
    zero = "(n_ * sxx - sx * sx = 0 OR n_ * syy - sy * sy = 0)"
    return f"""
WITH {SAMPLES_CTE.strip().rstrip()},
s AS (
  SELECT channel, t, CAST(floor(v * 100 + 0.5) AS HUGEINT) AS vi
  FROM samples
),
bnd AS (SELECT min(t) AS lo, max(t) AS hi FROM s),
grid AS (
  SELECT unnest(generate_series(lo + (((-lo) % {p}) + {p}) % {p},
                                hi - ((hi % {p}) + {p}) % {p}, {p})) AS t
  FROM bnd WHERE lo IS NOT NULL
),
gc AS (
  SELECT g.t, c.channel
  FROM grid g CROSS JOIN (SELECT DISTINCT channel FROM s) c
),
rows_ AS (
  SELECT channel, t, vi, 0 AS g FROM s
  UNION ALL
  SELECT channel, t, NULL, 1 FROM gc
),
held AS (
  SELECT channel, t, g,
         last_value(vi IGNORE NULLS) OVER (
           PARTITION BY channel ORDER BY t, g
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
  FROM rows_
),
gv AS (SELECT channel, t, h FROM held WHERE g = 1),
pairs AS (
  SELECT a.channel, l.lag_s, a.h AS va, b.h AS vb
  FROM gv a CROSS JOIN (VALUES {lag_vals}) l(lag_s)
  JOIN gv b ON b.channel = a.channel
           AND b.t = a.t + CAST(l.lag_s AS BIGINT) * {NS}
  WHERE a.h IS NOT NULL AND b.h IS NOT NULL
),
mo AS (
  SELECT channel, lag_s, CAST(count(*) AS HUGEINT) AS n_,
         sum(va) AS sx, sum(vb) AS sy, sum(va * vb) AS sxy,
         sum(va * va) AS sxx, sum(vb * vb) AS syy
  FROM pairs GROUP BY channel, lag_s
)
SELECT channel, CAST(lag_s AS BIGINT) AS lag_s,
       CASE WHEN {zero} THEN CAST(NULL AS DOUBLE)
            ELSE ({num}) / (sqrt({dx}) * sqrt({dy})) END AS r,
       CAST(n_ AS BIGINT) AS n_points
FROM mo WHERE n_ >= 2 ORDER BY channel, lag_s
"""


SQL_CHANNEL_ACF_1H = _sql_channel_acf()


def q_channel_trend_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel OLS drift: slope per hour, intercept, R² with exact
    decimal moments (operators/stats.channel_trend)."""
    from .operators.stats import channel_trend

    return channel_trend(load_samples(spark, sf_dir), PERIOD_1H * NS)


def _sql_channel_trend() -> str:
    from .operators.decimate import big_to_double_duck

    p = PERIOD_1H * NS
    num = big_to_double_duck("(n_ * sxy - sx * sy)")
    dx = big_to_double_duck("(n_ * sxx - sx * sx)")
    dy = big_to_double_duck("(n_ * syy - sy * sy)")
    syd = big_to_double_duck("sy")
    sxd = big_to_double_duck("sx")
    nd = big_to_double_duck("n_")
    return f"""
WITH {SAMPLES_CTE.strip().rstrip()},
w0 AS (
  SELECT channel,
         CAST((t - ((t % {p} + {p}) % {p})) AS BIGINT) // {p} AS w,
         CAST(floor(v * 100 + 0.5) AS HUGEINT) AS y
  FROM samples
),
rel AS (
  SELECT channel, y,
         CAST(w - min(w) OVER (PARTITION BY channel) AS HUGEINT) AS x
  FROM w0
),
mo AS (
  SELECT channel, CAST(count(*) AS HUGEINT) AS n_,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM rel GROUP BY channel
)
SELECT channel, CAST(n_ AS BIGINT) AS n_samples,
       CASE WHEN n_ * sxx - sx * sx = 0 THEN CAST(NULL AS DOUBLE)
            ELSE (({num}) / ({dx})) / 100.0 END AS slope_per_period,
       CASE WHEN n_ * sxx - sx * sx = 0 THEN CAST(NULL AS DOUBLE)
            ELSE (({syd}) / ({nd}) - (({num}) / ({dx}))
                  * (({sxd}) / ({nd}))) / 100.0 END AS intercept,
       CASE WHEN n_ * sxx - sx * sx = 0 OR n_ * syy - sy * sy = 0
            THEN CAST(NULL AS DOUBLE)
            ELSE (({num}) * ({num})) / (({dx}) * ({dy})) END AS r2
FROM mo ORDER BY channel
"""


SQL_CHANNEL_TREND_1H = _sql_channel_trend()


def q_array_elementwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise statistics over ARRAY-typed channels (the ARRAY_*
    half of the reference's type system, `ChannelAccessSampleType.java`
    18-129): per (channel, element index), count / exact mean / min /
    max of the array_double samples. The reference never DECIMATES
    arrays (aggregation covers only numeric scalars) — this is the
    natural Spark extension: posexplode is a narrow 1→N map, the
    aggregation partial-combines on (channel, idx), and the mean goes
    through exact DECIMAL sums + big_to_double so the hash is bit-stable
    at any parallelism."""
    from .operators.decimate import big_to_double
    from .sources.testdata import load_typed_samples

    s = load_typed_samples(spark, sf_dir).filter(F.col("type") == "array_double")
    e = s.select(
        "channel", F.posexplode("aval").alias("idx", "_v")
    ).withColumn("_vi", F.expr("CAST(floor(_v * 100 + 0.5) AS DECIMAL(19,0))"))
    m = e.groupBy("channel", "idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_vi").alias("_s"),
        F.min("_v").alias("vmin"),
        F.max("_v").alias("vmax"),
    )
    mean = big_to_double("CAST(_s AS DECIMAL(38,0))")
    return m.select(
        "channel",
        "idx",
        "n",
        F.expr(f"({mean}) / (CAST(n AS DOUBLE) * 100.0)").alias("mean"),
        "vmin",
        "vmax",
    ).orderBy("channel", "idx")


def _sql_array_elementwise() -> str:
    from .operators.decimate import big_to_double_duck

    return f"""
WITH {TYPED_SAMPLES_CTE},
e AS (
  SELECT channel, i - 1 AS idx, aval[i] AS v
  FROM typed_samples, LATERAL (
    SELECT unnest(generate_series(1, len(aval))) AS i)
  WHERE type = 'array_double'
),
m AS (
  SELECT channel, idx, count(*) AS n,
         CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s,
         min(v) AS vmin, max(v) AS vmax
  FROM e GROUP BY channel, idx
)
SELECT channel, CAST(idx AS INTEGER) AS idx, CAST(n AS BIGINT) AS n,
       ({big_to_double_duck("s")}) / (CAST(n AS DOUBLE) * 100.0) AS mean,
       vmin, vmax
FROM m ORDER BY channel, idx
"""


SQL_ARRAY_ELEMENTWISE_STATS = _sql_array_elementwise()


RENAME_OLD, RENAME_NEW = "PV:3", "PV:renamed-3"


def q_store_rename_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel rename (`ArchiveConfigurationService`'s rename/move op)
    must change NAMES and nothing else: after renaming one channel on a
    clone of the fragmented store, the per-channel count/bound/checksum
    table equals the raw-data oracle with the same name substitution —
    so a rename that loses, duplicates, or corrupts one row (or leaks
    into another channel's files during the rewrite-and-swap) fails the
    value gate. Rewrite cost is bounded by the renamed channel's own
    footprint; the swap is one manifest commit per level."""
    store = _clone_store(spark, sf_dir)
    store.rename_channel(RENAME_OLD, RENAME_NEW)
    return (
        store.read_samples(0)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("t").alias("n_ts"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                "v_checksum"
            ),
            F.sum(F.col("severity").cast("bigint")).alias("sev_checksum"),
        )
        .orderBy("channel")
    )


SQL_STORE_RENAME_INVARIANCE = f"""
WITH {SAMPLES_CTE.strip().rstrip()}
SELECT CASE WHEN channel = '{RENAME_OLD}' THEN '{RENAME_NEW}'
            ELSE channel END AS channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT t) AS BIGINT) AS n_ts,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_checksum,
       CAST(sum(severity) AS BIGINT) AS sev_checksum
FROM samples
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# seasonal hour-of-day baseline + anomaly census
# ---------------------------------------------------------------------------

SEASONAL_K_SIGMA = 3


def q_seasonal_hod_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per channel with an exact-integer
    3-sigma anomaly census (operators/stats.seasonal_hod_anomalies —
    one exchange: window moments over (channel, hod), census groupBy
    reuses the clustering)."""
    from .operators.stats import seasonal_hod_anomalies

    return seasonal_hod_anomalies(
        load_samples(spark, sf_dir), k_sigma=SEASONAL_K_SIGMA
    )


_HOUR_NS = 3600 * NS
_SEAS_VAR = "(n_ * s2_ - s_ * s_)"
SQL_SEASONAL_HOD_ANOMALIES = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
sh AS (
  SELECT channel, CAST((t // {_HOUR_NS}) % 24 AS INTEGER) AS hod,
         CAST(floor(v * 100 + 0.5) AS HUGEINT) AS vi
  FROM samples
),
m AS (
  SELECT channel, hod, vi,
         CAST(count(*) OVER pw AS HUGEINT) AS n_,
         sum(vi) OVER pw AS s_,
         sum(vi * vi) OVER pw AS s2_
  FROM sh WINDOW pw AS (PARTITION BY channel, hod)
),
f AS (
  SELECT channel, hod, n_, s_, s2_,
         CASE WHEN (vi * n_ - s_) * (vi * n_ - s_)
                   > {SEASONAL_K_SIGMA * SEASONAL_K_SIGMA} * {_SEAS_VAR}
              THEN 1 ELSE 0 END AS flag,
         abs(vi * n_ - s_) AS absdev
  FROM m
)
SELECT channel, hod,
       CAST(n_ AS BIGINT) AS n_samples,
       {big_to_double_duck("s_")} / CAST(n_ AS DOUBLE) / 100.0 AS mean,
       sqrt(greatest({big_to_double_duck(_SEAS_VAR)}, 0.0))
         / CAST(n_ AS DOUBLE) / 100.0 AS std,
       CAST(sum(flag) AS BIGINT) AS n_anomalies,
       CASE WHEN {_SEAS_VAR} = 0 THEN CAST(NULL AS DOUBLE)
            ELSE {big_to_double_duck("max(absdev)")}
                 / sqrt({big_to_double_duck(_SEAS_VAR)}) END AS max_abs_z
FROM f GROUP BY channel, hod, n_, s_, s2_
ORDER BY channel, hod
"""


# ---------------------------------------------------------------------------
# decimation-level topology change: add a level, backfill from best source
# ---------------------------------------------------------------------------


def q_level_backfill_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology change end-to-end: a 6 h decimation level is ADDED to
    channels already archiving raw + 1 h — the reference regenerates a
    new level from the largest existing level that divides its period
    (`ArchivedChannelDecimatedSamplesDecimationLevel.java:319-568`,
    `pick_source_level`), here 1 h, NEVER raw. The backfill runs
    through the store (per-channel hwm catch-up, manifest commits) and
    the read-back must equal the from-scratch raw→1h→6h cascade — the
    value hash attests BOTH the store lifecycle and the source-level
    choice: sourcing from raw would use first-order decimation math
    where the oracle demands the reaggregation semantics (weight =
    validity × covered_fraction), and the hash would break."""
    from .plans.jobs import incremental_decimation
    from .sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, _scratch_dir("pvarch_topo_") + "/archive")
    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    store.write_samples(raw, level=0)
    incremental_decimation(store, PERIOD_1H)
    # the configuration change: 6 h appears after 1 h is materialized;
    # pick_source_level must choose 3600 (largest proper divisor level)
    incremental_decimation(store, PERIOD_6H)
    return store.read_samples(PERIOD_6H).select(
        "channel", "t", "mean", "std", "vmin", "vmax", "covered_fraction",
        "severity", "status", "n_samples", "quality",
    ).orderBy("channel", "t")


SQL_LEVEL_BACKFILL_6H = f"""
WITH {SAMPLES_CTE},
lsamples AS (
  SELECT * FROM samples
  WHERE channel IN ({", ".join(f"'PV:{i}'" for i in range(30))})
),
{_dec_ctes(PERIOD_1H, src="lsamples")},
{_reagg_ctes(PERIOD_6H)}
SELECT * FROM reagg ORDER BY channel, t
"""


# ---------------------------------------------------------------------------
# shuffle-health: key skew report
# ---------------------------------------------------------------------------


def q_shuffle_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (operators/stats.key_skew_report) for the
    two shuffle keys this engine would actually hash on: ``channel``
    (the decimation/partition key — flat by construction) and
    ``severity`` (3 values, ~90% on one — the salting/AQE-skew-join
    case). One row per audited key."""
    from .operators.stats import key_skew_report

    s = load_samples(spark, sf_dir)
    by_ch = key_skew_report(s, "channel").select(
        F.lit("channel").alias("key_col"), "*"
    )
    by_sev = key_skew_report(s, "severity").select(
        F.lit("severity").alias("key_col"), "*"
    )
    return by_ch.unionByName(by_sev).orderBy("key_col")


def _sql_skew_one(key_expr: str, label: str) -> str:
    return f"""
SELECT '{label}' AS key_col,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(max(nk) AS BIGINT) AS n_keys,
       max(CASE WHEN c = mc THEN k END) AS top_key,
       CAST(max(mc) AS BIGINT) AS max_rows_per_key,
       CAST(max(mc) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS max_key_share,
       max(CASE WHEN rn = CAST(ceil(nk * 50 / 100.0) AS BIGINT) THEN c END)
         AS p50_rows_per_key,
       max(CASE WHEN rn = CAST(ceil(nk * 90 / 100.0) AS BIGINT) THEN c END)
         AS p90_rows_per_key,
       max(CASE WHEN rn = CAST(ceil(nk * 99 / 100.0) AS BIGINT) THEN c END)
         AS p99_rows_per_key,
       CAST(max(mc) AS DOUBLE)
         / (CAST(sum(c) AS DOUBLE) / CAST(max(nk) AS DOUBLE)) AS skew_factor
FROM (
  SELECT k, c, row_number() OVER (ORDER BY c, k) AS rn,
         count(*) OVER () AS nk, max(c) OVER () AS mc
  FROM (SELECT CAST({key_expr} AS VARCHAR) AS k, count(*) AS c
        FROM samples GROUP BY 1))"""


SQL_SHUFFLE_SKEW_REPORT = f"""
WITH {SAMPLES_CTE}
SELECT * FROM (
{_sql_skew_one("channel", "channel")}
UNION ALL
{_sql_skew_one("severity", "severity")}
) WHERE n_rows IS NOT NULL
ORDER BY key_col
"""


# ---------------------------------------------------------------------------
# EWMA smoothing (sequential recursion, engine-portable trajectory)
# ---------------------------------------------------------------------------


def q_ewma_by_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel EWMA (α=1/4) over the full archive
    (operators/stats.ewma_by_channel — one Catalyst fold per channel,
    no Python; the oracle re-runs the recursion as a recursive CTE)."""
    from .operators.stats import ewma_by_channel

    return ewma_by_channel(load_samples(spark, sf_dir))


SQL_EWMA_BY_CHANNEL = f"""
WITH RECURSIVE {SAMPLES_CTE.strip().rstrip()},
sq AS (
  SELECT channel, t, CAST(floor(v * 100 + 0.5) AS BIGINT) AS vi,
         row_number() OVER (PARTITION BY channel ORDER BY t) AS rn
  FROM samples
),
rec AS (
  SELECT channel, t, vi, rn, CAST(vi AS DOUBLE) AS e
  FROM sq WHERE rn = 1
  UNION ALL
  SELECT s.channel, s.t, s.vi, s.rn,
         0.25 * CAST(s.vi AS DOUBLE) + 0.75 * r.e
  FROM rec r JOIN sq s ON s.channel = r.channel AND s.rn = r.rn + 1
)
SELECT channel, t, CAST(vi AS DOUBLE) / 100.0 AS v_q, e / 100.0 AS ewma
FROM rec ORDER BY channel, t
"""


# ---------------------------------------------------------------------------
# channel delete (config op) invariance
# ---------------------------------------------------------------------------

DELETE_CHANNEL = "PV:3"


def q_store_delete_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel delete (`ArchiveConfigurationService`'s remove-channel
    op) must remove THAT channel and nothing else: after deleting one
    channel on a clone of the fragmented store, the per-channel
    count/bound/checksum table equals the raw-data oracle with the
    channel excluded — a delete that leaves ghost rows, or that loses
    a neighbouring channel's rows while rewriting the shared files,
    fails the value gate. Rewrite cost is bounded by the deleted
    channel's own footprint; the swap is one manifest commit per
    level."""
    store = _clone_store(spark, sf_dir)
    store.delete_channel(DELETE_CHANNEL)
    return (
        store.read_samples(0)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("t").alias("n_ts"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                "v_checksum"
            ),
            F.sum(F.col("severity").cast("bigint")).alias("sev_checksum"),
        )
        .orderBy("channel")
    )


SQL_STORE_DELETE_INVARIANCE = f"""
WITH {SAMPLES_CTE.strip().rstrip()}
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT t) AS BIGINT) AS n_ts,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_checksum,
       CAST(sum(severity) AS BIGINT) AS sev_checksum
FROM samples
WHERE channel != '{DELETE_CHANNEL}'
GROUP BY 1 ORDER BY 1
"""


#: evolution-batch shape: rows per channel appended AFTER its history,
#: spaced one hour apart, carrying the NEW column
SCHEMA_EVO_ROWS = 3
SCHEMA_EVO_STEP_NS = 3600 * 1_000_000_000


def q_store_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store lifecycle op the rename/delete/compact/time-travel rows
    don't cover (VERDICT r8 #6): ADD COLUMN mid-history. A new
    per-sample metadata field (``src_tag``) arrives with a later batch;
    old files read with NULLs, new files carry it, and a compaction
    rewrite of the mixed-schema table must PRESERVE the evolved column
    (``archive_store.level_schema``: the level's widest schema comes
    from one footer read of the newest committed file — never
    schema-by-first-footer, which would silently strip the column from
    a mixed-schema subset read).

    The evolution batch is deterministic from the data: per channel,
    {SCHEMA_EVO_ROWS} rows one hour apart after its last sample, tagged
    ``channel#k``. Output: per-channel census over the UNION —
    untagged history + tagged extension — after compact(0); the
    reference pendant is Cassandra's sparse rows returning null for
    cells written before a column existed."""
    store = _clone_store(spark, sf_dir)
    last = store.read_samples(0).groupBy("channel").agg(
        F.max("t").alias("m")
    )
    ks = spark.range(1, SCHEMA_EVO_ROWS + 1).select(
        F.col("id").alias("k")
    )
    ext = last.crossJoin(F.broadcast(ks)).select(
        "channel",
        (F.col("m") + F.col("k") * F.lit(SCHEMA_EVO_STEP_NS)).alias("t"),
        F.col("k").cast("double").alias("v"),
        F.lit(0).cast("int").alias("severity"),
        F.lit(0).cast("int").alias("status"),
        F.concat_ws("#", F.col("channel"), F.col("k")).alias("src_tag"),
    )
    store.write_samples(ext, level=0)
    store.compact(0)  # the rewrite must carry the evolved column through
    return (
        store.read_samples(0)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("t").alias("n_ts"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                "v_checksum"
            ),
            F.count("src_tag").alias("n_tagged"),
            F.sum(F.col("src_tag").isNull().cast("bigint")).alias(
                "n_untagged"
            ),
            F.min("src_tag").alias("tag_first"),
        )
        .orderBy("channel")
    )


SQL_STORE_SCHEMA_EVOLUTION = f"""
WITH {{SAMPLES_CTE}}
, m AS (SELECT channel, max(t) AS m FROM samples GROUP BY channel),
ext AS (
  SELECT m.channel, m.m + ks.k * {SCHEMA_EVO_STEP_NS} AS t,
         CAST(ks.k AS DOUBLE) AS v, 0 AS severity, 0 AS status,
         m.channel || '#' || CAST(ks.k AS VARCHAR) AS src_tag
  FROM m, (VALUES {{SCHEMA_EVO_VALUES}}) AS ks(k)
),
u AS (
  SELECT channel, t, v, CAST(NULL AS VARCHAR) AS src_tag FROM samples
  UNION ALL
  SELECT channel, t, v, src_tag FROM ext
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT t) AS BIGINT) AS n_ts,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_checksum,
       CAST(count(src_tag) AS BIGINT) AS n_tagged,
       CAST(sum(CASE WHEN src_tag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_untagged,
       min(src_tag) AS tag_first
FROM u GROUP BY channel ORDER BY channel
""".replace("{SAMPLES_CTE}", SAMPLES_CTE.strip().rstrip()).replace(
    # derived from the same constant as the engine's extension batch so
    # a SCHEMA_EVO_ROWS bump can never desync the oracle
    "{SCHEMA_EVO_VALUES}",
    ", ".join(f"({k})" for k in range(1, SCHEMA_EVO_ROWS + 1)),
)


#: reverse-union batch shape: NARROW rows per channel after the tagged
#: extension (they lack the evolved column — the racing-writer state)
SCHEMA_REV_ROWS = 2


def q_store_schema_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REVERSE schema union (VERDICT r9 #8): after an ADD COLUMN
    evolution, a batch WITHOUT the evolved column lands — the state two
    racing writers produce when the narrow one's pre-check passed before
    the widener committed (its commit rebases onto the evolved header;
    ``write_samples``' fresh pre-check refuses the non-raced case, so
    this row drives the raced commit through the manifest layer
    directly, exactly as the loser's in-flight publish would). The
    level's newest files now LACK a column older files carry. Pinned
    answers: the header (union) schema wins — ``src_tag`` never
    vanishes, narrow rows read it as NULL, and a compaction rewrite of
    the three-schema-era table preserves all of it (Cassandra's sparse
    rows are the reference pendant: a cell never written reads null
    regardless of WHEN its column was added)."""
    from .sources.archive_store import _date_expr, _union_header_fn

    store = _clone_store(spark, sf_dir)
    last = store.read_samples(0).groupBy("channel").agg(
        F.max("t").alias("m")
    )
    ks = spark.range(1, SCHEMA_EVO_ROWS + 1).select(
        F.col("id").alias("k")
    )
    ext = last.crossJoin(F.broadcast(ks)).select(
        "channel",
        (F.col("m") + F.col("k") * F.lit(SCHEMA_EVO_STEP_NS)).alias("t"),
        F.col("k").cast("double").alias("v"),
        F.lit(0).cast("int").alias("severity"),
        F.lit(0).cast("int").alias("status"),
        F.concat_ws("#", F.col("channel"), F.col("k")).alias("src_tag"),
    )
    store.write_samples(ext, level=0)  # the widener commits first
    js = spark.range(1, SCHEMA_REV_ROWS + 1).select(
        F.col("id").alias("j")
    )
    narrow = last.crossJoin(F.broadcast(js)).select(
        "channel",
        (
            F.col("m")
            + (F.col("j") + F.lit(SCHEMA_EVO_ROWS)) * F.lit(SCHEMA_EVO_STEP_NS)
        ).alias("t"),
        (F.col("j").cast("double") + F.lit(0.25)).alias("v"),
        F.lit(0).cast("int").alias("severity"),
        F.lit(0).cast("int").alias("status"),
    )
    table = store._level_table(0)
    stage = table.stage_dir()
    (
        narrow.withColumn("date", _date_expr("t"))
        .repartition("date", "channel")
        .sortWithinPartitions("date", "channel", "t")
        .write.option("maxRecordsPerFile", store.max_records_per_file)
        .partitionBy("date")
        .parquet(stage)
    )
    table.publish_stage(
        stage,
        header_fn=_union_header_fn(
            [(f.name, f.dataType.simpleString())
             for f in narrow.schema.fields]
        ),
    )
    store.compact(0)  # the rewrite must preserve the union schema
    return (
        store.read_samples(0)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("t").alias("n_ts"),
            F.min("t").alias("t_first"),
            F.max("t").alias("t_last"),
            F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)")).alias(
                "v_checksum"
            ),
            F.count("src_tag").alias("n_tagged"),
            F.sum(F.col("src_tag").isNull().cast("bigint")).alias(
                "n_untagged"
            ),
            F.max("src_tag").alias("tag_last"),
        )
        .orderBy("channel")
    )


SQL_STORE_SCHEMA_REVERSE = f"""
WITH {{SAMPLES_CTE}}
, m AS (SELECT channel, max(t) AS m FROM samples GROUP BY channel),
ext AS (
  SELECT m.channel, m.m + ks.k * {SCHEMA_EVO_STEP_NS} AS t,
         CAST(ks.k AS DOUBLE) AS v,
         m.channel || '#' || CAST(ks.k AS VARCHAR) AS src_tag
  FROM m, (VALUES {{SCHEMA_EVO_VALUES}}) AS ks(k)
),
rev AS (
  SELECT m.channel,
         m.m + (js.j + {SCHEMA_EVO_ROWS}) * {SCHEMA_EVO_STEP_NS} AS t,
         CAST(js.j AS DOUBLE) + 0.25 AS v,
         CAST(NULL AS VARCHAR) AS src_tag
  FROM m, (VALUES {{SCHEMA_REV_VALUES}}) AS js(j)
),
u AS (
  SELECT channel, t, v, CAST(NULL AS VARCHAR) AS src_tag FROM samples
  UNION ALL SELECT channel, t, v, src_tag FROM ext
  UNION ALL SELECT channel, t, v, src_tag FROM rev
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT t) AS BIGINT) AS n_ts,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last,
       CAST(sum(CAST(floor(v * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_checksum,
       CAST(count(src_tag) AS BIGINT) AS n_tagged,
       CAST(sum(CASE WHEN src_tag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_untagged,
       max(src_tag) AS tag_last
FROM u GROUP BY channel ORDER BY channel
""".replace("{SAMPLES_CTE}", SAMPLES_CTE.strip().rstrip()).replace(
    "{SCHEMA_EVO_VALUES}",
    ", ".join(f"({k})" for k in range(1, SCHEMA_EVO_ROWS + 1)),
).replace(
    "{SCHEMA_REV_VALUES}",
    ", ".join(f"({j})" for j in range(1, SCHEMA_REV_ROWS + 1)),
)


# ---------------------------------------------------------------------------
# fused channel-health dashboard (composition of the analytics family)
# ---------------------------------------------------------------------------


def q_channel_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator-facing channel-health row — seasonal anomaly
    census, CUSUM mean-shift alarms, OLS drift and first/second-half
    distribution TVD fused into ONE table per channel. Each leg is an
    already-oracled operator (seasonal_hod_anomalies,
    cusum_changepoints, channel_trend_1h, distribution_drift); this
    query attests that they COMPOSE — four per-channel summaries,
    broadcast-joined (each side is channel-cardinality small after its
    own aggregation), one dashboard scan."""
    from .operators.stats import (
        cusum_alarms,
        distribution_drift,
        channel_trend,
        seasonal_hod_anomalies,
    )

    s = load_samples(spark, sf_dir)
    seasonal = (
        seasonal_hod_anomalies(s, k_sigma=SEASONAL_K_SIGMA)
        .groupBy("channel")
        .agg(
            F.sum("n_samples").alias("n_samples"),
            F.sum("n_anomalies").alias("n_seasonal_anomalies"),
        )
    )
    cusum = cusum_alarms(s, lam=CUSUM_LAMBDA).select(
        "channel",
        (F.col("n_pos_alarms") + F.col("n_neg_alarms")).alias("n_cusum_alarms"),
        "first_alarm_t",
    )
    trend = channel_trend(s, PERIOD_1H * NS).select(
        "channel", "slope_per_period", "r2"
    )
    drift = distribution_drift(s, n_bins=N_HIST_BINS).select(
        "channel", F.col("tvd").alias("drift_tvd")
    )
    return (
        seasonal.join(F.broadcast(cusum), "channel")
        .join(F.broadcast(trend), "channel")
        .join(F.broadcast(drift), "channel")
        .orderBy("channel")
    )


def _sql_channel_health() -> str:
    def sub(sql: str) -> str:
        return "(" + sql.strip().rstrip() + ")"

    return f"""
SELECT s.channel,
       s.n_samples,
       s.n_seasonal_anomalies,
       CAST(c.n_pos_alarms + c.n_neg_alarms AS BIGINT) AS n_cusum_alarms,
       c.first_alarm_t,
       t.slope_per_period,
       t.r2,
       d.tvd AS drift_tvd
FROM (
  SELECT channel,
         CAST(sum(n_samples) AS BIGINT) AS n_samples,
         CAST(sum(n_anomalies) AS BIGINT) AS n_seasonal_anomalies
  FROM {sub(SQL_SEASONAL_HOD_ANOMALIES)} GROUP BY channel
) s
JOIN {sub(SQL_CUSUM_CHANGEPOINTS)} c ON c.channel = s.channel
JOIN {sub(SQL_CHANNEL_TREND_1H)} t ON t.channel = s.channel
JOIN {sub(SQL_DISTRIBUTION_DRIFT)} d ON d.channel = s.channel
ORDER BY s.channel
"""


SQL_CHANNEL_HEALTH_REPORT = _sql_channel_health()


# ---------------------------------------------------------------------------
# incremental seasonal profile via CDC (additive exact moments)
# ---------------------------------------------------------------------------


def q_seasonal_profile_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized aggregate through the store's CDC feed:
    the seasonal baseline's DECIMAL(38,0) moments are ADDITIVE, so the
    post-append profile is profile(v1) ⊕ moments(read_changes(v1→v2)) —
    cost proportional to the delta, never the table (the economics a
    100 TB continuously-maintained baseline needs). The value hash
    proves incremental == from-scratch: the oracle computes the full
    profile over ALL rows, while the Spark side only ever touches the
    v1 snapshot once and the manifest-diff delta."""
    from .operators.stats import seasonal_profile
    from .sources.archive_store import ArchiveStore

    store = ArchiveStore(
        spark, _fragmented_store_root(spark, sf_dir) + "/archive"
    )
    versions = store.level_versions(0)
    out_schema = (
        "channel string, hod int, n_samples long, mean double, std double"
    )
    if len(versions) < 2:  # empty slice: nothing committed
        return spark.createDataFrame([], out_schema)
    base = store.read_samples(0, at_version=versions[0])
    delta = store.read_changes(0, versions[0], versions[-1])
    merged = (
        seasonal_profile(base)
        .unionByName(seasonal_profile(delta))
        .groupBy("channel", "hod")
        .agg(
            F.sum("_n").alias("_n"),
            F.sum("_s").alias("_s"),
            F.sum("_s2").alias("_s2"),
        )
    )
    mean = f"{big_to_double('_s')} / CAST(_n AS DOUBLE) / 100.0"
    var_num = "CAST(_n * _s2 - _s * _s AS DECIMAL(38,0))"
    std = (
        f"sqrt(greatest({big_to_double(var_num)}, 0.0))"
        " / CAST(_n AS DOUBLE) / 100.0"
    )
    return merged.select(
        "channel",
        "hod",
        F.col("_n").cast("long").alias("n_samples"),
        F.expr(mean).alias("mean"),
        F.expr(std).alias("std"),
    ).orderBy("channel", "hod")


_SEAS_VAR2 = "(n_ * s2_ - s_ * s_)"
SQL_SEASONAL_PROFILE_INCREMENTAL = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
sh AS (
  SELECT channel, CAST((t // {_HOUR_NS}) % 24 AS INTEGER) AS hod,
         CAST(floor(v * 100 + 0.5) AS HUGEINT) AS vi
  FROM samples
),
m AS (
  SELECT channel, hod,
         CAST(count(*) AS HUGEINT) AS n_,
         sum(vi) AS s_,
         sum(vi * vi) AS s2_
  FROM sh GROUP BY channel, hod
)
SELECT channel, hod,
       CAST(n_ AS BIGINT) AS n_samples,
       {big_to_double_duck("s_")} / CAST(n_ AS DOUBLE) / 100.0 AS mean,
       sqrt(greatest({big_to_double_duck(_SEAS_VAR2)}, 0.0))
         / CAST(n_ AS DOUBLE) / 100.0 AS std
FROM m ORDER BY channel, hod
"""


# --- round 7: level freshness report -------------------------------------


def q_level_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/T3 operational view: decimation backlog per (channel, level).
    History up to MID is ingested and the 1 h + 6 h cascade materialized;
    raw ingest then continues past MID with no catch-up run — the report
    must show exactly the resulting per-level window lag, computed from
    hwm METADATA only (no sample scan; plans/jobs.level_freshness)."""
    from .plans.jobs import incremental_decimation, level_freshness
    from .sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, _scratch_dir("pvfresh_") + "/archive")
    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    store.write_samples(raw.filter(F.col("t") <= MID), level=0)
    incremental_decimation(store, PERIOD_1H)
    incremental_decimation(store, PERIOD_6H)
    store.write_samples(raw.filter(F.col("t") > MID), level=0)
    return level_freshness(store, [PERIOD_1H, PERIOD_6H])


_P1H_NS = PERIOD_1H * 1_000_000_000
_P6H_NS = PERIOD_6H * 1_000_000_000

SQL_LEVEL_FRESHNESS_REPORT = f"""
WITH {SAMPLES_CTE},
ls AS (
  SELECT * FROM samples
  WHERE channel IN ({", ".join(f"'PV:{i}'" for i in range(30))})
),
raw AS (SELECT channel, max(t) AS raw_hwm FROM ls GROUP BY channel),
-- the incremental job materializes only CLOSED windows (a window closes
-- when a SOURCE row reaches its end), and each cascade level closes
-- against its source LEVEL's hwm: W1 = (cut div p1 - 1)*p1 from the raw
-- cut, W6 = (W1 div p6 - 1)*p6 from the 1 h level (empirically pinned
-- against the store in tests)
-- HAVING >= 0: a channel with less than one closed window before MID
-- writes nothing, so it has NO level hwm (the engine reports it as
-- never-materialized via the LEFT join, not as a negative hwm)
cut AS (SELECT channel,
               ((max(t) // {_P1H_NS}) - 1) * {_P1H_NS} AS h1
        FROM ls WHERE t <= {MID} GROUP BY channel
        HAVING ((max(t) // {_P1H_NS}) - 1) >= 0),
cut6 AS (SELECT channel, ((h1 // {_P6H_NS}) - 1) * {_P6H_NS} AS h6
         FROM cut WHERE ((h1 // {_P6H_NS}) - 1) >= 0)
-- LEFT joins from the raw spine (plans/jobs.level_freshness contract):
-- a channel with no materialized level appears with level_hwm NULL and
-- lag counted from period 0, never silently dropped
SELECT r.channel, CAST(3600 AS INTEGER) AS level_s,
       c.h1 AS level_hwm, r.raw_hwm,
       CAST((r.raw_hwm // {_P1H_NS})
            - COALESCE(c.h1 // {_P1H_NS}, 0) AS BIGINT) AS lag_periods
FROM raw r LEFT JOIN cut c ON r.channel = c.channel
UNION ALL
SELECT r.channel, CAST(21600 AS INTEGER) AS level_s,
       c6.h6 AS level_hwm, r.raw_hwm,
       CAST((r.raw_hwm // {_P6H_NS})
            - COALESCE(c6.h6 // {_P6H_NS}, 0) AS BIGINT) AS lag_periods
FROM raw r LEFT JOIN cut6 c6 ON r.channel = c6.channel
ORDER BY channel, level_s
"""


# --- round 8: admin REST command surface, value-hashed --------------------


def q_admin_commands_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admin web-service API driven end-to-end through its own
    routing + JSON contract (`ApiController.java:225-806` surface,
    admin_api.AdminApp): a deterministic per-channel command batch —
    add (run-archive-configuration-commands), update every third,
    rename every fifth, remove every seventh — then XML export over the
    same API (base64 ``configurationFile``) and re-import. The output
    value-hashes the full command dispatch: any mis-routed command,
    lost rename, or export field drift diverges from the oracle.

    The channel list is a bounded dimension (driver-side metadata, like
    the reference's channel config tables), so the one ``collect()``
    here is a dimension read, not a data-path collect."""
    import base64

    from . import management as M
    from .admin_api import SERVER_ID, AdminApp

    chans = sorted(
        r[0]
        for r in load_samples(spark, sf_dir).select("channel")
        .distinct().collect()
    )
    reg = M.ChannelRegistry(spark, _scratch_dir("pvadmin_") + "/channels")
    app = AdminApp(reg)
    prefix = "/admin/api/1.0"
    cmds = []
    for name in chans:
        num = int(name.split(":", 1)[1])
        cmds.append({
            "commandType": "add_channel",
            "channelName": name,
            "controlSystemType": "channel_access",
            "enabled": num % 2 == 0,
            "decimationLevelToRetentionPeriod":
                {"0": 0, "3600": 86400 * (num % 5 + 1)},
            "options": {"src": M.url_encode(name)},
            "serverId": SERVER_ID,
        })
    for name in chans:
        num = int(name.split(":", 1)[1])
        if num % 3 == 0:
            cmds.append({
                "commandType": "update_channel",
                "channelName": name,
                "controlSystemType": "channel_access",
                "enabled": True,
                "decimationLevelToRetentionPeriod": {"0": 0, "60": 3600},
                "options": {"upd": "1"},
            })
        if num % 5 == 0:
            cmds.append({
                "commandType": "rename_channel",
                "oldChannelName": name,
                "newChannelName": f"R:{name}",
            })
        if num % 7 == 0:
            cur = f"R:{name}" if num % 5 == 0 else name
            cmds.append({"commandType": "remove_channel",
                         "channelName": cur})
    resp = app.handle_post(
        f"{prefix}/run-archive-configuration-commands", {"commands": cmds}
    )
    failed = [r for r in resp["results"] if not r["success"]]
    if failed:  # a failed command is a broken engine, not a data state
        raise RuntimeError(f"admin command failed: {failed[0]}")
    exported = app.handle_get(
        f"{prefix}/channels/by-server/{SERVER_ID}/export", {}
    )
    xml = base64.b64decode(exported["configurationFile"]).decode("utf-8")
    rows = [
        (
            c.channel_name,
            c.control_system_type,
            c.enabled,
            ",".join(
                f"{p}:{r}" for p, r in sorted(c.decimation_levels.items())
            ),
            ",".join(f"{k}={v}" for k, v in sorted(c.options.items())),
        )
        for c in M.import_xml(xml)
    ]
    schema = (
        "channel_name string, control_system_type string, enabled boolean,"
        " levels string, options string"
    )
    return spark.createDataFrame(rows, schema).orderBy("channel_name")


SQL_ADMIN_COMMANDS_ROUNDTRIP = f"""
WITH {SAMPLES_CTE.strip().rstrip()},
ch AS (SELECT DISTINCT channel FROM samples),
n AS (SELECT channel, CAST(substr(channel, 4) AS INTEGER) AS num FROM ch),
st AS (
  SELECT CASE WHEN num % 5 = 0 THEN 'R:' || channel ELSE channel END
           AS channel_name,
         'channel_access' AS control_system_type,
         CASE WHEN num % 3 = 0 THEN TRUE ELSE (num % 2 = 0) END AS enabled,
         CASE WHEN num % 3 = 0 THEN '0:0,60:3600'
              ELSE '0:0,3600:' || CAST(86400 * (num % 5 + 1) AS VARCHAR)
              END AS levels,
         CASE WHEN num % 3 = 0 THEN 'upd=1'
              ELSE 'src=' || replace(channel, ':', '%3A') END AS options,
         num
  FROM n
)
SELECT channel_name, control_system_type, enabled, levels, options
FROM st WHERE num % 7 <> 0 ORDER BY channel_name
"""


# --- round 8: watermarked streaming aggregation parity --------------------

#: watermark delay for the parity row, seconds
WM_DELAY_S = 7200


def q_stream_watermark_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermark semantics, value-hashed: a REAL
    ``withWatermark(2h)`` + 1 h tumbling-window aggregation runs over the
    raw series in two chunks through a checkpoint restart. The chunks
    split by µs-parity of the event time — both span the FULL time range,
    so after run 1 the watermark stands near the series end and most of
    chunk 2 is genuinely late: rows for already-finalized windows must
    be DROPPED, and only windows the final watermark passed may be
    EMITTED (append mode). The oracle replicates the contract in batch
    SQL: wm1 = chunk-1 max event time (ms floor) − delay; a chunk-2 row
    survives iff its window's end > wm1; a window is emitted iff its end
    <= the final watermark. Any drift in the engine's late-drop or
    finalization rule hash-diverges. (A time-ordered split would leave
    the drop leg vacuous — every chunk-2 row would be newer than the
    watermark.)

    Watermarks are millisecond-granular in Spark's state machinery, so
    the oracle floors event times to ms before subtracting the delay;
    window bounds are hour-aligned and unaffected."""
    from pyspark.sql.types import StructType

    root = _scratch_dir("pvarch_wm_")
    raw = load_samples(spark, sf_dir, channels=_LIFECYCLE_CHANNELS).select(
        "channel", "t", "v", "severity", "status"
    )
    tmin, tmax = raw.agg(F.min("t"), F.max("t")).first()
    out_schema = (
        "channel string, w_start bigint, n_samples bigint, sum_vq bigint"
    )
    if tmin is None:
        return spark.createDataFrame([], out_schema)
    even = F.expr("(t div 1000) % 2 = 0")
    src, ckpt, sink = f"{root}/incoming", f"{root}/ckpt", f"{root}/out"

    def _run() -> None:
        stream = (
            spark.readStream.schema(raw.schema).parquet(src)
            .withColumn("ts", F.timestamp_micros(F.expr("t div 1000")))
            .withWatermark("ts", f"{WM_DELAY_S} seconds")
            .groupBy("channel", F.window("ts", "3600 seconds"))
            .agg(
                F.count(F.lit(1)).alias("n_samples"),
                F.sum(F.expr("CAST(floor(v * 100 + 0.5) AS BIGINT)"))
                .alias("sum_vq"),
            )
            .select(
                "channel",
                (F.unix_micros("window.start") * 1000).alias("w_start"),
                "n_samples",
                "sum_vq",
            )
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    # chunk 1 (one file -> one micro-batch), run to completion: finalizes
    # every window the run-1 watermark passed
    raw.filter(even).coalesce(1).write.mode("overwrite").parquet(src)
    _run()
    # chunk 2: spans the full range again, so most rows are event-time
    # late; the restart resumes the watermark from the checkpoint commit
    raw.filter(~even).coalesce(1).write.mode("append").parquet(src)
    _run()
    got = spark.read.schema(StructType.fromDDL(out_schema)).parquet(sink)
    return got.orderBy("channel", "w_start")


_WM_NS = WM_DELAY_S * 1_000_000_000
_H_NS = 3600 * 1_000_000_000

SQL_STREAM_WATERMARK_COUNTS = f"""
WITH {{SAMPLES}},
ls AS (
  SELECT channel, t, CAST(floor(v * 100 + 0.5) AS BIGINT) AS vq
  FROM samples
  WHERE channel IN ({{CHANNELS}})
),
-- watermark is ms-granular: floor event time to ms before the delay
wm1 AS (
  SELECT ((max(t) // 1000000) - {WM_DELAY_S * 1000}) * 1000000 AS w
  FROM ls WHERE (t // 1000) % 2 = 0
),
fin AS (
  SELECT greatest(
           (SELECT w FROM wm1),
           ((max(t) // 1000000) - {WM_DELAY_S * 1000}) * 1000000
         ) AS w
  FROM ls
),
-- late-drop rule: a chunk-2 row survives iff its WINDOW's end is still
-- above the restart watermark (the state key predicate, not the raw
-- event time)
kept AS (
  SELECT ls.* FROM ls, wm1
  WHERE (t // 1000) % 2 = 0
     OR ((t // {_H_NS}) + 1) * {_H_NS} > wm1.w
)
SELECT channel,
       (t // {_H_NS}) * {_H_NS} AS w_start,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(vq) AS BIGINT) AS sum_vq
FROM kept, fin
GROUP BY channel, w_start, fin.w
HAVING w_start + {_H_NS} <= fin.w
ORDER BY channel, w_start
"""
SQL_STREAM_WATERMARK_COUNTS = SQL_STREAM_WATERMARK_COUNTS.replace(
    "{SAMPLES}", SAMPLES_CTE.strip()
).replace("{CHANNELS}", ", ".join(f"'{c}'" for c in _LIFECYCLE_CHANNELS))


# ---------------------------------------------------------------------------
# round 8: storage-sizing analytics (operators/storage.py)
# ---------------------------------------------------------------------------


def q_severity_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alarm-severity transition matrix over every channel's sample
    stream: (from, to) counts + distinct channels. The alarm-analytics
    view over the severity codes each sample carries
    (`JsonV1SampleSerializer.java:57-86`). One lag window on the shared
    per-channel exchange, then a |severity|^2-row groupBy — output size
    independent of data size."""
    s = load_samples(spark, sf_dir)
    return storage.severity_transitions(s).orderBy("from_sev", "to_sev")


SQL_SEVERITY_TRANSITIONS = f"""
WITH {SAMPLES_CTE.strip()},
d AS (
  SELECT channel, severity,
         lag(severity) OVER (PARTITION BY channel ORDER BY t) AS prev
  FROM samples)
SELECT CAST(prev AS INTEGER) AS from_sev,
       CAST(severity AS INTEGER) AS to_sev,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(count(DISTINCT channel) AS BIGINT) AS n_channels
FROM d WHERE prev IS NOT NULL
GROUP BY from_sev, to_sev ORDER BY from_sev, to_sev
"""


def q_ts_gorilla_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla delta-of-delta timestamp-compression estimate (Pelkonen
    et al., VLDB 2015 §4.1.1), per channel, for TWO series shapes: the
    raw irregular telemetry and the epoch-aligned 1h lattice a decimated
    level stores (`ArchivedChannelDecimatedSamplesDecimationLevel
    .java:854-888`). Quantifies the archiver's storage argument: the
    regular lattice costs ~1 bit/timestamp while irregular raw arrivals
    pay the 36-bit escape. Integer arithmetic end-to-end (grid `div`,
    lag-lag, CASE buckets) — bit-exact in both engines."""
    s = load_samples(spark, sf_dir).select("channel", "t")
    raw = s.withColumn("series", F.lit("raw"))
    lat = storage.decimation_lattice(s, PERIOD_1H * NS).withColumn(
        "series", F.lit("grid_1h")
    )
    return storage.gorilla_ts_bits(
        raw.unionByName(lat), series_col="series"
    ).orderBy("channel", "series")


_P1H_NS = PERIOD_1H * NS

SQL_TS_GORILLA_SIZE = f"""
WITH {SAMPLES_CTE.strip()},
raw AS (SELECT channel, t, 'raw' AS series FROM samples),
bounds AS (
  SELECT channel, min(t) // {_P1H_NS} AS lo_w, max(t) // {_P1H_NS} AS hi_w
  FROM samples GROUP BY channel),
lat AS (
  SELECT channel, unnest(range(lo_w, hi_w + 1)) * {_P1H_NS} AS t,
         'grid_1h' AS series
  FROM bounds),
u AS (SELECT * FROM raw UNION ALL SELECT * FROM lat),
d1 AS (
  SELECT channel, series, t, t // 1000000000 AS ts_g,
         (t // 1000000000)
           - lag(t // 1000000000)
             OVER (PARTITION BY channel, series ORDER BY t) AS dt
  FROM u),
d2 AS (
  SELECT *, dt - lag(dt) OVER (PARTITION BY channel, series ORDER BY t)
              AS dod
  FROM d1),
bits AS (
  SELECT channel, series,
         CASE WHEN dt IS NULL THEN 64
              WHEN dod IS NULL THEN 27
              WHEN dod = 0 THEN 1
              WHEN dod BETWEEN -63 AND 64 THEN 9
              WHEN dod BETWEEN -255 AND 256 THEN 12
              WHEN dod BETWEEN -2047 AND 2048 THEN 16
              ELSE 36 END AS b
  FROM d2)
SELECT channel, series, CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(b) AS BIGINT) AS bits_ts,
       CAST((sum(b) + 7) // 8 AS BIGINT) AS bytes_est,
       CAST(count(*) * 8 AS BIGINT) AS bytes_raw
FROM bits GROUP BY channel, series ORDER BY channel, series
"""


#: tiny cap so the synthetic series rolls over many times per channel
#: (the reference constant is 96 MB; the math is cap-invariant)
ROLLOVER_CAP_BYTES = 2048
ROLLOVER_OVERHEAD_BYTES = 32


def q_bucket_rollover_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8 analytic role: predicted size-capped bucket layout over the
    variable-payload string series — per-sample size estimate
    (`SampleSizeEstimator` contract, `SampleDecimator.java:152-177`)
    accumulated per channel and split at the cap
    (`MAX_BUCKET_SIZE_BYTES`, `ArchivedChannelDecimationLevel.java:97`;
    offset-grid form — see operators/storage.bucket_rollover_estimate
    for the documented greedy-rule deviation). Output rows play the
    bucket-index role (`ChannelMetaDataDAOImpl.java:2092-2103`)."""
    s = load_string_samples(spark, sf_dir)
    return storage.bucket_rollover_estimate(
        s,
        cap_bytes=ROLLOVER_CAP_BYTES,
        overhead_bytes=ROLLOVER_OVERHEAD_BYTES,
        payload_len=F.octet_length("sval"),
    ).orderBy("channel", "bucket_seq")


SQL_BUCKET_ROLLOVER_ESTIMATE = f"""
WITH {STRING_SAMPLES_CTE.strip()},
d AS (
  SELECT channel, t,
         CAST({ROLLOVER_OVERHEAD_BYTES} + strlen(sval) AS BIGINT) AS sz
  FROM string_samples),
w AS (
  SELECT channel, t, sz,
         sum(sz) OVER (PARTITION BY channel ORDER BY t
                       ROWS UNBOUNDED PRECEDING) - sz AS off
  FROM d)
SELECT channel, CAST(off // {ROLLOVER_CAP_BYTES} AS BIGINT) AS bucket_seq,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(sz) AS BIGINT) AS bucket_bytes,
       CAST(min(t) AS BIGINT) AS t_first,
       CAST(max(t) AS BIGINT) AS t_last
FROM w GROUP BY channel, bucket_seq ORDER BY channel, bucket_seq
"""
