"""Archive store + incremental decimation jobs: layout, pruning, retention,
high-water-mark idempotence."""

from __future__ import annotations

import glob
import os
import time

import pytest

from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.operators.decimate import NS, decimate
from cassandra_pv_archiver_spark.plans.jobs import (
    incremental_decimation,
    pick_source_level,
    retention_sweep,
)
from cassandra_pv_archiver_spark.sources.archive_store import (
    DAY_NS,
    ArchiveStore,
)
from cassandra_pv_archiver_spark.sources.manifest import ManifestTable
from cassandra_pv_archiver_spark.sources.testdata import load_samples

SF_DIR = "/root/testdata/sf0.001"
SCHEMA = "channel string, t long, v double, severity int, status int"


def _store(spark, tmp_path) -> ArchiveStore:
    return ArchiveStore(spark, str(tmp_path / "archive"))


def _plant_expired(spark, store, channel, t0, levels=(0,)):
    """A FOREIGN channel that lived and fully expired: hours of history
    from ``t0`` (decimated into every level of ``levels`` past 0), then
    every level swept past it — its rows are gone, its marks are not."""
    rows = [(channel, t0 + i * 3600 * NS, 1.0, 0, 0) for i in range(5)]
    store.write_samples(spark.createDataFrame(rows, SCHEMA), level=0)
    for level in levels:
        if level:
            assert incremental_decimation(store, level) > 0
    for level in levels:
        store.delete_older_than(level, t0 + 10 * DAY_NS)
        assert store.read_samples(level).count() == 0
        assert channel in store.channel_hwm(level)


def test_write_read_roundtrip_and_pruning(spark, tmp_path):
    store = _store(spark, tmp_path)
    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    store.write_samples(raw, level=0)

    # date-partition dirs exist
    lvl = f"{store.samples_path}/decimation_level=0"
    dates = [d for d in os.listdir(lvl) if d.startswith("date=")]
    assert len(dates) > 25  # a month of data

    lo = raw.agg(F.min("t")).first()[0] + 10 * DAY_NS
    hi = lo + 2 * DAY_NS
    got = store.read_samples(0, lo_ns=lo, hi_ns=hi)
    want = raw.filter(F.col("t").between(lo, hi))
    assert got.count() == want.count()
    dec_t = F.sum(F.col("t").cast("decimal(38,0)"))
    assert got.agg(dec_t).first()[0] == want.agg(dec_t).first()[0]

    # the physical plan prunes date partitions and pushes t/channel down
    plan = got.filter(F.col("channel") == "PV:1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "PushedFilters" in plan
    assert "isnotnull(t" in plan or "GreaterThanOrEqual(t" in plan


def test_partition_count_selected(spark, tmp_path):
    store = _store(spark, tmp_path)
    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    store.write_samples(raw, level=0)
    lo = raw.agg(F.min("t")).first()[0] + 10 * DAY_NS
    # a 1-day slice should read only 1-2 date partitions, not ~31
    sliced = store.read_samples(0, lo_ns=lo, hi_ns=lo + DAY_NS)
    n_parts = sliced.select(F.input_file_name()).distinct().count()
    full_parts = store.read_samples(0).select(F.input_file_name()).distinct().count()
    assert n_parts <= 4 and full_parts > 25


def test_high_water_mark_and_asof_probe(spark, tmp_path):
    """The level's high-water mark is the max of channel_hwm, and the
    latest sample at or before a time is the max of probe_stats' bt."""
    store = _store(spark, tmp_path)
    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    store.write_samples(raw, level=0)
    hwm = max(store.channel_hwm(0).values())
    assert hwm == raw.agg(F.max("t")).first()[0]
    mid = hwm - 5 * DAY_NS
    chans = [r.channel for r in raw.select("channel").distinct().collect()]
    probe = max(
        bt for bt, _, _ in store.probe_stats(0, mid, mid, chans).values()
        if bt is not None
    )
    want = raw.filter(F.col("t") <= mid).agg(F.max("t")).first()[0]
    assert probe == want
    assert store.channel_hwm(3600) is None


def test_incremental_decimation_idempotent_and_complete(spark, tmp_path):
    store = _store(spark, tmp_path)
    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    tmin = raw.agg(F.min("t")).first()[0]
    cut = tmin + 15 * DAY_NS

    # phase 1: archive the first half, materialize 1h
    store.write_samples(raw.filter(F.col("t") < cut), level=0)
    n1 = incremental_decimation(store, 3600)
    assert n1 > 0
    # idempotent: nothing new -> nothing written
    assert incremental_decimation(store, 3600) == 0

    # phase 2: archive the rest, incremental catch-up
    store.write_samples(raw.filter(F.col("t") >= cut), level=0)
    n2 = incremental_decimation(store, 3600)
    assert n2 > 0

    # equivalence with a from-scratch batch decimation
    full = decimate(raw, 3600).select("channel", "t", "mean", "n_samples")
    inc = store.read_samples(3600).select("channel", "t", "mean", "n_samples")
    assert inc.count() == full.count()
    joined = inc.alias("a").join(full.alias("b"), ["channel", "t"])
    mism = joined.filter(
        (F.abs(F.col("a.mean") - F.col("b.mean")) > 1e-9)
        | (F.col("a.n_samples") != F.col("b.n_samples"))
    )
    assert mism.count() == 0

    # cascade 6h on top reads the 1h level as its source
    assert pick_source_level(store.levels(), 21600) == 3600
    n6 = incremental_decimation(store, 21600)
    assert n6 > 0


def test_retention_sweep_trims_exactly(spark, tmp_path):
    store = _store(spark, tmp_path)
    raw = load_samples(spark, SF_DIR).select("channel", "t", "v", "severity", "status")
    store.write_samples(raw, level=0)
    tmin, tmax = raw.agg(F.min("t"), F.max("t")).first()
    cutoff = tmin + 10 * DAY_NS + 7 * 3600 * NS  # mid-partition cutoff
    dropped = retention_sweep(store, {0: int((tmax - cutoff) // NS)}, now_ns=tmax)
    assert dropped[0] >= 9
    left = store.read_samples(0)
    got_min = left.agg(F.min("t")).first()[0]
    want_min = raw.filter(F.col("t") >= tmax - (tmax - cutoff)).agg(F.min("t")).first()[0]
    assert got_min == want_min
    assert left.count() == raw.filter(F.col("t") >= tmax - (tmax - cutoff)).count()


def test_missing_level_yields_empty_not_error(spark, tmp_path):
    """F4: querying a decimation level outside the configured set returns an
    empty result set (`ArchiveAccessServiceImpl.java:794-805`)."""
    from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, str(tmp_path / "arch"))
    assert store.read_samples(0).count() == 0
    assert store.read_samples(900).count() == 0
    # full TYPE pin for the empty decimated frame (the driver's oracle row
    # for missing_level_empty can only pin column names on zero rows)
    dec = dict(store.read_samples(900).dtypes)
    assert dec["channel"] == "string" and dec["t"] == "bigint"
    assert dec["mean"] == "double" and dec["n_samples"] == "bigint"
    assert dec["quality"] == "string"
    raw = dict(store.read_samples(0).dtypes)
    assert raw == {
        "channel": "string", "t": "bigint", "v": "double",
        "severity": "int", "status": "int",
    }


def test_store_module_free_of_local_fs_primitives():
    """The store must run unchanged on hdfs:/s3a: — every path op goes
    through the Hadoop FileSystem facade, never the local os/shutil API."""
    import inspect

    from cassandra_pv_archiver_spark.sources import archive_store

    src = inspect.getsource(archive_store)
    for banned in ("os.listdir", "os.path", "os.replace", "shutil", "import os"):
        assert banned not in src, f"local-FS primitive in archive_store: {banned}"


def test_hwm_append_log_and_compaction(spark, tmp_path):
    """Mark updates append to the level header, never to a side table:
    after N writes the header map is the per-channel fold of every
    write so far, one entry per channel however many writes there were,
    and no ``meta/hwm_level=*`` log is left to compact."""
    store = _store(spark, tmp_path)
    rows = [("A", 10 * NS, 1.0, 0, 0), ("B", 20 * NS, 2.0, 0, 0)]
    mk = lambda shift: spark.createDataFrame(
        [(c, t + shift * NS, v, s, st) for c, t, v, s, st in rows],
        "channel string, t long, v double, severity int, status int",
    )
    for i in range(5):
        store.write_samples(mk(i), level=0)
        assert store.channel_hwm(0) == {"A": (10 + i) * NS, "B": (20 + i) * NS}
    assert not os.path.exists(tmp_path / "archive" / "meta" / "hwm_level=0")


def test_hadoop_fs_facade_roundtrip(spark, tmp_path):
    from cassandra_pv_archiver_spark.sources.fs import HadoopFS

    root = str(tmp_path / "fsroot")
    fs = HadoopFS(spark, root)
    assert not fs.exists(root + "/x")
    spark.createDataFrame([(1,)], "a int").write.parquet(root + "/x")
    assert fs.exists(root + "/x")
    assert any(n.endswith(".parquet") for n in fs.listdir(root + "/x"))
    fs.replace(root + "/x", root + "/y")
    assert fs.exists(root + "/y") and not fs.exists(root + "/x")
    fs.delete(root + "/y")
    assert not fs.exists(root + "/y")


def test_store_stats_metadata_only(spark, tmp_path):
    """stats() answers file/partition/version questions from manifests
    alone; counts move with appends and compaction as expected."""
    store = _store(spark, tmp_path)
    raw = load_samples(spark, SF_DIR).select(
        "channel", "t", "v", "severity", "status"
    )
    store.write_samples(raw, level=0)
    s1 = {s["level"]: s for s in store.stats()}[0]
    assert s1["version"] == 0 and s1["n_files"] >= s1["n_partitions"] >= 1
    assert s1["date_min"] <= s1["date_max"]
    store.write_samples(
        raw.withColumn("t", F.col("t") + 1), level=0
    )  # fragment
    s2 = {s["level"]: s for s in store.stats()}[0]
    assert s2["version"] == 1 and s2["n_files"] > s1["n_files"]
    store.compact(0)
    s3 = {s["level"]: s for s in store.stats()}[0]
    assert s3["n_files"] == s3["n_partitions"]  # 1 file per date
    assert s3["version"] > s2["version"]


def test_zorder_compaction_prunes_time_slices(spark, tmp_path):
    """compact(zorder=True) interleaves channel-hash and within-day time
    bits, so a narrow time slice across ALL channels skips most files by
    parquet footer min/max — which the default (channel, t) sort cannot
    (every channel-sorted file spans the whole day). Content must be
    identical either way (compaction is a layout-only operation)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cassandra_pv_archiver_spark.sources.archive_store import (
        DAY_NS,
        ArchiveStore,
    )

    n_ch, n_t = 64, 512
    rows = spark.range(n_ch * n_t).select(
        F.concat(F.lit("PV:"), (F.col("id") % n_ch).cast("string")).alias(
            "channel"
        ),
        ((F.col("id") / n_ch).cast("long") * (DAY_NS // n_t)).alias("t"),
        (F.col("id") * 0.5).alias("v"),
        F.lit(0).alias("severity"),
        F.lit(0).alias("status"),
    )

    step = DAY_NS // n_t

    def _build(root, zorder):
        st = ArchiveStore(spark, root, max_records_per_file=2048)
        # parity on the t-slot index: t div 1000 was always even for
        # these synthetic timestamps, making the second append EMPTY
        # (review catch) — slot parity actually interleaves the appends
        st.write_samples(rows.filter(F.expr(f"pmod(t div {step}, 2) = 0")), 0)
        st.write_samples(rows.filter(F.expr(f"pmod(t div {step}, 2) = 1")), 0)
        st.compact(0, zorder=zorder)
        return st

    def _files_overlapping(st, lo, hi):
        hit, total = 0, 0
        for f in st._level_files(0):
            md = pq.ParquetFile(f.replace("file:", "")).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "t"
            )
            fmin = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if fmax >= lo and fmin <= hi:
                hit += 1
        return hit, total

    st_sorted = _build(str(tmp_path / "plain"), zorder=False)
    st_z = _build(str(tmp_path / "zorder"), zorder=True)

    lo, hi = int(DAY_NS * 0.40), int(DAY_NS * 0.45)  # a 5% time slice
    hit_s, tot_s = _files_overlapping(st_sorted, lo, hi)
    hit_z, tot_z = _files_overlapping(st_z, lo, hi)
    assert tot_s > 4 and tot_z > 4  # layout actually split into files
    assert hit_s == tot_s  # channel-sort: every file spans the day
    assert hit_z <= tot_z // 2, (hit_z, tot_z)  # z-order: most files skip

    # layout-only: both layouts read back the identical table
    a = sorted(map(tuple, st_sorted.read_samples(0).collect()))
    b = sorted(map(tuple, st_z.read_samples(0).collect()))
    assert a == b


def test_files_are_channel_time_sorted(spark, tmp_path):
    """The layout contract the row-group-pruning story rests on: data
    files are PHYSICALLY ordered by (channel, t). Regression for the
    sort-eviction bug: the V1 writer's own partition-column sort caused
    EliminateSorts to drop sortWithinPartitions(channel, t), silently
    writing input order (t-major), which voids channel min/max pruning."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cassandra_pv_archiver_spark.sources.archive_store import (
        DAY_NS,
        ArchiveStore,
    )

    n_ch, n_t = 16, 256  # generation order is t-major (worst case)
    rows = spark.range(n_ch * n_t).select(
        F.concat(F.lit("PV:"), (F.col("id") % n_ch).cast("string")).alias(
            "channel"
        ),
        ((F.col("id") / n_ch).cast("long") * (2 * DAY_NS // n_t)).alias("t"),
        (F.col("id") * 0.5).alias("v"),
        F.lit(0).alias("severity"),
        F.lit(0).alias("status"),
    )
    st = ArchiveStore(spark, str(tmp_path / "srt"))
    st.write_samples(rows, 0)
    st.write_samples(rows.withColumn("t", F.col("t") + 1000), 0)
    st.compact(0)
    files = st._level_files(0)
    assert len(files) >= 2  # 2 dates
    for f in files:
        tb = pq.read_table(
            f.replace("file:", ""), columns=["channel", "t"]
        ).to_pandas()
        got = list(tb.itertuples(index=False))
        assert got == sorted(got, key=lambda r: (r.channel, r.t)), f


def _mini_raw(spark, channel, ts_vals):
    from pyspark.sql import functions as F  # noqa: F401

    return spark.createDataFrame(
        [(channel, int(t), float(i), 0, 0) for i, t in enumerate(ts_vals)],
        "channel string, t long, v double, severity int, status int",
    )


def test_incremental_onboards_channel_with_backlog(spark, tmp_path):
    """Review-pinned: a channel first seen AFTER the edge has steady state
    may arrive with history OLDER than the scan's seed bound; its backlog
    must be scanned (channel-pruned full history) and decimated, not
    silently skipped or computed from partial rows."""
    from pyspark.sql import functions as F

    from cassandra_pv_archiver_spark.operators.decimate import NS, decimate
    from cassandra_pv_archiver_spark.plans.jobs import incremental_decimation
    from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, str(tmp_path / "ob"))
    h = 3600 * NS
    # channel A: recent data only -> its seed sits near "now"
    a = _mini_raw(spark, "A", [10 * h + k * h // 4 for k in range(12)])
    store.write_samples(a, 0)
    assert incremental_decimation(store, 3600) > 0

    # channel B onboards with a BACKLOG entirely below A's seed
    b = _mini_raw(spark, "B", [k * h // 4 for k in range(12)])
    store.write_samples(b, 0)
    assert incremental_decimation(store, 3600) > 0

    # equivalence with from-scratch batch decimation of BOTH channels
    raw = a.unionByName(b)
    full = decimate(raw, 3600).select("channel", "t", "mean", "n_samples")
    inc = store.read_samples(3600).select("channel", "t", "mean", "n_samples")
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))


def test_incremental_first_window_accumulates_across_runs(spark, tmp_path):
    """Review-pinned: a channel whose first batches never complete a
    window has no mark, so each run reads ALL its source rows — once the
    window finally closes, its aggregate covers every row, not just the
    latest one."""
    from cassandra_pv_archiver_spark.operators.decimate import NS, decimate
    from cassandra_pv_archiver_spark.plans.jobs import incremental_decimation
    from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, str(tmp_path / "fw"))
    h = 3600 * NS
    # an ESTABLISHED channel with completed windows, so the target hwm
    # exists and the young channel goes through the probed-scan path (not
    # the no-hwm full-rescan path)
    est = _mini_raw(spark, "A", [k * h // 4 for k in range(12)])
    early = [0, 10 * 60 * NS, 20 * 60 * NS]              # window 0 only
    late = [40 * 60 * NS, h, h + 10 * 60 * NS]           # closes window 0
    store.write_samples(est, 0)
    assert incremental_decimation(store, 3600) > 0       # A materializes
    store.write_samples(_mini_raw(spark, "C", early), 0)
    assert incremental_decimation(store, 3600) == 0      # C: none complete
    store.write_samples(_mini_raw(spark, "C", late), 0)
    assert incremental_decimation(store, 3600) > 0

    # same values the batches carried (v enumerates per batch)
    raw = (
        est
        .unionByName(_mini_raw(spark, "C", early))
        .unionByName(_mini_raw(spark, "C", late))
    )
    full = {(r.channel, r.t): r for r in decimate(raw, 3600).collect()}
    inc = {(r.channel, r.t): r for r in store.read_samples(3600).collect()}
    assert set(inc) == set(full)
    for k in full:
        assert abs(inc[k].mean - full[k].mean) < 1e-9, k
        assert inc[k].n_samples == full[k].n_samples, k


def test_incremental_survives_source_level_switch(spark, tmp_path):
    """Review-pinned: when the edge's source switches (an intermediate
    level appears), the carry rows are derived from the new source level
    alone, never mixed with rows of the old one's schema — the run
    completes and outputs stay exact."""
    from cassandra_pv_archiver_spark.operators.decimate import NS, decimate
    from cassandra_pv_archiver_spark.plans.jobs import (
        incremental_decimation,
        pick_source_level,
    )
    from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

    store = ArchiveStore(spark, str(tmp_path / "sw"))
    h = 3600 * NS
    rows = _mini_raw(spark, "D", [k * h // 2 for k in range(30)])
    store.write_samples(rows, 0)
    # 6h edge first runs against raw (no 1h level exists yet)
    assert incremental_decimation(store, 21600, source_level=0) >= 0
    # the 1h level appears; the 6h edge now re-sources from it
    assert incremental_decimation(store, 3600) > 0
    assert pick_source_level(store.levels(), 21600) == 3600
    # new data arrives; the switched edge must not crash on stale state
    more = _mini_raw(spark, "D", [15 * h + k * h // 2 for k in range(12)])
    store.write_samples(more, 0)
    assert incremental_decimation(store, 3600) >= 0
    n = incremental_decimation(store, 21600)  # source now 3600
    assert n >= 0  # completes without AnalysisException


class TestRenameChannel:
    def _store(self, spark, tmp_path, rows):
        from cassandra_pv_archiver_spark.sources.archive_store import (
            ArchiveStore,
        )

        store = ArchiveStore(spark, str(tmp_path / "arch"))
        df = spark.createDataFrame(
            rows, "channel string, t long, v double, severity int, status int"
        )
        store.write_samples(df, level=0)
        return store

    def _rows(self, ch, n, base=10**18):
        return [(ch, base + i * 10**9, float(i), 0, 0) for i in range(n)]

    def test_rename_moves_rows_and_metadata(self, spark, tmp_path):
        rows = self._rows("PV:a", 20) + self._rows("PV:b", 5)
        store = self._store(spark, tmp_path, rows)
        pre_version = store.level_versions(0)[-1]
        moved = store.rename_channel("PV:a", "PV:renamed")
        assert moved == 20
        assert store.read_samples(0, channels=["PV:a"]).count() == 0
        got = store.read_samples(0, channels=["PV:renamed"])
        assert got.count() == 20
        # values survive bit-for-bit under the new name
        assert sorted((r["t"], r["v"]) for r in got.collect()) == sorted(
            (t, v) for _c, t, v, _s, _st in self._rows("PV:a", 20)
        )
        # untouched channel intact
        assert store.read_samples(0, channels=["PV:b"]).count() == 5
        # hwm followed the rename
        hwm = store.channel_hwm(0)
        assert "PV:a" not in hwm and "PV:renamed" in hwm
        # time travel: pre-rename snapshot still shows the old name
        old_snap = store.read_samples(
            0, channels=["PV:a"], at_version=pre_version
        )
        assert old_snap.count() == 20

    def test_rename_onto_existing_refuses(self, spark, tmp_path):
        store = self._store(
            spark, tmp_path, self._rows("PV:a", 3) + self._rows("PV:b", 3)
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="already exists"):
            store.rename_channel("PV:a", "PV:b")

    def test_rename_through_decimated_levels(self, spark, tmp_path):
        from cassandra_pv_archiver_spark.plans.jobs import (
            incremental_decimation,
        )

        # 10-minute spacing -> ~8 h of data -> several complete 1 h windows
        rows = [
            ("PV:a", 10**18 + i * 600 * 10**9, float(i), 0, 0)
            for i in range(50)
        ]
        store = self._store(spark, tmp_path, rows)
        incremental_decimation(store, 3600)
        assert store.read_samples(3600).count() > 0
        store.rename_channel("PV:a", "PV:x")
        for level in (0, 3600):
            chans = {
                r["channel"]
                for r in store.read_samples(level).select("channel").distinct().collect()
            }
            assert chans == {"PV:x"}, level
        # incremental decimation keeps working after the rename (the
        # marks followed): appending more data decimates under the new
        # name from the carry rows
        more = spark.createDataFrame(
            [
                ("PV:x", 10**18 + (50 + i) * 600 * 10**9, float(i), 0, 0)
                for i in range(10)
            ],
            "channel string, t long, v double, severity int, status int",
        )
        store.write_samples(more, level=0)
        incremental_decimation(store, 3600)
        assert store.read_samples(0, channels=["PV:x"]).count() == 60


class TestDeleteChannel:
    def _store(self, spark, tmp_path, rows):
        from cassandra_pv_archiver_spark.sources.archive_store import (
            ArchiveStore,
        )

        store = ArchiveStore(spark, str(tmp_path / "arch"))
        df = spark.createDataFrame(
            rows, "channel string, t long, v double, severity int, status int"
        )
        store.write_samples(df, level=0)
        return store

    def _rows(self, ch, n, base=10**18):
        return [(ch, base + i * 10**9, float(i), 0, 0) for i in range(n)]

    def test_delete_removes_rows_and_metadata_only_for_target(
        self, spark, tmp_path
    ):
        rows = self._rows("PV:a", 20) + self._rows("PV:b", 5)
        store = self._store(spark, tmp_path, rows)
        pre_version = store.level_versions(0)[-1]
        removed = store.delete_channel("PV:a")
        assert removed == 20
        assert store.read_samples(0, channels=["PV:a"]).count() == 0
        # the neighbour sharing files survives bit-for-bit
        got = store.read_samples(0, channels=["PV:b"]).collect()
        assert sorted((r["t"], r["v"]) for r in got) == sorted(
            (t, v) for _c, t, v, _s, _st in self._rows("PV:b", 5)
        )
        hwm = store.channel_hwm(0)
        assert "PV:a" not in hwm and "PV:b" in hwm
        # time travel: the pre-delete snapshot still shows the channel
        old_snap = store.read_samples(
            0, channels=["PV:a"], at_version=pre_version
        )
        assert old_snap.count() == 20

    def test_delete_unknown_channel_noop(self, spark, tmp_path):
        store = self._store(spark, tmp_path, self._rows("PV:a", 3))
        assert store.delete_channel("PV:nope") == 0
        assert store.read_samples(0).count() == 3

    def test_delete_through_decimated_levels_and_catchup(
        self, spark, tmp_path
    ):
        from cassandra_pv_archiver_spark.plans.jobs import (
            incremental_decimation,
        )

        rows = [
            (ch, 10**18 + i * 600 * 10**9, float(i), 0, 0)
            for ch in ("PV:a", "PV:b")
            for i in range(50)
        ]
        store = self._store(spark, tmp_path, rows)
        incremental_decimation(store, 3600)
        assert (
            store.read_samples(3600, channels=["PV:a"]).count() > 0
        )
        store.delete_channel("PV:a")
        assert store.read_samples(3600, channels=["PV:a"]).count() == 0
        n_b = store.read_samples(3600, channels=["PV:b"]).count()
        assert n_b > 0
        # later catch-up neither resurrects the deleted channel nor
        # disturbs the survivor
        assert incremental_decimation(store, 3600) == 0
        assert store.read_samples(3600, channels=["PV:a"]).count() == 0
        assert store.read_samples(3600, channels=["PV:b"]).count() == n_b


def test_negative_ns_write_read_same_partition(spark, tmp_path):
    """Pre-1970 samples: the write-side date partition (Spark `div`
    truncates toward zero) must agree with the read-side floor pruning
    (`_py_date` uses Python //) — a t = -1 ns sample written to
    1970-01-01 but pruned under 1969-12-31 would be invisible to
    bounded reads."""
    from cassandra_pv_archiver_spark.sources.archive_store import (
        DAY_NS,
        ArchiveStore,
    )

    store = ArchiveStore(spark, str(tmp_path / "arch"))
    rows = [("PV:N", -1, 1.0, 0, 0),
            ("PV:N", -DAY_NS, 2.0, 0, 0),
            ("PV:N", -DAY_NS - 1, 3.0, 0, 0),
            ("PV:N", 5, 4.0, 0, 0)]
    df = spark.createDataFrame(
        rows, "channel string, t long, v double, severity int, status int"
    )
    store.write_samples(df, level=0)
    # bounded read covering only the negative range must see all three
    got = sorted(
        r.t for r in store.read_samples(
            0, lo_ns=-2 * DAY_NS, hi_ns=-1
        ).collect()
    )
    assert got == [-DAY_NS - 1, -DAY_NS, -1]
    assert store.probe_stats(0, -1, -1, ["PV:N"])["PV:N"][0] == -1


def test_cascade_crash_lands_rows_and_marks_together(
    spark, tmp_path, crash_commit
):
    """A cascade edge killed before its level publish, between the stage
    move and the manifest rename, or after the commit: the level's rows
    and marks land together or not at all, a replayed run is dropped by
    the ``t > hwm`` guard alone, and the level ends equal to a
    from-scratch decimation with no (channel, t) pair duplicated."""
    store = _store(spark, tmp_path)
    hour = 3600 * NS
    raw = spark.createDataFrame(
        [(c, i * 600 * NS + off, float(i % 7), 0, 0)
         for c, off in (("PV:A", 7), ("PV:B", 9)) for i in range(60)],
        SCHEMA,
    )
    store.write_samples(raw.filter(F.col("t") < 5 * hour), level=0)
    assert incremental_decimation(store, 3600) > 0
    store.write_samples(raw.filter(F.col("t") >= 5 * hour), level=0)
    before = store.read_samples(3600).count()
    hwm_before = store.channel_hwm(3600)

    def marks_match_rows():
        got = store.read_samples(3600).groupBy("channel").agg(
            F.max("t").alias("m"))
        assert store.channel_hwm(3600) == {
            r.channel: r.m for r in got.collect()
        }

    crash_commit("/decimation_level=3600")
    with pytest.raises(IOError, match="simulated crash"):
        incremental_decimation(store, 3600)
    landed = crash_commit.point == "after_commit"
    marks_match_rows()
    if landed:
        assert store.read_samples(3600).count() > before
    else:
        assert store.read_samples(3600).count() == before
        assert store.channel_hwm(3600) == hwm_before

    version = store.level_versions(3600)[-1]
    assert (incremental_decimation(store, 3600) == 0) == landed
    assert (store.level_versions(3600)[-1] == version) == landed
    marks_match_rows()
    cols = ["channel", "t", "n_samples", F.round("mean", 9)]
    got = store.read_samples(3600).select(*cols).collect()
    want = decimate(raw, 3600).select(*cols).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_rename_mid_level_failure_compensates(spark, tmp_path, monkeypatch):
    """Round-9 review: a rename that fails between per-level swaps must
    reverse the already-renamed levels — each level's swap commits
    independently, so without compensation half the history would live
    under each name (and the collision probe would block every retry)."""
    from cassandra_pv_archiver_spark.sources import archive_store as mod

    store = _store(spark, tmp_path)
    schema = "channel string, t long, v double, severity int, status int"
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, schema), level=0)
    assert incremental_decimation(store, 3600) > 0  # level 3600 exists

    calls = {"n": 0}
    orig = mod.ArchiveStore._read_level_files

    def flaky(self, level, paths, at_version=None):
        # the COLLISION PROBE reads every level first (read_samples ->
        # _read_level_files), so the first level-3600 touch is the
        # probe's; failing it would abort the rename before any level
        # swapped and test nothing. Fail the SECOND touch — the rewrite
        # loop's, after level 0 already swapped.
        if level == 3600 and len(paths) > 0:
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated mid-rename I/O failure")
        return orig(self, level, paths, at_version=at_version)

    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", flaky)
    import pytest

    with pytest.raises(RuntimeError):
        store.rename_channel("PV:A", "PV:B")
    assert calls["n"] >= 2  # the failure really hit the rewrite loop
    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", orig)
    # compensation: EVERY level is back under the old name
    for level in store.levels():
        df = store.read_samples(level)
        assert df.filter(F.col("channel") == "PV:B").count() == 0
        assert df.filter(F.col("channel") == "PV:A").count() > 0
    # and the rename is retriable to completion
    assert store.rename_channel("PV:A", "PV:B") > 0
    assert store.read_samples(0).filter(
        F.col("channel") == "PV:A").count() == 0


def test_read_samples_empty_window_keeps_evolved_schema(spark, tmp_path):
    """Round-9 review: an empty (fully pruned) read of an evolved level
    must still carry the evolved column — schema-unstable empties break
    unionByName exactly when a time window is quiet."""
    store = _store(spark, tmp_path)
    base = "channel string, t long, v double, severity int, status int"
    evo = base + ", src_tag string"
    store.write_samples(spark.createDataFrame(
        [("PV:A", 3600 * NS, 1.0, 0, 0)], base), level=0)
    store.write_samples(spark.createDataFrame(
        [("PV:A", 7200 * NS, 2.0, 0, 0, "x")], evo), level=0)
    empty = store.read_samples(0, lo_ns=10**18, hi_ns=2 * 10**18)
    assert empty.count() == 0
    assert "src_tag" in empty.columns
    # CDC over the evolution window carries the column too
    vs = store._level_table(0).versions()
    cdc = store.read_changes(0, vs[0], vs[-1])
    assert [r.src_tag for r in cdc.collect()] == ["x"]


def test_rename_onto_expired_channel_purges_stale_hwm(spark, tmp_path):
    """Round-9 review: a fully-expired channel passes the rename
    collision probe (no data rows) but its stale hwm row would fold into
    the renamed channel's — making incremental decimation silently skip
    every window up to the dead channel's mark."""
    store = _store(spark, tmp_path)
    schema = "channel string, t long, v double, severity int, status int"
    hour = 3600 * NS
    # B: far-future history, then fully expired (hwm row survives)
    rows_b = [("PV:B", 1000 * hour + i * hour, 1.0, 0, 0) for i in range(3)]
    store.write_samples(spark.createDataFrame(rows_b, schema), level=0)
    store.delete_older_than(0, 2000 * hour)
    assert store.read_samples(0).count() == 0
    assert "PV:B" in store.channel_hwm(0)  # the mark the probe cannot see
    # A: early history, renamed onto the dead name
    rows_a = [("PV:A", i * hour, 1.0, 0, 0) for i in range(3)]
    store.write_samples(spark.createDataFrame(rows_a, schema), level=0)
    assert store.rename_channel("PV:A", "PV:B") > 0
    got = store.channel_hwm(0)
    # the renamed channel's hwm is A's real mark, NOT the stale max
    assert got["PV:B"] == 2 * hour
    # and incremental decimation materializes A's windows normally
    assert incremental_decimation(store, 3600) > 0
    assert store.read_samples(3600).count() > 0


def test_schema_survives_retention_emptying_level(spark, tmp_path):
    """Round-9 review: the schema record rides the manifest header, so a
    retention sweep that EMPTIES the level keeps the evolved schema —
    empty reads stay schema-stable and the evolution guard still binds."""
    import pytest

    store = _store(spark, tmp_path)
    base = "channel string, t long, v double, severity int, status int"
    evo = base + ", src_tag string"
    store.write_samples(spark.createDataFrame(
        [("PV:A", 3600 * NS, 1.0, 0, 0, "x")], evo), level=0)
    store.delete_older_than(0, 10**15)  # expires everything
    assert store.read_samples(0).count() == 0
    empty = store.read_samples(0)
    assert "src_tag" in empty.columns  # schema-stable empty
    # guard still binds: a regressed batch is refused even now
    with pytest.raises(ValueError, match="ADD COLUMN only"):
        store.write_samples(spark.createDataFrame(
            [("PV:A", 2 * 10**15, 1.0, 0, 0)], base), level=0)


def test_incremental_decimation_survives_source_evolution(spark, tmp_path):
    """Round-9 review: a source-level ADD COLUMN between two runs must
    not crash the next run with an AnalysisException — its carry rows
    predate the column and read it as NULL."""
    store = _store(spark, tmp_path)
    base = "channel string, t long, v double, severity int, status int"
    evo = base + ", src_tag string"
    hour = 3600 * NS
    rows = [("PV:A", i * hour, float(i), 0, 0) for i in range(5)]
    store.write_samples(spark.createDataFrame(rows, base), level=0)
    assert incremental_decimation(store, 3600) > 0
    more = [("PV:A", (5 + i) * hour, float(i), 0, 0, "tag") for i in range(3)]
    store.write_samples(spark.createDataFrame(more, evo), level=0)
    n = incremental_decimation(store, 3600)  # was: AnalysisException
    assert n > 0
    dec = store.read_samples(3600)
    assert dec.count() == dec.dropDuplicates(["channel", "t"]).count()


def test_reverse_union_read_newest_files_lack_column(spark, tmp_path):
    """VERDICT r9 #8: the REVERSE union — the level's newest committed
    files LACK a column that older files carry. This state arises from a
    writer race: a narrow batch's pre-check passed before a wider append
    committed, and the narrow commit rebased onto the wider header. The
    header (union) schema must win: narrow files read the evolved column
    as NULL, and the column never vanishes from the level."""
    from cassandra_pv_archiver_spark.sources import archive_store as mod

    store = _store(spark, tmp_path)
    base = "channel string, t long, v double, severity int, status int"
    evo = base + ", src_tag string"
    hour = 3600 * NS
    store.write_samples(spark.createDataFrame(
        [("PV:A", hour, 1.0, 0, 0, "x")], evo), level=0)

    # the raced narrow writer: its pre-check saw the pre-evolution
    # schema, so it stages WITHOUT src_tag and its commit rebases onto
    # the evolved header (write_samples' own path, minus the fresh
    # pre-check — exactly what a concurrent widener makes stale)
    narrow = spark.createDataFrame([("PV:A", 2 * hour, 2.0, 0, 0)], base)
    table = store._level_table(0)
    stage = table.stage_dir()
    (
        narrow.withColumn("date", mod._date_expr("t"))
        .repartition("date", "channel")
        .sortWithinPartitions("date", "channel", "t")
        .write.partitionBy("date").parquet(stage)
    )
    table.publish_stage(stage, header_fn=mod._union_header_fn(
        [(f.name, f.dataType.simpleString()) for f in narrow.schema.fields]
    ))

    # union schema survives the narrow commit
    assert "src_tag" in [f.name for f in store.level_schema(0).fields]
    got = store.read_samples(0).orderBy("t").collect()
    assert [r.src_tag for r in got] == ["x", None]
    assert [r.v for r in got] == [1.0, 2.0]
    # and a FURTHER write through the normal path keeps the invariant
    store.write_samples(spark.createDataFrame(
        [("PV:A", 3 * hour, 3.0, 0, 0, None)], evo), level=0)
    got = store.read_samples(0).orderBy("t").collect()
    assert [r.src_tag for r in got] == ["x", None, None]


def test_schema_type_conflict_refused_at_commit(spark, tmp_path):
    """VERDICT r9 #8: a same-name/different-type batch must be refused
    AT COMMIT (header union), not silently coerced — two racing writers
    can both pass write_samples' pre-check, and the loser's files would
    corrupt every header-schema scan if its commit landed."""
    import pytest

    from cassandra_pv_archiver_spark.sources import archive_store as mod

    store = _store(spark, tmp_path)
    hour = 3600 * NS
    store.write_samples(spark.createDataFrame(
        [("PV:A", hour, 1.0, 0, 0, 2.5)],
        "channel string, t long, v double, severity int, status int,"
        " x double"), level=0)
    table = store._level_table(0)
    v_before = table.current_version()

    conflicting = spark.createDataFrame(
        [("PV:A", 2 * hour, 2.0, 0, 0, "not-a-double")],
        "channel string, t long, v double, severity int, status int,"
        " x string")
    stage = table.stage_dir()
    (
        conflicting.withColumn("date", mod._date_expr("t"))
        .repartition("date", "channel")
        .write.partitionBy("date").parquet(stage)
    )
    with pytest.raises(ValueError, match="schema conflict at commit"):
        table.publish_stage(stage, header_fn=mod._union_header_fn(
            [(f.name, f.dataType.simpleString())
             for f in conflicting.schema.fields]
        ))
    # nothing committed: version unchanged, table still reads clean,
    # and the loser's published-but-unreferenced files are gc debris
    assert table.current_version() == v_before
    got = store.read_samples(0).collect()
    assert len(got) == 1 and got[0].x == 2.5
    live = set(table.files())
    orphans = [
        r for r in table.fs.list_files_recursive(table.root)
        if r not in live
    ]
    assert orphans  # the staged files landed but are unreferenced
    table.gc(keep_versions=1, grace_seconds=0)
    assert set(table.fs.list_files_recursive(table.root)) == live

    # the direct (non-raced) path refuses even earlier, at the pre-check
    with pytest.raises(ValueError, match="type changed"):
        store.write_samples(conflicting.drop("date"), level=0)


def test_delete_mid_level_failure_compensates(spark, tmp_path, monkeypatch):
    """VERDICT r9 #2: a delete that fails between per-level swaps must
    restore the already-deleted levels — otherwise the admin cascade's
    registry rollback re-advertises a channel with PARTIALLY deleted
    history. Unlike rename there is no inverse transform: the
    compensation re-commits each journaled table back to its pre-delete
    file list (still referenced by the retained previous version)."""
    import pytest

    from cassandra_pv_archiver_spark.sources import archive_store as mod

    store = _store(spark, tmp_path)
    schema = "channel string, t long, v double, severity int, status int"
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    rows += [("PV:KEEP", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, schema), level=0)
    assert incremental_decimation(store, 3600) > 0

    before = {
        level: {
            r.channel: r.n
            for r in store.read_samples(level)
            .groupBy("channel").agg(F.count("*").alias("n")).collect()
        }
        for level in store.levels()
    }
    hwm_before = {
        level: store.channel_hwm(level) for level in store.levels()
    }
    assert before[0]["PV:A"] == 30 and 3600 in before

    calls = {"n": 0}
    orig = mod.ArchiveStore._read_level_files

    def flaky(self, level, paths, at_version=None):
        # fail on the FIRST touch of the second level's rewrite pass,
        # after level 0's delete already swapped in
        if level == 3600 and calls["n"] == 0 and len(paths) > 0:
            calls["n"] += 1
            raise RuntimeError("simulated mid-delete I/O failure")
        return orig(self, level, paths, at_version=at_version)

    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", flaky)
    with pytest.raises(RuntimeError):
        store.delete_channel("PV:A")
    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", orig)

    # all-or-nothing: every level reads exactly its pre-delete state,
    # metadata included
    for level in store.levels():
        after = {
            r.channel: r.n
            for r in store.read_samples(level)
            .groupBy("channel").agg(F.count("*").alias("n")).collect()
        }
        assert after == before[level]
        assert store.channel_hwm(level) == hwm_before[level]
    # and the delete is retriable to completion
    assert store.delete_channel("PV:A") > 0
    for level in store.levels():
        df = store.read_samples(level)
        assert df.filter(F.col("channel") == "PV:A").count() == 0
        assert df.filter(F.col("channel") == "PV:KEEP").count() > 0


def test_repair_rename_unwedges_half_renamed_store(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 (medium): when a rename fails mid-loop AND its
    compensation also fails, the store is half-renamed and the public
    API is WEDGED — the collision probe finds the channel's own rows
    under both names and refuses both directions. repair_rename is the
    documented way out: skip the probe, MERGE (never purge) metadata,
    and walk metadata on every level."""
    import pytest

    from cassandra_pv_archiver_spark.sources import archive_store as mod

    store = _store(spark, tmp_path)
    schema = "channel string, t long, v double, severity int, status int"
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, schema), level=0)
    assert incremental_decimation(store, 3600) > 0
    total = {lvl: store.read_samples(lvl).count() for lvl in store.levels()}
    hwm_before = {
        lvl: store.channel_hwm(lvl) for lvl in store.levels()
    }

    state = {"mode": "forward", "n3600": 0}
    orig = mod.ArchiveStore._read_level_files

    def flaky(self, level, paths, at_version=None):
        if state["mode"] == "wedge":
            raise RuntimeError("simulated compensation failure")
        if state["mode"] == "forward" and level == 3600 and len(paths) > 0:
            state["n3600"] += 1
            # 1st touch is the collision probe's read; the 2nd is the
            # rewrite loop's, after level 0 already swapped — fail there
            # and keep failing so the compensation dies too
            if state["n3600"] == 2:
                state["mode"] = "wedge"
                raise RuntimeError("simulated mid-rename I/O failure")
        return orig(self, level, paths, at_version=at_version)

    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", flaky)
    with pytest.raises(RuntimeError):
        store.rename_channel("PV:A", "PV:B")
    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", orig)

    # half-renamed: level 0 under the new name, level 3600 still old —
    # and the probe-guarded API refuses BOTH directions (the wedge)
    assert store.read_samples(0).filter(
        F.col("channel") == "PV:B").count() == total[0]
    assert store.read_samples(3600).filter(
        F.col("channel") == "PV:A").count() == total[3600]
    with pytest.raises(ValueError, match="already exists"):
        store.rename_channel("PV:A", "PV:B")
    with pytest.raises(ValueError, match="already exists"):
        store.rename_channel("PV:B", "PV:A")

    # repair completes the rename: every level under the new name only.
    # Already-folded metadata (level 0's hwm, renamed before the crash)
    # is PRESERVED — repair skips levels whose metadata no longer
    # mentions the old name; still-old metadata is purged-and-renamed
    # exactly like a fresh rename.
    assert store.repair_rename("PV:A", "PV:B") > 0
    for lvl in store.levels():
        df = store.read_samples(lvl)
        assert df.filter(F.col("channel") == "PV:A").count() == 0
        assert df.filter(F.col("channel") == "PV:B").count() == total[lvl]
        assert store.channel_hwm(lvl) == {"PV:B": hwm_before[lvl]["PV:A"]}
    # idempotent AND no-op-cheap: a second repair renames nothing and
    # commits nothing (round-10 review: an unconditional metadata
    # republish would churn a manifest version per table per call)
    def versions():
        return {lvl: store.level_versions(lvl)[-1] for lvl in store.levels()}

    versions_before = versions()
    assert store.repair_rename("PV:A", "PV:B") == 0
    assert versions_before == versions()


def test_match_manifest_files_linear_matcher():
    """VERDICT r9 #7: the affected-file matcher is a suffix-segment set
    lookup, not an O(|manifest| x |hit|) endswith scan. Basenames repeat
    across date dirs (one publish writes the same part name into every
    partition), and input_file_name percent-encodes — both must resolve
    exactly."""
    from cassandra_pv_archiver_spark.sources.archive_store import (
        _match_manifest_files,
    )

    rel = [
        "date=2020-01-01/aa-part-00000.parquet",
        "date=2020-01-02/aa-part-00000.parquet",  # same basename
        "date=2020-01-02/bb-part-00001.parquet",
    ]
    hit = {
        "file:///t/samples/decimation_level=0/date=2020-01-02/aa-part-00000.parquet",
    }
    assert _match_manifest_files(rel, hit) == [
        "date=2020-01-02/aa-part-00000.parquet"
    ]
    # percent-encoded URI resolves to the raw manifest path
    assert _match_manifest_files(
        ["date=2020-01-01/a b.parquet"],
        {"file:///t/date%3D2020-01-01/a%20b.parquet"},
    ) == ["date=2020-01-01/a b.parquet"]
    # manifest order is preserved for multi-hits
    assert _match_manifest_files(
        rel,
        {f"file:///t/lvl/{r}" for r in rel},
    ) == rel


def test_delete_purges_metadata_of_fully_expired_channel(spark, tmp_path):
    """Round-10 review: a channel whose DATA fully expired still owns
    marks; a hits-only delete walk left that stale
    metadata behind forever, and a later re-creation of the name would
    make incremental decimation silently skip every window up to the
    stale high-water mark."""
    store = _store(spark, tmp_path)
    schema = "channel string, t long, v double, severity int, status int"
    rows = [(c, i * 3600 * NS, float(i), 0, 0)
            for c in ("PV:X", "PV:Y") for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, schema), level=0)
    assert incremental_decimation(store, 3600) > 0
    tmax = 29 * 3600 * NS
    # expire EVERY level-3600 row: the level keeps its (empty) manifest
    # and its marks — the fully-expired state
    retention_sweep(store, {3600: 1}, now_ns=tmax + 10 * DAY_NS)
    assert store.read_samples(3600).count() == 0
    assert "PV:X" in store.channel_hwm(3600)

    n = store.delete_channel("PV:X")
    assert n == 30  # level-0 data rows (3600 had none left)
    # metadata followed on the data-less level too
    assert set(store.channel_hwm(3600)) == {"PV:Y"}
    # the survivor is untouched everywhere
    assert store.read_samples(0).filter(
        F.col("channel") == "PV:Y").count() == 30
    assert set(store.channel_hwm(0)) == {"PV:Y"}


def test_repair_rename_purges_stale_foreign_metadata(spark, tmp_path):
    """Round-10 review: on a level whose metadata still mentions the old
    name, the rename never ran — any metadata under the NEW name there is
    a fully-expired FOREIGN channel's stale leftovers and must be purged
    (folding it in would inherit its high-water mark and make
    incremental decimation silently skip windows), exactly as a fresh
    rename purges it."""
    store = _store(spark, tmp_path)
    # stale FOREIGN marks under the target name, far ahead of A's
    # history (the expired channel whose data is gone but whose marks
    # are not)
    _plant_expired(spark, store, "PV:B", 10**6 * 3600 * NS)
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(10)]
    store.write_samples(spark.createDataFrame(rows, SCHEMA), level=0)

    assert store.repair_rename("PV:A", "PV:B") == 10
    # the stale mark did NOT fold in — B carries A's true maximum
    assert store.channel_hwm(0) == {"PV:B": 9 * 3600 * NS}


def _crash_rename_between_levels(store, monkeypatch, old, new):
    """Kill ``rename_channel(old, new)`` after level 0's swap (rows and
    marks, one commit) but before level 3600's, and make the
    compensation die on its first data read, so the split survives:
    level 0 under ``new``, level 3600 still under ``old``."""
    from cassandra_pv_archiver_spark.sources import archive_store as mod

    wedged = []
    orig = mod.ArchiveStore._read_level_files

    def flaky(self, level, paths, at_version=None):
        if wedged or (level == 3600 and paths):
            wedged.append(level)
            raise RuntimeError("simulated crash between level swaps")
        return orig(self, level, paths, at_version=at_version)

    assert store.rename_target_occupied(new) is None
    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", flaky)
    with pytest.raises(RuntimeError, match="between level swaps"):
        store.rename_channel(old, new, preflighted=True)
    monkeypatch.setattr(mod.ArchiveStore, "_read_level_files", orig)
    assert wedged == [3600, 0]  # the compensation died on level 0


def test_repair_rename_rollback_preserves_prefold_metadata(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 (medium): rolling BACK a crashed rename must not
    purge the channel's own not-yet-renamed metadata. A rename A->B
    that dies between two levels' swaps leaves level 0's rows and marks
    under B and level 3600's still under A. ``repair_rename(B, A)`` must
    rename level 0 back and leave level 3600 untouched: its marks carry
    the repair TARGET name and are the channel's own — purging them
    would let the monotonic guard accept replays and incremental
    decimation re-materialize every window of the level."""
    store = _store(spark, tmp_path)
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, SCHEMA), level=0)
    assert incremental_decimation(store, 3600) > 0
    marks = {lvl: store.channel_hwm(lvl)["PV:A"] for lvl in store.levels()}

    _crash_rename_between_levels(store, monkeypatch, "PV:A", "PV:B")
    # the split state: level 0 under B, level 3600 under A
    assert store.channel_hwm(0) == {"PV:B": marks[0]}
    assert store.channel_hwm(3600) == {"PV:A": marks[3600]}
    assert store.read_samples(0, channels=["PV:A"]).count() == 0

    # roll back: the channel ends fully under A, its own marks INTACT
    assert store.repair_rename("PV:B", "PV:A") == len(rows)
    for lvl in store.levels():
        assert store.read_samples(lvl, channels=["PV:B"]).count() == 0
        assert store.channel_hwm(lvl) == {"PV:A": marks[lvl]}, (
            "rollback repair purged the channel's own marks"
        )
    # and the store is fully functional under the restored name
    assert store.repair_rename("PV:B", "PV:A") == 0
    assert incremental_decimation(store, 3600) == 0


def test_rollback_repair_drops_foreign_stale_metadata(
    spark, tmp_path, monkeypatch
):
    """Round-11 review: rolling back a crashed rename when a FOREIGN
    expired channel's stale marks sit under the crashed rename's TARGET
    name. On the level the crash left unrenamed, the repair source then
    names a mark that is NOT the channel's own — the forward rule
    ('mentions source => rename never ran => purge target') would purge
    the channel's genuine mark AND adopt the foreign stale one;
    repair_rename(..., rollback=True) must instead keep the channel's
    own marks and DROP the foreign ones (folding a foreign mark in would
    make incremental decimation silently skip windows)."""
    store = _store(spark, tmp_path)
    # the foreign expired channel: stale marks under the name the rename
    # will target, FAR ahead of A's history — exactly what the fresh
    # rename's purge exists for, and what a rollback must never adopt
    _plant_expired(
        spark, store, "PV:B", 10**6 * 3600 * NS, levels=(0, 3600)
    )
    foreign = store.channel_hwm(3600)["PV:B"]
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, SCHEMA), level=0)
    assert incremental_decimation(store, 3600) > 0
    marks = {lvl: store.channel_hwm(lvl)["PV:A"] for lvl in store.levels()}

    _crash_rename_between_levels(store, monkeypatch, "PV:A", "PV:B")
    # split state: level 0 under B (the fresh rename purged the foreign
    # mark in the same commit); level 3600 keeps A's rows and marks next
    # to the foreign stale mark
    assert store.channel_hwm(0) == {"PV:B": marks[0]}
    assert store.channel_hwm(3600) == {"PV:A": marks[3600], "PV:B": foreign}

    # rollback with the explicit flag: own marks survive, the foreign
    # stale mark is DROPPED (not renamed into PV:A)
    assert store.repair_rename("PV:B", "PV:A", rollback=True) == len(rows)
    for lvl in store.levels():
        assert store.read_samples(lvl, channels=["PV:A"]).count() > 0
        assert store.channel_hwm(lvl) == {"PV:A": marks[lvl]}, (
            "rollback adopted or purged the wrong metadata"
        )


def test_concurrent_incremental_decimation_single_publish(spark, tmp_path):
    """Round-10 review: two concurrent runs of the same decimation edge
    (the streaming per-batch cascade racing an operator backfill) must
    not double-publish — manifest appends commute, so without the
    per-edge lock both runs' commits would land and every interval row
    would exist twice, double-counting every re-aggregate forever."""
    import threading as th

    store = _store(spark, tmp_path)
    schema = "channel string, t long, v double, severity int, status int"
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, schema), level=0)

    results, errs = [], []

    def run():
        try:
            results.append(incremental_decimation(store, 3600))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [th.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    dec = store.read_samples(3600)
    n = dec.count()
    assert n == dec.dropDuplicates(["channel", "t"]).count()
    assert sum(results) == n  # one run did the work, the other found none


def test_cross_process_edge_lease_refuses_second_writer(spark, tmp_path):
    """VERDICT r10 #3: the one-writer-per-edge contract holds ACROSS
    processes — a second driver on the same (store, target) edge
    refuses loudly (EdgeLeaseHeld) instead of double-publishing, a
    crashed holder's stale lease expires, and a completed run releases
    its lease."""
    import os

    import pytest

    from cassandra_pv_archiver_spark.plans import jobs

    store = _store(spark, tmp_path)
    schema = "channel string, t long, v double, severity int, status int"
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store.write_samples(spark.createDataFrame(rows, schema), level=0)
    lease_path = f"{store.root}/_leases/decimation-3600.lease"

    # "another driver" mid-run: a second, independent handle holds the
    # lease (the in-process threading lock is NOT involved — this is
    # exactly the cross-process hole the file lease closes)
    other = ArchiveStore(spark, store.root)
    with jobs._edge_lease(other, 3600, ttl_s=900.0):
        with pytest.raises(jobs.EdgeLeaseHeld, match="held by another"):
            incremental_decimation(store, 3600)
        assert store.read_samples(3600).count() == 0  # nothing published
        # ttl_s=0 opts out (single-writer deployments own the contract)
        assert incremental_decimation(store, 3600, lease_ttl_s=0) > 0
    assert not store.fs.exists(lease_path)  # released on exit

    # stale lease: holder died 1h ago — the next claimant breaks it,
    # runs, and releases
    store.fs.write_text(lease_path, "dead-host:1:deadbeef")
    old = time.time() - 3600
    os.utime(lease_path, (old, old))
    more = [("PV:A", (30 + i) * 3600 * NS, float(i), 0, 0) for i in range(5)]
    store.write_samples(spark.createDataFrame(more, schema), level=0)
    assert incremental_decimation(store, 3600) > 0
    assert not store.fs.exists(lease_path)

    # a LIVE foreign lease (fresh mtime) still refuses
    store.fs.write_text(lease_path, "other-host:2:cafebabe")
    with pytest.raises(jobs.EdgeLeaseHeld):
        incremental_decimation(store, 3600)
    store.fs.delete(lease_path)

    # end state: every interval materialized exactly once
    dec = store.read_samples(3600)
    assert dec.count() == dec.dropDuplicates(["channel", "t"]).count()


def test_stale_lease_break_is_atomic_election(spark, tmp_path):
    """Round-11 review: breaking a stale lease must be an atomic
    ELECTION, not delete-then-claim — two breakers that both observed
    the stale lease could otherwise both acquire (the slower one's
    delete removes the winner's FRESH lease). The break renames the
    stale lease onto an mtime-derived tombstone: only one rename can
    win, a paused loser's late break attempt hits the kept tombstone,
    and expired tombstones are swept by a later acquirer."""
    import pytest

    from cassandra_pv_archiver_spark.plans import jobs

    store = _store(spark, tmp_path)
    ldir = f"{store.root}/_leases"
    lease = f"{ldir}/decimation-3600.lease"
    store.fs.mkdirs(ldir)
    store.fs.write_text(lease, "dead-host:1:deadbeef")
    old = time.time() - 3600
    os.utime(lease, (old, old))
    stale_mtime = store.fs.mtime_ms(lease)
    tomb = f"{lease}.break-{stale_mtime}"

    with jobs._edge_lease(store, 3600, ttl_s=900.0):  # breaker A wins
        assert store.fs.exists(tomb)  # the election record is KEPT
        # a paused breaker B that observed the SAME stale lease wakes
        # up mid-A: its break rename must LOSE on the tombstone, and
        # A's fresh lease must survive untouched
        assert not store.fs.rename_no_overwrite(lease, tomb)
        assert store.fs.exists(lease)
        # a by-the-book claimant refuses (fresh lease, within ttl)
        with pytest.raises(jobs.EdgeLeaseHeld, match="held by another"):
            with jobs._edge_lease(store, 3600, ttl_s=900.0):
                pass
    assert not store.fs.exists(lease)  # released
    assert store.fs.exists(tomb)  # young tombstone retained

    # age the tombstone past the ttl: the next successful acquire
    # sweeps it
    os.utime(tomb, (old, old))
    with jobs._edge_lease(store, 3600, ttl_s=900.0):
        pass
    assert not store.fs.exists(tomb)


def test_cross_process_concurrent_runs_single_materialize(
    spark, tmp_path, monkeypatch
):
    """Two independent ArchiveStore handles racing the same edge with
    the in-process lock DISABLED (each call gets a private lock — the
    cross-process simulation): the lease guarantees no interval is ever
    double-materialized; the loser either refuses (EdgeLeaseHeld) or
    arrives after release and finds nothing to do."""
    import threading as th

    from cassandra_pv_archiver_spark.plans import jobs

    monkeypatch.setattr(
        jobs, "_edge_lock", lambda root, p: jobs._EdgeLock()
    )
    store_a = _store(spark, tmp_path)
    store_b = ArchiveStore(spark, store_a.root)
    schema = "channel string, t long, v double, severity int, status int"
    rows = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(30)]
    store_a.write_samples(spark.createDataFrame(rows, schema), level=0)

    results, refused = [], []

    def run(s):
        try:
            results.append(incremental_decimation(s, 3600))
        except jobs.EdgeLeaseHeld:
            refused.append(1)

    threads = [th.Thread(target=run, args=(s,)) for s in (store_a, store_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    dec = store_a.read_samples(3600)
    n = dec.count()
    assert n > 0
    assert n == dec.dropDuplicates(["channel", "t"]).count()
    assert sum(results) == n  # double-publish would make this 2n
    assert len(results) + len(refused) == 2


# -- file format -------------------------------------------------------------
def _parquet_files(root: str) -> set[str]:
    return set(glob.glob(f"{root}/**/*.parquet", recursive=True))


def _column_chunks(path: str) -> list:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return [
        md.row_group(g).column(i)
        for g in range(md.num_row_groups)
        for i in range(md.num_columns)
    ]


def _has_dictionary(col) -> bool:
    """A column chunk with a dictionary page or a ``*_DICTIONARY``
    encoding (v1 pages name it PLAIN_DICTIONARY, v2 RLE_DICTIONARY)."""
    return col.has_dictionary_page or any(
        e.endswith("_DICTIONARY") for e in col.encodings
    )


def _assert_store_format(path: str) -> None:
    """zstd on every column, v2 data pages, ``t`` delta-packed, and no
    dictionary on any floating-point column."""
    for col in _column_chunks(path):
        where = (path, col.path_in_schema)
        assert col.compression == "ZSTD", where
        assert "PLAIN_DICTIONARY" not in col.encodings, where
        if col.path_in_schema == "t":
            assert col.encodings == ("DELTA_BINARY_PACKED",), where
        if col.physical_type in ("DOUBLE", "FLOAT"):
            assert not _has_dictionary(col), where


def _two_day_raw(spark, shift_ns: int = 0):
    return spark.range(3 * 2 * 1440).selectExpr(
        "concat('PV:', id % 3) AS channel",
        f"{shift_ns} + (id div 3) * {60 * NS} AS t",
        "CAST(id % 101 AS DOUBLE) AS v",
        "CAST(0 AS INT) AS severity",
        "CAST(0 AS INT) AS status",
    )


def test_every_store_write_uses_the_store_format(spark, tmp_path):
    """Each write path adds files, and every file it adds is zstd with
    v2 pages, a DELTA_BINARY_PACKED ``t`` and no dictionary on a double
    column (an ADD COLUMN double included), on every level it writes."""
    store = _store(spark, tmp_path)
    root = str(tmp_path / "archive")
    seen: set[str] = set()

    def step(name, fn, *args, **kwargs):
        fn(*args, **kwargs)
        now = _parquet_files(root)
        added = now - seen
        assert added, f"{name} wrote no file"
        for f in added:
            _assert_store_format(f)
        seen.update(now)
        return added

    step("write_samples", store.write_samples, _two_day_raw(spark), 0)
    step("write_samples", store.write_samples, _two_day_raw(spark, 30 * NS), 0)
    step("incremental_decimation", incremental_decimation, store, 3600)
    step("compact(zorder=True)", store.compact, 0, zorder=True)
    store.write_samples(_two_day_raw(spark, 45 * NS), 0)
    seen.update(_parquet_files(root))
    step("compact", store.compact, 0)
    step("delete_older_than", store.delete_older_than, 0, DAY_NS // 2)
    added = step(
        "write_samples(ADD COLUMN double)", store.write_samples,
        _two_day_raw(spark, 50 * NS).withColumn("v2", F.col("v") / 7), 0,
    )
    assert {
        c.path_in_schema for f in added
        for c in _column_chunks(f) if c.physical_type == "DOUBLE"
    } == {"v", "v2"}
    added = step("rename_channel", store.rename_channel, "PV:0", "PV:9")
    for table in ("samples/decimation_level=0/",
                  "samples/decimation_level=3600/"):
        assert any(table in f for f in added), table


def test_legacy_v1_snappy_files_read_back_and_compact_converts(
    spark, tmp_path
):
    """A level holding a file from Spark's default writer (v1 pages,
    snappy, dictionary-encoded doubles) next to store-format files reads
    back exactly; compact rewrites it into the store format with the
    same rows."""
    from cassandra_pv_archiver_spark.sources.archive_store import _date_expr

    store = _store(spark, tmp_path)
    new = _two_day_raw(spark)
    legacy = _two_day_raw(spark, 30 * NS)
    store.write_samples(new, 0)
    table = store._level_table(0)
    stage = table.stage_dir()
    legacy.withColumn("date", _date_expr("t")).write.partitionBy(
        "date"
    ).parquet(stage)
    added = table.publish_stage(stage)
    old = {
        c.path_in_schema: c
        for c in _column_chunks(
            f"{tmp_path}/archive/samples/decimation_level=0/{added[0]}"
        )
    }
    assert old["channel"].compression == "SNAPPY"
    assert _has_dictionary(old["v"])

    want = sorted(map(tuple, new.union(legacy).collect()))
    assert sorted(map(tuple, store.read_samples(0).collect())) == want
    store.compact(0)
    for f in store._level_files(0):
        _assert_store_format(f.split("://", 1)[-1])
    assert sorted(map(tuple, store.read_samples(0).collect())) == want


def test_duckdb_reads_store_files_like_spark(spark, tmp_path):
    """The format stays readable outside Spark: DuckDB over the
    manifest-listed files returns the rows Spark reads."""
    import duckdb

    store = _store(spark, tmp_path)
    raw = _two_day_raw(spark)
    store.write_samples(raw, 0)
    store.write_samples(decimate(raw, 3600), 3600)
    con = duckdb.connect()
    try:
        for level in (0, 3600):
            files = [f.split("://", 1)[-1] for f in store._level_files(level)]
            df = store.read_samples(level)
            cols = ", ".join(df.columns)
            got = con.execute(
                f"SELECT {cols} FROM read_parquet(?, hive_partitioning = false)",
                [files],
            ).fetchall()
            assert sorted(got) == sorted(map(tuple, df.collect())), level
    finally:
        con.close()


def test_hwm_append_adds_one_file(spark, tmp_path):
    """Each write adds ONE level manifest version, and that version
    carries the write's marks: rows and marks publish together, and an
    older version still answers with the marks it committed."""
    store = _store(spark, tmp_path)
    first = _two_day_raw(spark)
    store.write_samples(first, 0)
    assert store.level_versions(0) == [0]
    store.write_samples(_two_day_raw(spark, 30 * NS), 0)
    assert store.level_versions(0) == [0, 1]

    def fold(df):
        return {
            r.channel: r.m
            for r in df.groupBy("channel").agg(F.max("t").alias("m")).collect()
        }

    assert store.channel_hwm(0, at_version=0) == fold(first)
    assert store.channel_hwm(0) == fold(store.read_samples(0))
    assert store.channel_hwm(0) != store.channel_hwm(0, at_version=0)


def test_metadata_reads_launch_no_schema_inference(
    spark, tmp_path, count_jobs
):
    """Level reads use the level's manifest schema, so none launches a
    footer-inference job: channel_hwm parses the manifest header on the
    driver (no job at all), and probe_stats on a one-day store, whose
    bt, rmin and ft all lie in the query's own partition, is one job
    with no walk."""
    store = _store(spark, tmp_path)
    day = _two_day_raw(spark).filter(f"t < {DAY_NS}")
    store.write_samples(day, 0)
    hwm, jobs = count_jobs(store.channel_hwm, 0)
    assert jobs == 0
    assert hwm == {
        r.channel: r.m
        for r in day.groupBy("channel").agg(F.max("t").alias("m")).collect()
    }
    stats, jobs = count_jobs(
        store.probe_stats, 0, 6 * 3600 * NS, 7 * 3600 * NS, ["PV:1"]
    )
    assert jobs == 1
    assert stats["PV:1"][0] <= 6 * 3600 * NS <= stats["PV:1"][1]


def test_ingest_batch_commits_one_version_per_level(
    spark, tmp_path, count_jobs
):
    """The write path's budget: one ingest_batch through a two-edge
    cascade stays within 11 Spark jobs and commits exactly one manifest
    version per level it writes and nothing else; no hwm or seed side
    table exists; and reading the marks afterwards launches no job."""
    from cassandra_pv_archiver_spark.streaming.ingest import ingest_batch

    store = _store(spark, tmp_path)
    history = _two_day_raw(spark).filter(f"t < {6 * 3600 * NS}")
    ingest_batch(store, history, cascade_periods=[30, 900])
    levels = (0, 30, 900)

    def versions():
        return {lvl: store.level_versions(lvl)[-1] for lvl in levels}

    def rows():
        return {lvl: store.read_samples(lvl).count() for lvl in levels}

    rows_before, before = rows(), versions()
    batch = spark.range(3 * 60).selectExpr(
        "concat('PV:', id % 3) AS channel",
        f"{6 * 3600 * NS} + (id div 3) * {NS} AS t",
        "CAST(id AS DOUBLE) AS v",
        "CAST(0 AS INT) AS severity",
        "CAST(0 AS INT) AS status",
    )
    n, jobs = count_jobs(
        ingest_batch, store, batch, cascade_periods=[30, 900]
    )
    assert n == 180 and jobs <= 11
    rows_after, after = rows(), versions()
    for lvl in levels:
        wrote = rows_after[lvl] > rows_before[lvl]
        assert after[lvl] - before[lvl] == int(wrote), lvl
    assert rows_after[30] > rows_before[30]
    for side_table in ("hwm_level=*", "seed_level=*"):
        assert not glob.glob(f"{store.root}/meta/{side_table}"), side_table
    for lvl in levels:
        assert count_jobs(store.channel_hwm, lvl)[1] == 0


def test_level_without_marks_header_is_refused(spark, tmp_path):
    """A level version whose manifest header is the bare DDL has no
    high-water marks to guard a replay with: every entry point refuses
    it, naming the level, and commits nothing — never an empty map,
    under which the guard would re-append every replayed row."""
    from cassandra_pv_archiver_spark.sources.archive_store import (
        RAW_SCHEMA,
        _date_expr,
    )
    from cassandra_pv_archiver_spark.streaming.ingest import ingest_batch

    # level 0 as written before marks moved into its manifest
    level = ManifestTable(
        spark, str(tmp_path / "archive/samples/decimation_level=0")
    )
    stage = level.stage_dir()
    spark.createDataFrame(
        [("PV:A", k * NS, float(k), 0, 0) for k in range(5)], SCHEMA
    ).withColumn("date", _date_expr("t")).write.partitionBy("date").parquet(
        stage
    )
    level.publish_stage(stage, header_fn=lambda _prev: RAW_SCHEMA)
    version = level.current_version()
    store = _store(spark, tmp_path)
    replay = spark.createDataFrame([("PV:A", 9 * NS, 9.0, 0, 0)], SCHEMA)
    refused = pytest.raises(ValueError, match="level 0 version")
    with refused:
        store.channel_hwm(0)
    with refused:
        store.level_schema(0)
    with refused:
        store.read_samples(0)
    with refused:
        store.write_samples(replay, 0)
    with refused:
        ingest_batch(store, replay)
    assert level.current_version() == version
    assert store.level_versions(0) == [version]


def test_header_cache_holds_one_parsed_header_per_level(spark, tmp_path):
    """Reads and marks of many versions share one parsed header per
    level, and time travel still resolves each retained version's own
    schema (here an ADD COLUMN on level 0 from the third write on)."""
    store = ArchiveStore(spark, str(tmp_path / "archive"), keep_versions=5)
    widths = {0: [], 30: []}
    for i in range(5):
        for level in widths:
            df = spark.createDataFrame(
                [("PV:A", (i + 1) * NS, float(i), 0, 0)], SCHEMA
            )
            if level == 0 and i >= 2:
                df = df.withColumn("v2", F.col("v") * 2)
            store.write_samples(df, level)
            assert store.read_samples(level).count() == i + 1
            assert store.channel_hwm(level) == {"PV:A": (i + 1) * NS}
            widths[level].append(len(df.columns))
    assert sorted(store._header_cache) == [0, 30]
    # and no other store cache grows with the versions read
    caches = [k for k, v in vars(store).items() if isinstance(v, dict)]
    assert caches == ["_header_cache"]
    for level, width in widths.items():
        versions = store.level_versions(level)
        assert versions == list(range(5))
        for v in versions:
            got = store.level_schema(level, at_version=v)
            assert len(got.fields) == width[v], (level, v)
    assert sorted(store._header_cache) == [0, 30]


# -- derived carry rows -------------------------------------------------------
HOUR = 3600 * NS


def _dec_rows(df, after=None):
    """Comparable decimated rows, only those after the channel's mark in
    ``after`` when given."""
    cols = [
        "channel", "t", "n_samples", "vmin", "vmax",
        F.round("mean", 9), F.round("covered_fraction", 9),
    ]
    rows = sorted(map(tuple, df.select(*cols).collect()))
    if after is None:
        return rows
    return [r for r in rows if r[1] > after.get(r[0], r[1] - 1)]


def test_derived_carry_row_of_sparse_channel_many_partitions_back(
    spark, tmp_path, monkeypatch, count_jobs
):
    """A sparse channel's carry row lies 15 date partitions before the
    probe point: probe_stats' doubling walk finds it in at most
    ceil(log2 n) + 1 jobs for the n older partitions, and the run
    equals a from-scratch decimation."""
    import math

    store = _store(spark, tmp_path)
    day = 24 * HOUR
    dense = [k * HOUR for k in range(16 * 24)]  # days 0..15, hourly
    raw = _mini_raw(spark, "PV:A", dense).unionByName(
        _mini_raw(spark, "PV:S", [HOUR // 2, 15 * day + 12 * HOUR + HOUR // 2])
    )
    store.write_samples(raw, level=0)
    assert incremental_decimation(store, 3600) > 0
    marks = store.channel_hwm(3600)
    # the sparse channel lags: the probe point min(hwm) + 1 h is its own
    assert min(marks.values()) == marks["PV:S"] == 15 * day + 11 * HOUR
    more = _mini_raw(spark, "PV:A", [16 * day + k * HOUR for k in range(24)])
    more = more.unionByName(_mini_raw(spark, "PV:S", [16 * day + 6 * HOUR]))
    store.write_samples(more, level=0)

    probes = []
    probe = store.probe_stats

    def spy(*args, **kwargs):
        out, jobs = count_jobs(probe, *args, **kwargs)
        probes.append(jobs)
        return out

    monkeypatch.setattr(store, "probe_stats", spy)
    assert incremental_decimation(store, 3600) > 0
    n_older = 15  # days 0..14 lie before the probe point's day
    assert len(probes) == 1
    assert 1 < probes[0] <= math.ceil(math.log2(n_older)) + 1, probes
    assert _dec_rows(store.read_samples(3600)) == _dec_rows(
        decimate(raw.unionByName(more), 3600)
    )


def test_derived_carry_rows_for_channels_at_different_marks(spark, tmp_path):
    """Channels whose marks lie many periods apart catch up in one run,
    each from its own carry row."""
    store = _store(spark, tmp_path)
    step = 10 * 60 * NS
    first = _mini_raw(spark, "PV:A", range(0, 20 * HOUR, step)).unionByName(
        _mini_raw(spark, "PV:B", range(0, 5 * HOUR, step))
    )
    store.write_samples(first, level=0)
    assert incremental_decimation(store, 3600) > 0
    marks = store.channel_hwm(3600)
    assert marks["PV:A"] - marks["PV:B"] >= 10 * HOUR
    second = _mini_raw(spark, "PV:A", range(20 * HOUR, 30 * HOUR, step))
    second = second.unionByName(
        _mini_raw(spark, "PV:B", range(5 * HOUR, 25 * HOUR, step))
    )
    store.write_samples(second, level=0)
    assert incremental_decimation(store, 3600) > 0
    assert _dec_rows(store.read_samples(3600)) == _dec_rows(
        decimate(first.unionByName(second), 3600)
    )


def test_derived_carry_rows_read_the_probed_source_snapshot(
    spark, tmp_path, monkeypatch
):
    """A source append committed between the probe and the scan is not
    part of the run: the source marks, the probe and the scan read one
    source version, so the level equals a from-scratch decimation of
    that version, and the next run picks the append up."""
    store = _store(spark, tmp_path)
    step = 10 * 60 * NS
    first = _mini_raw(spark, "PV:A", range(0, 10 * HOUR, step))
    store.write_samples(first, level=0)
    assert incremental_decimation(store, 3600) > 0
    second = _mini_raw(spark, "PV:A", range(10 * HOUR, 20 * HOUR, step))
    store.write_samples(second, level=0)
    late = _mini_raw(spark, "PV:A", [30 * HOUR])  # closes windows up to 29 h

    probe = store.probe_stats
    committed = []

    def spy(*args, **kwargs):
        out = probe(*args, **kwargs)
        store.write_samples(late, level=0)
        committed.append(store.level_versions(0)[-1])
        return out

    monkeypatch.setattr(store, "probe_stats", spy)
    assert incremental_decimation(store, 3600) > 0
    monkeypatch.undo()
    assert committed
    pinned = first.unionByName(second)
    assert _dec_rows(store.read_samples(3600)) == _dec_rows(
        decimate(pinned, 3600)
    )
    assert incremental_decimation(store, 3600) > 0
    assert _dec_rows(store.read_samples(3600)) == _dec_rows(
        decimate(pinned.unionByName(late), 3600)
    )


def test_derived_carry_row_removed_by_source_retention(spark, tmp_path):
    """A channel whose carry row already expired from the source: the
    run decimates what the source retains, so every window after the
    target's mark equals a from-scratch decimation of the retained
    source."""
    store = _store(spark, tmp_path)
    day = 24 * HOUR
    raw = _mini_raw(spark, "PV:A", [k * HOUR for k in range(3 * 24)])
    raw = raw.unionByName(
        _mini_raw(spark, "PV:S", [HOUR // 2, 2 * day + 12 * HOUR + HOUR // 2])
    )
    store.write_samples(raw, level=0)
    assert incremental_decimation(store, 3600) > 0
    marks = store.channel_hwm(3600)
    assert marks["PV:S"] == 2 * day + 11 * HOUR
    # the sparse channel's carry row (0.5 h) expires with day 0
    store.delete_older_than(0, day)
    assert store.read_samples(0, hi_ns=day - 1).count() == 0
    more = _mini_raw(spark, "PV:A", [3 * day + k * HOUR for k in range(24)])
    more = more.unionByName(_mini_raw(spark, "PV:S", [3 * day + 6 * HOUR]))
    store.write_samples(more, level=0)
    assert incremental_decimation(store, 3600) > 0

    retained = raw.filter(F.col("t") >= day).unionByName(more)
    got = _dec_rows(store.read_samples(3600), after=marks)
    assert any(r[0] == "PV:S" for r in got)
    assert got == _dec_rows(decimate(retained, 3600), after=marks)


def test_legacy_seed_table_is_ignored_and_removed(spark, tmp_path):
    """A store written while carry rows were persisted still holds a
    ``meta/seed_level=3600`` table: the next run neither reads it (its
    rows here are deliberately wrong) nor keeps it."""
    store = _store(spark, tmp_path)
    step = 10 * 60 * NS
    first = _mini_raw(spark, "PV:A", range(0, 10 * HOUR, step))
    store.write_samples(first, level=0)
    assert incremental_decimation(store, 3600) > 0
    legacy = ManifestTable(spark, f"{store.root}/meta/seed_level=3600")
    stage = legacy.stage_dir()
    spark.createDataFrame(
        [("PV:A", 9 * HOUR, -1e9, 0, 0, 0, 10 * HOUR)],
        SCHEMA + ", _src_level int, _src_hwm long",
    ).coalesce(1).write.parquet(stage)
    legacy.publish_stage(stage)
    second = _mini_raw(spark, "PV:A", range(10 * HOUR, 20 * HOUR, step))
    store.write_samples(second, level=0)
    assert incremental_decimation(store, 3600) > 0
    assert not os.path.exists(f"{tmp_path}/archive/meta/seed_level=3600")
    assert _dec_rows(store.read_samples(3600)) == _dec_rows(
        decimate(first.unionByName(second), 3600)
    )


def _one_day_raw(spark, n_ch: int = 16, n_t: int = 100):
    """``n_ch`` channels x ``n_t`` samples inside one day, generated
    t-major (the worst input order for channel clustering)."""
    return spark.range(n_ch * n_t).selectExpr(
        f"concat('PV:', lpad(CAST(id % {n_ch} AS STRING), 2, '0')) AS channel",
        f"(id div {n_ch}) * {60 * NS} AS t",
        "CAST(id % 7 AS DOUBLE) AS v",
        "CAST(0 AS INT) AS severity",
        "CAST(0 AS INT) AS status",
    )


def _channel_ranges(store, level: int) -> dict[str, list[tuple[str, str]]]:
    """date -> ``[min, max]`` channel of each of the level's files, from
    the row-group statistics in the parquet footers."""
    import pyarrow.parquet as pq

    out: dict[str, list[tuple[str, str]]] = {}
    for path in store._level_files(level):
        md = pq.ParquetFile(path.replace("file:", "")).metadata
        col = md.schema.names.index("channel")
        stats = [md.row_group(g).column(col).statistics
                 for g in range(md.num_row_groups)]
        date = path.split("date=")[1].split("/")[0]
        out.setdefault(date, []).append(
            (min(s.min for s in stats), max(s.max for s in stats))
        )
    return out


def _assert_disjoint(ranges: dict[str, list[tuple[str, str]]]) -> None:
    for date, rs in ranges.items():
        rs = sorted(rs)
        for (_, hi), (lo, _) in zip(rs, rs[1:]):
            assert hi < lo, (date, rs)


def test_small_write_adds_one_file_per_date(spark, tmp_path, count_jobs):
    """A multi-channel write below ROWS_PER_WRITE_TASK is one write task:
    one file per date, and no range-sampling job on top of the marks
    job and the write job."""
    store = _store(spark, tmp_path)
    df = _one_day_raw(spark).unionByName(
        _one_day_raw(spark).withColumn("t", F.col("t") + DAY_NS)
    )
    n, jobs = count_jobs(store.write_samples, df, 0)
    assert n == 2 * 16 * 100
    assert jobs == 2
    ranges = _channel_ranges(store, 0)
    assert sorted(len(rs) for rs in ranges.values()) == [1, 1]
    assert all(rs == [("PV:00", "PV:15")] for rs in ranges.values())


def test_large_write_range_clusters_its_files(spark, tmp_path, monkeypatch):
    """Above ROWS_PER_WRITE_TASK a one-date write splits into k =
    min(shuffle partitions, ceil(rows / bound)) tasks, one file each,
    and their channel ranges are pairwise disjoint."""
    from cassandra_pv_archiver_spark.sources import archive_store

    monkeypatch.setattr(
        archive_store, "ROWS_PER_WRITE_TASK", 500, raising=False
    )
    store = _store(spark, tmp_path)
    store.write_samples(_one_day_raw(spark), 0)  # 1,600 rows
    k = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 4)
    ranges = _channel_ranges(store, 0)
    assert [len(rs) for rs in ranges.values()] == [k]
    _assert_disjoint(ranges)
    assert store.read_samples(0).count() == 1600


def test_channel_ranges_stay_disjoint_after_rewrites(
    spark, tmp_path, monkeypatch
):
    """A delete rewrites the files carrying the channel through the same
    clustering, and compact with a target above one range-clusters each
    date: every date's files keep disjoint channel ranges. A rename
    rewrites only the file carrying the old name, so the other files
    keep their ranges; the rewritten file's range takes in the new name
    wherever it sorts (module docstring, "Design")."""
    from cassandra_pv_archiver_spark.sources import archive_store

    monkeypatch.setattr(
        archive_store, "ROWS_PER_WRITE_TASK", 500, raising=False
    )
    store = _store(spark, tmp_path)
    store.write_samples(_one_day_raw(spark), 0)
    before = _channel_ranges(store, 0)

    assert store.delete_channel("PV:05") == 100
    after = _channel_ranges(store, 0)
    _assert_disjoint(after)
    assert len(after["1970-01-01"]) == len(before["1970-01-01"])

    (hit,) = [r for r in after["1970-01-01"] if r[0] <= "PV:07" <= r[1]]
    assert store.rename_channel("PV:07", "PV:99") == 100
    renamed = set(_channel_ranges(store, 0)["1970-01-01"])
    rest = set(after["1970-01-01"]) - {hit}
    assert rest <= renamed and len(renamed) == len(after["1970-01-01"])
    ((_, hi),) = renamed - rest
    assert hi == "PV:99"

    # a second append, shifted by a second: k more files in the date
    store.write_samples(
        _one_day_raw(spark).withColumn("t", F.col("t") + NS), 0
    )
    assert len(_channel_ranges(store, 0)["1970-01-01"]) > 2
    store.compact(0, target_files_per_partition=2)
    ranges = _channel_ranges(store, 0)
    assert len(ranges["1970-01-01"]) == 2  # one date x target
    _assert_disjoint(ranges)
    assert store.read_samples(0).count() == 1600 - 100 + 1600
