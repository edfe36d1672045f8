"""Partitioned-parquet archive store — the lakehouse replacement for the
reference's Cassandra sample buckets (SURVEY.md §1.5).

Layout::

    {root}/samples/decimation_level=<sec>/date=<yyyy-MM-dd>/part-*.parquet

Design for 100 TB / 100k channels:

  * **Partition columns** are ``(decimation_level, date)`` only. Channel is
    deliberately NOT a partition column — 100k channels x 3650 days would
    mean 10^8 directories, killing listing and small-file behavior. Instead
    every file is **sorted by (channel, t)** (``sortWithinPartitions``
    before write), so parquet row-group min/max statistics prune channels
    inside each date partition — this plays exactly the role of the
    reference's bucket index (`channels` table + ``bucket_end_time``,
    `ChannelMetaDataDAOImpl.java:2092-2103`): partition pruning selects the
    date range, row-group stats select the channel slice.
  * **Write clustering**: the reference keeps each (channel, level)
    series together in buckets that grow up to
    ``MAX_BUCKET_SIZE_BYTES = 96_000_000``
    (`ArchivedChannelDecimationLevel.java:97`). Here every write is
    range-partitioned on ``(date, channel)`` into ``k = min(shuffle
    partitions, ceil(rows / ROWS_PER_WRITE_TASK))`` tasks
    (:meth:`ArchiveStore._publish`). A write below the bound is ONE task:
    one file per date, and no sampling job (Spark's range partitioner
    samples only for ``k > 1``). A larger write keeps its parallelism,
    and in each date its files cover disjoint, contiguous channel
    ranges, so file-level channel statistics prune whole files. A hash
    split on ``(date, channel)`` left ``k`` files per date, each with
    channels from the whole name range. Contiguity also puts a channel's
    name neighbours next to it for zstd — Gorilla's locality
    (``operators/storage.py``), which pays when neighbouring names carry
    correlated series (PVs of one device often do, not always).
    Measured on the perfbench ``live_ingest`` store (seed 301, set-up
    plus one batch, 4 CPUs), data bytes per level, hash split (4 files
    per date) -> range, one file per date: 0 (raw) 195,293 -> 102,072;
    30 s 1,527,969 -> 1,214,839; 15 min 141,595 -> 92,983; 6 h 20,490
    -> 8,152; in all 1.885 -> 1.418 MB (0.75x). Range clustering into
    the same 4 files per date gives 1.508 MB, so about 4/5 of the saving
    is contiguity and 1/5 fewer files. One file per date with the
    channels in hash order instead of name order gives 2.224 MB, more
    than the hash split: in those histories channel i+1's values are
    channel i's shifted by 100 steps, so only near names share a series.
    Two rewrites keep their own layout: a rename rewrites only the files
    carrying the old name, so such a file's range takes in the new name
    wherever it sorts (per-file channel ranges are not in the manifest,
    so finding the file that covers the new name would mean reading
    footers) until :meth:`compact` rewrites the date; retention's
    boundary trim keeps its input's splits.
  * **File sizing**: ``maxRecordsPerFile`` bounds file size the way
    ``MAX_BUCKET_SIZE_BYTES`` bounds a bucket; :meth:`compact` is the
    OPTIMIZE-style rewrite for partitions fragmented by incremental appends.
  * **Retention** (S6, `ArchivedChannelDecimationLevel.java:1097-1320`)
    drops whole date partitions below the cutoff — a metadata operation,
    like the reference's bucket drops — and rewrites only the single
    boundary partition for exact trim.
  * **High-water mark** (W3, `...DecimatedSamplesDecimationLevel.java:
    890-927`): each level's per-channel max t rides that level's manifest
    header, ``{"schema": <DDL>, "hwm": {channel: max_t}}``, next to the
    files it describes (the reference keeps a bucket's latest timestamp
    in its bucket state the same way). The commit that publishes a
    batch's rows folds the batch's maxima into the map, so one manifest
    version holds both and no crash can split them: the monotonic guard
    alone makes a replayed write a no-op. :meth:`ArchiveStore.channel_hwm`
    parses the header on the driver, never a Spark job. The map is
    O(#channels) per manifest, the same order as the manifest's O(#files)
    list. This JSON record is the ONE header format a level version
    has: a level whose manifest carries no such header (the bare schema
    DDL, or no header at all, from before marks moved into the manifest)
    is refused with a ``ValueError`` naming the level, never read with
    an empty or guessed map — the monotonic guard would then re-append
    every replayed row.
  * **File format**: every data file the store writes goes through
    :meth:`ArchiveStore._publish`, which fixes Parquet v2 data pages,
    zstd, and no dictionary on ``t``. v2 pages fall back
    to ``DELTA_BINARY_PACKED`` for int64 columns, so the (channel, t)
    sort order makes a regularly spaced ``t`` cost about one bit per row
    (the Gorilla delta-of-delta observation, ``operators/storage.py``)
    where v1 stores it PLAIN. Measured on 50 channels x 1 day at 10 s
    (the perfbench ``raw_export`` store): 9.75 -> 1.48 stored bytes per
    raw sample, ``t`` alone 7.01 -> 0.01 bytes.
    Every top-level ``double``/``float`` column of the frame being
    written (evolved ADD COLUMN ones included) is also written without a
    dictionary, so PLAIN + zstd: the (channel, t) order puts a channel's
    repeated values next to each other (Gorilla's other observation),
    which zstd shrinks, while dictionary indices of those values look
    random to it. String and integer columns keep the dictionary.
    Measured on the range-clustered perfbench ``live_ingest`` store
    (seed 301, set-up plus one batch, 4 CPUs), data bytes per level with
    dictionary -> without: 0 (raw) 151,417 -> 102,072; 30 s 1,801,872
    -> 1,214,839; 15 min 113,638 -> 92,983; 6 h 8,240 -> 8,152. Two
    columns are smaller with a dictionary on some levels: at 30 s
    ``std`` takes 182 KB with one and 225 KB without, and
    ``covered_fraction`` 1.8 KB and 3.3 KB; at 15 min both are larger
    with one (``std`` 20.8 against 17.4 KB). A dictionary on both would
    save 40 KB of 1.418 MB (2.8 %) on that store and nothing on the
    ``raw_export`` store (no such column), so the rule stays one rule
    for every floating-point column. The format is the store's, not the
    session's: it is set per write, so other Parquet writers in the
    process keep Spark's defaults, and files written before it
    (v1/snappy, or dictionary-encoded doubles) read unchanged until
    :meth:`compact` rewrites them.

All timestamps int64 ns; ``date`` is derived with integer division so it is
consistent for any ns value (no TimestampType round-trip).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StructType

from .. import cache_scope
from ..plans.planner import probe_triples
from .fs import HadoopFS
from .manifest import ManifestTable

NS = 1_000_000_000
DAY_NS = 86_400 * NS

SAMPLE_COLUMNS = ["channel", "t", "v", "severity", "status"]

RAW_SCHEMA = "channel string, t long, v double, severity int, status int"
DEC_SCHEMA = (
    "channel string, t long, mean double, std double, vmin double,"
    " vmax double, covered_fraction double, severity int, status int,"
    " n_samples long, quality string"
)
HWM_SCHEMA = "channel string, hwm long"

#: per-write Parquet options of every store file (module docstring,
#: "File format"); per-write so the session's other writers are untouched.
#: ``_publish`` adds ``parquet.enable.dictionary#<col>=false`` for each
#: floating-point column of the frame it writes
_PARQUET_OPTIONS = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#t": "false",
}

#: rows one write task takes before :meth:`ArchiveStore._publish` splits
#: a write into more range-clustered tasks (module docstring, "Design").
#: Swept with ``write_samples`` on ``local[4]`` (4 shuffle partitions),
#: 200 channels at 10 s, warm, three runs each, one task against four:
#: 0.25 M rows 1.1-2.4 s vs 1.3-2.5 s; 0.5 M 1.4-1.7 vs 1.7-1.8;
#: 1 M 2.4-2.5 vs 2.3-2.7; 2 M 4.7-5.7 vs 3.5-4.1; 4 M 8.9-9.9 vs
#: 5.5-6.8. One task costs nothing up to about 1 M rows, and spares the
#: range partitioner's sampling job; from 2 M on the split pays. 500 k
#: keeps the perfbench writes (the 432 k-row raw_export history, the
#: 144 k-row live history, 12 k-row batches) at one task each.
ROWS_PER_WRITE_TASK = 500_000


def _date_expr(t_col: str = "t"):
    """ns epoch -> yyyy-MM-dd partition string (UTC, true FLOOR division:
    Spark's `div` truncates toward zero, so pre-1970 negative ns would
    otherwise land one day LATER than the Python `//` the read-side
    pruning uses (`_py_date`) — written to a partition bounded reads
    never look in)."""
    day = (
        f"(({t_col} div {DAY_NS})"
        f" + (CASE WHEN {t_col} % {DAY_NS} < 0 THEN -1 ELSE 0 END))"
    )
    return F.date_format(
        F.expr(f"date_add(DATE '1970-01-01', CAST({day} AS INT))"),
        "yyyy-MM-dd",
    )


class ArchiveStore:
    """Batch read/write surface over the partitioned samples table."""

    def __init__(self, spark: SparkSession, root: str,
                 max_records_per_file: int = 4_000_000,
                 keep_versions: int = 2):
        self.spark = spark
        self.root = root.rstrip("/")
        self.max_records_per_file = max_records_per_file
        #: manifest versions (snapshots) retained through gc and appends —
        #: the time-travel horizon. 2 = just enough for in-flight readers
        #: of the previous version; raise it to keep older snapshots
        #: readable via read_samples(at_version=...) (VACUUM-retention
        #: analog: storage cost = the replaced files those manifests pin)
        if keep_versions < 1:
            raise ValueError(
                f"keep_versions must be >= 1, got {keep_versions} "
                "(0 would let gc collect every manifest and data file)"
            )
        self.keep_versions = keep_versions
        #: all metadata path ops go through Hadoop FileSystem so the store
        #: works on file:/hdfs:/s3a: alike — no local-FS-only primitives
        self.fs = HadoopFS(spark, self.root)
        #: level -> (version, schema, hwm map) of the last header parsed:
        #: one entry per level serves both :meth:`level_schema` and
        #: :meth:`channel_hwm`, never one per version
        self._header_cache: dict = {}

    def _level_header(self, level: int, version: int):
        """``(schema, hwm map)`` of one level version's manifest header,
        parsed once while it is the level's last one read (manifests are
        immutable). A version without the JSON ``{"schema", "hwm"}``
        header is refused (module docstring, "High-water mark")."""
        got = self._header_cache.get(level)
        if got is None or got[0] != version:
            hdr = self._level_table(level).header(version)
            try:
                ddl, hwm = _parse_header(hdr)
            except ValueError as e:
                raise ValueError(
                    f"level {level} version {version}: {e}; the store "
                    "reads only levels whose manifest header carries their "
                    "high-water marks"
                ) from None
            schema = None if ddl is None else StructType.fromDDL(ddl)
            got = self._header_cache[level] = (version, schema, hwm)
        return got[1], got[2]

    # -- schema evolution (ADD COLUMN) ------------------------------------
    def level_schema(self, level: int, at_version: int | None = None):
        """Current read schema of one level: the base columns plus any
        evolved (ADD COLUMN) metadata fields — or None when the level has
        never been written.

        The schema record is the level manifest's HEADER (one small text
        read, no data-file access): write_samples commits the UNION of
        the previous header and the batch schema inside the manifest's
        atomic rebase loop, so concurrent appends cannot lose an evolved
        column (a check-then-act footer scheme could: a narrower batch
        committing last would shadow the wider one), and every other
        commit — compact, retention (even one that EMPTIES the file
        list), rename — carries the header forward by default. Iceberg
        records schemas in table metadata the same way.

        The header is the level's one schema record: a level version
        without it is refused (:meth:`_level_header`), never inferred
        from file footers. The parsed header is cached per level, so a
        read of the version last parsed costs one listdir
        (current_version), not a re-read of the ~10^5-line manifest.

        Old files simply lack the new columns and read as NULL (the
        reference's pendant: a new per-sample metadata field arriving in
        mid-history — Cassandra's sparse rows return null for cells
        written before the column existed)."""
        if at_version is None:
            at_version = self._level_table(level).current_version()
        if at_version is None:
            return None
        return self._level_header(level, at_version)[0]

    def _read_level_files(
        self, level: int, paths: list[str], at_version: int | None = None
    ) -> DataFrame:
        """Read a subset of one level's data files under the level's
        CURRENT (widest) schema — never schema-by-first-footer, which
        on a mixed-schema subset would silently drop an evolved column
        (or strip it during a compaction/retention rewrite)."""
        reader = self.spark.read.option("basePath", self._level_path(level))
        schema = self.level_schema(level, at_version)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    # -- paths -----------------------------------------------------------
    @property
    def samples_path(self) -> str:
        return f"{self.root}/samples"

    def _level_path(self, level: int) -> str:
        return f"{self.samples_path}/decimation_level={level}"

    def _level_table(self, level: int) -> ManifestTable:
        """Each decimation level is a ManifestTable: immutable data files
        + one rename-committed manifest per version — the crash-safe
        commit protocol (see sources/manifest.py; the reference's
        pending-operations table, `ChannelMetaDataDAOImpl.java:
        2124-2144`). Readers resolve the manifest, so append, compact and
        retention swaps are atomic to them."""
        return ManifestTable(self.spark, self._level_path(level))

    def _write_tasks(self, rows: int) -> int:
        """Tasks of a ``rows``-row write: one per ``ROWS_PER_WRITE_TASK``
        rows, at most ``spark.sql.shuffle.partitions``, at least one."""
        cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return max(1, min(cap, -(-rows // ROWS_PER_WRITE_TASK)))

    def _publish(
        self, table: ManifestTable, df: DataFrame, remove=(), header_fn=None,
        tasks: int | None = None,
    ) -> list[str]:
        """Write ``df`` (which carries a ``date`` column) partitioned by
        ``date`` into a fresh stage dir of ``table`` in the store's file
        format (module docstring, "File format"), then publish it in ONE
        commit dropping ``remove`` — the one writer of every store file.
        A crashed writer leaves only unreferenced files for gc, never a
        half-visible batch. ``maxRecordsPerFile`` bounds files the way
        ``MAX_BUCKET_SIZE_BYTES`` bounds a bucket, on every path:
        repeated rewrites of a hot partition must not accrete files past
        it. Returns the committed relative paths.

        ``tasks`` range-clusters ``df`` first (module docstring,
        "Design"): ``tasks`` contiguous ``(date, channel)`` ranges, one
        per write task, each sorted by ``(date, channel, t)``, so a
        task's files in one date cover a channel range no other file of
        the write overlaps. Spark's range partitioner samples its bounds
        in a job of its own only when ``tasks > 1``. Without ``tasks``
        the caller has laid ``df`` out itself."""
        if tasks is not None:
            # "date" MUST lead the sort: the V1 parquet writer requires
            # its partition columns as a sort prefix, and when the
            # existing order does not satisfy that, it inserts its own
            # (date)-only sort — and Catalyst's EliminateSorts then drops
            # THIS sort as redundant, silently writing files in input
            # order (no channel/t clustering at all; caught by
            # test_files_are_channel_time_sorted). With the prefix, the
            # writer's requirement is already satisfied and the order
            # survives to the files.
            df = df.repartitionByRange(
                tasks, "date", "channel"
            ).sortWithinPartitions("date", "channel", "t")
        w = (
            df.write.options(**_PARQUET_OPTIONS)
            .option("maxRecordsPerFile", self.max_records_per_file)
        )
        # read per write, so an ADD COLUMN double follows the rule too
        for f in df.schema.fields:
            if isinstance(f.dataType, (DoubleType, FloatType)):
                w = w.option(f"parquet.enable.dictionary#{f.name}", "false")
        stage = table.stage_dir()
        w.partitionBy("date").parquet(stage)
        return table.publish_stage(stage, remove=remove, header_fn=header_fn)

    # -- write (S5) ------------------------------------------------------
    def write_samples(self, df: DataFrame, level: int) -> int:
        """Append a sample batch to one decimation level in ONE manifest
        version and return the rows written. Concurrent appends commute;
        a batch that would change nothing (no rows and no new column on
        an existing level) commits nothing.

        The batch is range-clustered by ``(date, channel)``
        (:meth:`_publish`): one write task per ``ROWS_PER_WRITE_TASK``
        rows, counted by the marks job below, so a batch under that
        bound adds one file per date and runs no sampling job, and a
        larger one writes files whose channel ranges are disjoint in
        each date. Each task owns whole channel-days, sorted by
        ``(channel, t)`` for row-group pruning.
        The same commit folds the batch's per-channel maxima into the
        level's high-water marks in the manifest header — the Spark analog
        of the reference's ``decimation_level_to_current_bucket_start_time``
        map (`ChannelMetaDataDAOImpl.java:2111-2123`) — so rows and marks
        land together or not at all. The level then keeps only its newest
        ``keep_versions`` manifests.
        """
        cur = self.level_schema(level)
        if cur is not None:
            # append-only evolution guard: no batch may REGRESS the
            # level's header schema; a shared column changing type would
            # corrupt the parquet scan the same way
            missing = [
                f.name for f in cur.fields if f.name not in df.columns
            ]
            if missing:
                raise ValueError(
                    "schema evolution is ADD COLUMN only: batch is "
                    f"missing existing column(s) {missing} of level "
                    f"{level} (write them as NULL literals to keep the "
                    "newest-file-carries-the-widest-schema invariant)"
                )
            have = dict(df.dtypes)
            for f in cur.fields:
                if have.get(f.name) != f.dataType.simpleString():
                    raise ValueError(
                        f"column {f.name!r} type changed: level {level} "
                        f"stores {f.dataType.simpleString()}, batch has "
                        f"{have.get(f.name)} (type changes are not "
                        "supported; add a NEW column instead)"
                    )
        with cache_scope.scope():
            df = cache_scope.persist(df)
            n, maxima = 0, {}
            for r in (
                df.groupBy("channel")
                .agg(F.max("t").alias("t"), F.count(F.lit(1)).alias("n"))
                .collect()
            ):
                n += r.n
                if r.channel is not None and r.t is not None:
                    maxima[r.channel] = r.t
            if not n and cur is not None and len(df.columns) == len(cur):
                return 0  # every column exists (guard above): a no-op
            # the level's schema and marks ride the manifest header: both
            # fold INSIDE the commit's rebase loop, so a concurrent append
            # can never be shadowed by this one (check-then-act on the
            # newest footer could lose a column, a precomputed map a mark)
            batch_fields = [
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ]
            table = self._level_table(level)
            self._publish(
                table, df.withColumn("date", _date_expr("t")),
                header_fn=_union_header_fn(batch_fields, maxima),
                tasks=self._write_tasks(n),
            )
            # an append replaces no file, so only its manifest history
            # grows: each version carries the O(#channels) marks map
            table._prune_manifests(self.keep_versions)
            return n

    def channel_hwm(
        self, level: int, at_version: int | None = None
    ) -> dict[str, int] | None:
        """Per-channel high-water marks ``{channel: max t}`` of one level
        at its current version (or ``at_version``), or None if the level
        has never been written. A driver-side parse of that version's
        manifest header (cached per level): no Spark job, and exactly
        the per-channel max t ever committed to the level at that
        version, minus channels removed by delete or rename (retention
        and compaction keep a channel's mark).

        The header is the level's one marks record: a level version
        without it raises ``ValueError`` naming the level
        (:meth:`_level_header`) — an empty map there would let the
        monotonic guard re-append every replayed row."""
        if at_version is None:
            at_version = self._level_table(level).current_version()
        if at_version is None:
            return None
        return dict(self._level_header(level, at_version)[1])

    # -- decimation carry rows (T3) --------------------------------------
    def read_seed_state(
        self, target_level: int, source_level: int, hwm: dict | None
    ) -> DataFrame:
        """The source rows one incremental run of the ``source_level ->
        target_level`` edge needs, derived from the source level alone —
        the reference keeps no decimator carry state either, it re-reads
        the source from the target's last window on every (re)start
        (T3, `ArchivedChannelDecimatedSamplesDecimationLevel.java:
        343-490`). ``hwm`` is the target's marks map (None: never
        written).

        A channel's carry row is its latest source row at or before its
        ``hwm + period``, so it is no older than its latest row at or
        before ``min(hwm) + period`` (the minimum over the channels in
        both marks maps). One :meth:`probe_stats` call there — the
        doubling walk finds a sparse channel's row in O(log #partitions)
        jobs — gives ``lo``, the earliest such row, and one exact range
        scan reads the source from ``lo``. Source channels without a mark
        (no completed window yet) add their rows below ``lo``,
        channel-pruned and disjoint by ``t``. With no channel in both
        maps the result is the full source scan. The source marks, the
        probe and every scan read ONE source manifest version."""
        version = self._level_table(source_level).current_version()
        if version is None:
            return self._empty(source_level, None)
        src = self.channel_hwm(source_level, version)
        known = sorted(set(hwm or ()) & set(src))
        if not known:
            return self.read_samples(source_level, at_version=version)
        at = min(hwm[c] for c in known) + target_level * NS
        probed = self.probe_stats(
            source_level, at, at, known, at_version=version
        )
        lo = min(
            (bt for bt, _, _ in probed.values() if bt is not None),
            default=at,
        )
        scan = self.read_samples(source_level, lo_ns=lo, at_version=version)
        newcomers = sorted(set(src) - set(hwm))
        if newcomers:
            scan = scan.unionByName(self.read_samples(
                source_level, hi_ns=lo - 1, channels=newcomers,
                at_version=version,
            ))
        return scan

    def write_seed_state(self, target_level: int) -> None:
        """Remove the ``meta/seed_level=<target_level>`` table that stores
        written before carry rows were derived (:meth:`read_seed_state`)
        kept for the edge into ``target_level``. Nothing reads or writes
        it any more; each edge run sheds it (one delete, a no-op once
        gone)."""
        self.fs.delete(f"{self.root}/meta/seed_level={target_level}")

    # -- read (S1/S2) ----------------------------------------------------
    def read_samples(
        self,
        level: int,
        lo_ns: int | None = None,
        hi_ns: int | None = None,
        channels=None,
        at_version: int | None = None,
    ) -> DataFrame:
        """Pruned scan of one level: date-partition pruning from the time
        range + parquet predicate pushdown on (channel, t).

        F4: a level that was never configured/written yields an EMPTY
        result, not an error (`ArchiveAccessServiceImpl.java:794-805`).

        The file list comes from the level's manifest (atomic snapshot —
        a concurrent append/compact/retention commit flips the pointer,
        it never half-swaps a directory under this scan) and is pruned
        DRIVER-SIDE on the date embedded in each path before Spark
        touches a single parquet footer — Iceberg-style manifest
        pruning; the t/channel predicates still push down to row
        groups.

        ``at_version`` time-travels the scan to an older retained
        snapshot (Iceberg/Delta ``VERSION AS OF``): the manifest history
        IS a version log, and because data files are immutable, reading
        version N's file list reproduces version N's table bit-exactly.
        Snapshots older than ``keep_versions`` commits are pruned by
        gc and by every append; asking for one raises with the retained
        range (the VACUUM-horizon error lakehouses give)."""
        self._check_retained(level, at_version)
        files = self._level_files(
            level,
            None if lo_ns is None else _py_date(lo_ns),
            None if hi_ns is None else _py_date(hi_ns),
            at_version=at_version,
        )
        if not files:
            return self._empty(level, at_version)
        df = self._read_level_files(level, files, at_version=at_version)
        if lo_ns is not None:
            df = df.filter(F.col("t") >= lo_ns)
        if hi_ns is not None:
            df = df.filter(F.col("t") <= hi_ns)
        if channels is not None:
            df = df.filter(F.col("channel").isin(list(channels)))
        return df.drop("date")

    def _check_retained(self, level: int, at_version: int | None) -> None:
        if at_version is not None:
            retained = self._level_table(level).versions()
            if at_version not in retained:
                raise ValueError(
                    f"version {at_version} of level {level} is not "
                    f"retained (available: {retained}); raise "
                    f"keep_versions to widen the time-travel horizon"
                )

    def _empty(self, level: int, at_version: int | None) -> DataFrame:
        """Schema-stable empty result: after evolution an empty time
        window must still carry the evolved columns, or unionByName /
        .select("src_tag") against a non-empty read breaks only on empty
        windows."""
        schema = self.level_schema(level, at_version)
        if schema is None:
            schema = RAW_SCHEMA if level == 0 else DEC_SCHEMA
        return self.spark.createDataFrame([], schema)

    def _level_files(
        self,
        level: int,
        date_lo: str | None = None,
        date_hi: str | None = None,
        at_version: int | None = None,
    ) -> list[str]:
        """Absolute data-file paths of one level's current (or
        time-travelled) manifest, pruned to a [date_lo, date_hi] partition
        range via the path's ``date=`` segment — zero storage RPCs beyond
        one manifest read."""
        table = self._level_table(level)
        rel = table.files(at_version)
        if rel is None:
            return []
        out = []
        for r in rel:
            d = _file_date(r)
            if date_lo is not None and d is not None and d < date_lo:
                continue
            if date_hi is not None and d is not None and d > date_hi:
                continue
            out.append(f"{table.root}/{r}")
        return out

    def level_versions(self, level: int) -> list[int]:
        """Retained snapshot versions of one level, oldest first — the
        time-travel surface (`DESCRIBE HISTORY` analog). Each entry is
        readable via ``read_samples(level, at_version=v)``."""
        return self._level_table(level).versions()

    def read_changes(
        self, level: int, from_version: int, to_version: int
    ) -> DataFrame:
        """Changed-data feed between two retained snapshots (the Delta
        CDF / Iceberg incremental-read analog): the rows APPENDED in
        ``(from_version, to_version]``, computed from the MANIFEST DIFF
        alone — data files are immutable, so the rows added between two
        append commits are exactly the contents of the files added, and
        the scan reads ONLY those files (an incremental consumer's cost
        is proportional to the delta, never the table — the property
        that makes downstream cascade/replication jobs O(new data) at
        100 TB; the store's own incremental decimation gets the same
        economics through the hwm instead).

        Raises if a file present in ``from_version`` is gone in
        ``to_version`` (a compaction/retention rewrite in the window):
        across rewrites "what changed" is no longer expressible as a
        file set and callers must diff snapshots semantically
        (read_samples(at_version) + anti-join) instead."""
        table = self._level_table(level)
        retained = table.versions()
        for v in (from_version, to_version):
            if v not in retained:
                raise ValueError(
                    f"version {v} of level {level} is not retained "
                    f"(available: {retained})"
                )
        before = set(table.files(from_version) or [])
        after = table.files(to_version) or []
        removed = before - set(after)
        if removed:
            raise ValueError(
                f"level {level} versions {from_version}->{to_version} "
                f"rewrote {len(removed)} file(s) (compaction/retention); "
                "append-only CDC does not apply — diff the snapshots via "
                "read_samples(at_version=...) instead"
            )
        added = [f"{self._level_path(level)}/{r}" for r in after if r not in before]
        if not added:
            return self._empty(level, to_version)
        # widest schema AS OF to_version, never schema-by-first-footer:
        # a CDC window spanning an ADD COLUMN commit mixes file schemas,
        # and an inferred read could silently drop the evolved column
        df = self._read_level_files(level, added, at_version=to_version)
        return df.drop("date")

    def stats(self) -> list[dict]:
        """Per-level table statistics from MANIFESTS ALONE — zero data
        reads, zero directory walks (the DESCRIBE DETAIL analog; the
        reference answers the same questions from its bucket bookkeeping
        tables, `ChannelMetaDataDAOImpl.java:2092-2123`). Returns one dict
        per level: level, version, n_files, n_partitions, date_min,
        date_max."""
        out = []
        for level in self.levels():
            table = self._level_table(level)
            rel = table.files() or []
            dates = sorted(
                {d for d in (_file_date(r) for r in rel) if d is not None}
            )
            out.append(
                {
                    "level": level,
                    "version": table.current_version(),
                    "n_files": len(rel),
                    "n_partitions": len(dates),
                    "date_min": dates[0] if dates else None,
                    "date_max": dates[-1] if dates else None,
                }
            )
        return out

    def levels(self) -> list[int]:
        out = []
        for name in self.fs.listdir(self.samples_path):
            if name.startswith("decimation_level="):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    # -- planner probes --------------------------------------------------
    def probe_stats(
        self,
        level: int,
        start_ns: int,
        end_ns: int,
        channels: list[str],
        at_version: int | None = None,
    ) -> dict[str, tuple[int | None, int | None, int | None]]:
        """Per-channel planner probes ``(bt, rmin, ft)`` = latest t <=
        start / min t in [start, end] / min t >= end, for
        ``plans.planner.plan_samples(stats=...)``, with None for a probe
        that finds nothing. Every scan runs the planner's own aggregate
        (``probe_triples``) over a slice of ONE manifest read:

          * one job over the query's date partitions [start, end]. It
            answers ``rmin``, and ``bt``/``ft`` for every channel with a
            sample in the start/end partition itself: older partitions
            hold only smaller t, newer ones only larger;
          * for channels still unresolved, one walk outward — backward
            over the dates before ``start`` for ``bt`` (the reference's
            reverse bucket walk, `ArchiveAccessServiceImpl.java:239-316`),
            forward over the dates after ``end`` for ``ft`` — in windows
            of 1, 2, 4, ... partitions per arm, both arms in one job per
            step, until every channel resolves. The first window holding
            a channel's probe row is the nearest one, so a sparse channel
            costs O(log #partitions) jobs and the common case none.

        ``at_version`` probes an older retained snapshot, as in
        :meth:`read_samples`; a caller that reads the planned rows at the
        same version gets one snapshot's answer.
        """
        self._check_retained(level, at_version)
        out = {c: [None, None, None] for c in channels}
        table = self._level_table(level)
        by_date: dict[str, list[str]] = {}
        for r in table.files(at_version) or []:
            by_date.setdefault(_file_date(r), []).append(f"{table.root}/{r}")
        dates = sorted(d for d in by_date if d is not None)
        d_start, d_end = _py_date(start_ns), _py_date(end_ns)

        def scan(window: list[str], pending: set[str]) -> None:
            df = self._read_level_files(
                level, [f for d in window for f in by_date[d]], at_version
            ).filter(F.col("channel").isin(sorted(pending)))
            for r in probe_triples(df, start_ns, end_ns).collect():
                # a set slot is final: later windows lie farther out
                slots = out[r.channel]
                for i, x in enumerate((r.bt, r.rmin, r.ft)):
                    if slots[i] is None:
                        slots[i] = x

        in_range = [d for d in dates if d_start <= d <= d_end]
        if in_range:
            scan(in_range, set(out))
        older = [d for d in reversed(dates) if d < d_start]
        newer = [d for d in dates if d > d_end]
        lo, width = 0, 1
        while True:
            window, pending = [], set()
            for side, slot in ((older, 0), (newer, 2)):
                todo = {c for c, v in out.items() if v[slot] is None}
                if todo and lo < len(side):
                    window += side[lo:lo + width]
                    pending |= todo
            if not pending:
                break
            scan(window, pending)
            lo, width = lo + width, 2 * width
        return {c: tuple(v) for c, v in out.items()}

    # -- retention (S6) --------------------------------------------------
    def delete_older_than(self, level: int, cutoff_ns: int) -> int:
        """Drop data with ``t < cutoff``: whole partitions below the cutoff
        date are removed (metadata-only, like the reference's bucket drops);
        the boundary partition is rewritten with the exact predicate.
        The level's marks carry forward unchanged: a channel's mark
        outlives its expired rows, so a late replay of them stays
        rejected. Returns the number of partitions dropped."""
        table = self._level_table(level)
        cutoff_date = _py_date(cutoff_ns)
        rel = table.files() or []
        expired = [
            r for r in rel
            if (_file_date(r) or "") < cutoff_date and _file_date(r) is not None
        ]
        dropped = len({_file_date(r) for r in expired})
        boundary = [r for r in rel if _file_date(r) == cutoff_date]
        if boundary:
            # exact trim of the boundary partition: rewrite survivors to a
            # stage dir, ONE commit swaps them in and drops both the
            # boundary's old files and the expired partitions — readers
            # see the pre- or post-retention table, never a partial sweep
            kept = self._read_level_files(
                level, [f"{table.root}/{r}" for r in boundary]
            ).filter(F.col("t") >= cutoff_ns)
            self._publish(
                table,
                kept.withColumn("date", F.lit(cutoff_date))
                .sortWithinPartitions("date", "channel", "t"),
                remove=expired + boundary,
            )
        elif expired:
            table.commit(remove=expired)  # metadata-only, like bucket drops
        table.gc(keep_versions=self.keep_versions)
        return dropped

    # -- channel rename / delete ----------------------------------------
    def rename_channel(self, old: str, new: str, preflighted: bool = False) -> int:
        """Rename a channel across every level, marks included — the
        reference's configuration rename/move operation
        (`ArchiveConfigurationService.java`, `archiving/internal/
        RenameChannelOperation`). The reference keys sample buckets by a
        rename-stable ``channelDataId`` (`SampleBucketId.java:80-89`) so
        its rename is metadata-only; this store keys physical layout by
        channel NAME, so a rename rewrites exactly the files that carry
        the old name (bounded: one channel's footprint, never the table)
        and swaps them in with ONE atomic manifest commit per level — a
        concurrent reader sees the old name or the new name, never both
        or neither. Time-travel reads at pre-rename versions still show
        the old name (immutable files). A level's high-water marks move
        in that level's own swap commit, so no crash can split a level's
        rows from its marks. Returns the number of sample rows that
        changed name.

        Renaming onto an existing channel refuses loudly (the reference
        rejects colliding renames the same way). A failure mid-way
        through the per-level loop triggers a best-effort COMPENSATION
        (reverse-rename of the already-swapped levels) before the error
        propagates — each level's swap is its own atomic manifest
        commit, so without compensation a crash between levels would
        leave half the history under each name.

        ``preflighted=True`` skips the collision probe for a caller that
        just ran :meth:`rename_target_occupied` itself (the admin
        cascade's pre-flight) — one per-level probe pass, not two."""
        return self._rename_channel(old, new, preflighted=preflighted)

    def repair_rename(
        self, old: str, new: str, rollback: bool = False
    ) -> int:
        """Complete a rename that died half-way (ADVICE r9: the
        half-renamed state was unreachable through the public API — the
        collision probe finds the channel's OWN half-renamed rows under
        ``new`` and refuses both directions, wedging the store).

        Differences from a fresh rename, both REQUIRED for repair:

        * the collision probe is skipped — rows under ``new`` are the
          same channel's already-renamed history (the caller asserts
          this, e.g. the admin cascade's rename-intent marker, or an
          operator who verified the registry still maps one of the two
          names);
        * marks are repaired on EVERY level whose rows or marks still
          mention ``old``, not only where rows do: a fully-expired
          channel keeps marks with no rows. A level's rows and marks
          move in one commit, so a level that still mentions ``old`` was
          never renamed — any ``new``-named mark there is a fully-expired
          FOREIGN channel's stale leftover and the fresh-rename purge
          applies unchanged; levels that no longer mention ``old`` were
          already renamed and are left untouched.

        **Rolling BACK a crashed rename? Pass ``rollback=True``.** The
        two directions are indistinguishable from table contents alone
        when a fully-expired FOREIGN channel's stale marks sit under the
        crashed rename's TARGET name (round-11 review): in a rollback
        that name is the repair SOURCE, and on a level the crash left
        unrenamed the default (forward) rule would read the foreign
        marks as proof the rename never ran there — purging the
        channel's genuine marks and adopting the foreign stale ones.
        With ``rollback=True`` the repair-source-named marks are the
        channel's own ONLY on a level holding repair-source rows and no
        repair-target mark (the rename completed there); everywhere else
        they are foreign leftovers and are dropped, never folded in. The
        admin cascade's compensation and intent-marker recovery pass the
        flag on their rollback legs.

        Idempotent AND no-op-cheap: repairing an already-complete (or
        never-started) rename renames nothing, commits nothing, and
        returns 0 — safe to run speculatively at startup."""
        return self._rename_channel(
            old, new, preflighted=True, repair=True, rollback=rollback
        )

    def _rename_channel(
        self, old: str, new: str, preflighted: bool, repair: bool = False,
        rollback: bool = False,
    ) -> int:
        if not preflighted:
            occupied = self.rename_target_occupied(new)
            if occupied is not None:
                raise ValueError(
                    f"rename target already exists: {new!r}"
                    f" (level {occupied})"
                )

        def _xf(a: str, b: str):
            def xf(df: DataFrame) -> DataFrame:
                return df.withColumn(
                    "channel",
                    F.when(F.col("channel") == a, F.lit(b)).otherwise(
                        F.col("channel")
                    ),
                )

            return xf

        def _meta_xf(marks: dict, hit: bool) -> dict:
            # a fully-expired channel named `new` passes the collision
            # probe (no DATA rows) but can still own a stale mark;
            # folding it into the renamed channel would make incremental
            # decimation silently skip windows up to the stale mark.
            # Purge it, then rename — data levels are unaffected (the
            # probe guarantees no rows named `new`).
            return _rename_mark(_drop_mark(marks, new), old, new)

        def _rollback_meta_xf(marks: dict, hit: bool) -> dict:
            # Explicit-rollback rule (round-11 review): the repair
            # SOURCE here is the crashed rename's TARGET — the one name
            # a fully-expired FOREIGN channel's stale mark can sit under
            # (the original probe only verified it free of DATA).
            # Source-named marks are the channel's OWN exactly when the
            # original rename completed on this level: its swap ran (the
            # level holds source-named rows) and left no target-named
            # mark. Everywhere else they are foreign leftovers: DROP
            # them instead of folding them into the restored channel
            # (inheriting a foreign mark would make incremental
            # decimation silently skip windows).
            if hit and new not in marks:
                return _rename_mark(marks, old, new)
            return _drop_mark(marks, old)

        if repair:
            # no compensation wrapper: repair is idempotent — on failure
            # re-run it, rather than half-reversing a half-repair
            return self._rewrite_channel_rows(
                old, _xf(old, new),
                _rollback_meta_xf if rollback else _meta_xf,
                meta_all_levels=True,
            )
        try:
            return self._rewrite_channel_rows(old, _xf(old, new), _meta_xf)
        except Exception:
            # roll already-renamed levels back (rows under `new` can only
            # be ours: the probe above found none). If the compensation
            # itself fails the original error still propagates — the
            # store is then in the half-renamed state, which the public
            # probe-guarded API refuses to touch; :meth:`repair_rename`
            # (either direction) is the documented way out.
            try:
                self._rewrite_channel_rows(
                    new, _xf(new, old),
                    lambda marks, _hit: _rename_mark(marks, new, old),
                )
            except Exception:  # noqa: BLE001 - keep the primary error
                pass
            raise

    def rename_target_occupied(self, new: str) -> int | None:
        """First level holding any row under ``new`` (None = free): the
        collision probe shared by :meth:`rename_channel` and the admin
        cascade's pre-flight — one channel-pruned limit(1) scan per
        level."""
        for level in self.levels():
            df = self.read_samples(level, channels=[new])
            if df.limit(1).count() > 0:
                return level
        return None

    def delete_channel(self, channel: str) -> int:
        """Remove a channel across every level, marks included — the
        other `ArchiveConfigurationService` mutation (remove-channel,
        `archiving/internal/RemoveChannelOperation`; the reference also
        deletes the channel's sample buckets). Same bounded-rewrite
        discipline as :meth:`rename_channel`: only the files that carry
        the channel are rewritten (one channel's footprint, never the
        table), swapped in with ONE atomic manifest commit per level —
        a file whose rewrite comes up empty publishes as a pure removal
        (a whole-file delete costs no data write). A level's marks drop
        the channel in that level's own swap commit (header-only where
        no row is left); pre-delete snapshots still show it
        (immutable files + time travel). Returns sample rows removed.
        Deleting an unknown channel is a no-op returning 0.

        VERDICT r9 #2 — all-or-nothing like rename: a failure mid-way
        through the per-level loop triggers a COMPENSATION before the
        error propagates. Unlike rename there is no inverse transform to
        re-run, but every swap this method committed is journaled
        (``undo_log``) and each level's pre-delete files are still
        referenced by the previous manifest version (``keep_versions >=
        2`` retains it, and gc never collects files a retained version
        lists) — so the compensation re-commits each journaled level
        back to exactly its pre-delete file list and header, so the rows
        come back with their marks (else the monotonic guard would
        accept replays of them), newest swap first.
        With ``keep_versions == 1`` the pre-delete files may already be
        collected, so the compensation is skipped (documented trade of
        that setting) and a crash leaves a partial delete whose retry
        completes it (the rewrite is idempotent per level)."""
        undo_log: list[tuple[ManifestTable, list[str], list[str], str]] = []
        try:
            # meta_all_levels: a fully-expired channel has marks on
            # levels with NO data files left; a hits-only walk would
            # leave that stale mark behind forever, and a later
            # re-creation of the name would make incremental decimation
            # silently skip every window up to it
            return self._rewrite_channel_rows(
                channel,
                lambda df: df.filter(F.col("channel") != channel),
                lambda marks, _hit: _drop_mark(marks, channel),
                undo_log=undo_log,
                meta_all_levels=True,
            )
        except Exception:
            if self.keep_versions >= 2:
                try:
                    for table, added, removed, header in reversed(undo_log):
                        table.commit(
                            add=removed, remove=added,
                            header_fn=lambda _prev, h=header: h,
                        )
                except Exception:  # noqa: BLE001 - keep the primary error
                    pass
            raise

    def delete_channel_level(self, channel: str, level: int) -> int:
        """Remove ONE channel's rows and marks from a SINGLE
        decimation level — the ``update_channel`` cascade for a dropped
        level (the reference's configuration update deletes the removed
        level's sample buckets, `ArchiveConfigurationService`). Same
        bounded-rewrite discipline as :meth:`delete_channel`, restricted
        to the one level; other levels and channels untouched. Raw
        (level 0) refuses — removing raw is :meth:`delete_channel`'s
        job, never a config edit's side effect."""
        if level == 0:
            raise ValueError(
                "level 0 (raw) cannot be dropped per-level; use "
                "delete_channel"
            )
        return self._rewrite_channel_rows(
            channel,
            lambda df: df.filter(F.col("channel") != channel),
            lambda marks, _hit: _drop_mark(marks, channel),
            meta_all_levels=True,
            only_levels={level},
        )

    def _rewrite_channel_rows(
        self,
        channel: str,
        transform,
        meta_transform,
        meta_all_levels: bool = False,
        undo_log: list | None = None,
        only_levels: set | None = None,
    ) -> int:
        """Bounded-rewrite machinery shared by :meth:`rename_channel` and
        :meth:`delete_channel`: per level, discover the files carrying
        ``channel`` (bounded metadata collect — a subset of one
        channel's footprint), apply ``transform`` to exactly those
        files' rows, and swap the rewrite in with ONE atomic manifest
        commit whose header carries the level's marks mapped by
        ``meta_transform(marks, hit) -> marks``, a driver-side dict
        function (``hit``: the level's rows carry ``channel``). The marks
        are a level's only metadata, so no crash can split them from its
        rows. Rename passes a mark transform that also purges a
        fully-expired target channel's STALE mark, which the data-level
        collision probe cannot see. Returns the number of sample rows
        that matched ``channel``.

        ``meta_all_levels=True`` (repair_rename, delete_channel) also
        maps the marks of levels with no matching DATA rows: a
        fully-expired channel keeps its mark with no data at all. There
        the marks change in a header-only commit, GUARDED on the marks
        actually mentioning ``channel`` — an unconditional republish
        would commit a new version on every no-op invocation, churning
        the keep_versions horizon for nothing.

        ``undo_log`` (delete_channel's compensation journal) receives a
        ``(table, added, removed, header)`` entry immediately after EVERY
        swap this call commits; ``header`` is the level's pre-swap
        header."""
        touched = 0
        for level in self.levels():
            if only_levels is not None and level not in only_levels:
                continue
            table = self._level_table(level)
            base = table.current_version()
            if base is None:
                continue
            rel = table.files(base)
            if not rel and not meta_all_levels:
                continue
            hit: set[str] = set()
            if rel:
                full = self._read_level_files(
                    level, [f"{table.root}/{r}" for r in rel]
                )
                hit = {
                    r[0]
                    for r in full.filter(F.col("channel") == channel)
                    .select(F.input_file_name())
                    .distinct()
                    .collect()
                }
            if not hit and not (
                meta_all_levels and channel in self.channel_hwm(level, base)
            ):
                continue
            header_fn, before = _marks_header_fn(meta_transform, bool(hit))
            affected: list[str] = []
            added: list[str] = []
            if hit:
                affected = _match_manifest_files(rel, hit)
                part = self._read_level_files(
                    level, [f"{table.root}/{r}" for r in affected]
                )
                # rows matching ``channel`` and rows in all, one job
                counts = dict(
                    part.groupBy((F.col("channel") == channel).alias("hit"))
                    .count()
                    .collect()
                )
                touched += counts.get(True, 0)
                added = self._publish(
                    table, transform(part), remove=affected,
                    header_fn=header_fn,
                    tasks=self._write_tasks(sum(counts.values())),
                )
            else:
                table.commit(header_fn=header_fn)  # marks only
            if undo_log is not None:
                undo_log.append((table, added, affected, before["header"]))
            table.gc(keep_versions=self.keep_versions)
        return touched

    @staticmethod
    def zorder_key_expr(channel_col: str = "channel", t_col: str = "t") -> str:
        """Morton (Z-order) interleave of (hash(channel), within-day t) as
        a pure Catalyst expression — the multi-dimensional clustering
        option for :meth:`compact`.

        The default layout sorts files by (channel, t): perfect channel
        pruning, but every file's t min/max spans the whole day, so a
        "narrow time slice across ALL channels" scan (correlation plots,
        incident forensics) can skip nothing. Z-order interleaves 16 bits
        of ``xxhash64(channel)`` with 16 bits of the within-day offset
        (~1.3 s resolution), so each written file covers a small rectangle
        in (channel-hash × time) space and BOTH predicate shapes prune at
        the file/row-group level — the same trade Delta's OPTIMIZE ZORDER
        makes. Pure shifts/masks/ors: whole-stage-codegen'd, no UDF."""
        x = f"(xxhash64({channel_col}) & 65535)"
        y = f"(pmod({t_col}, {DAY_NS}) div {DAY_NS // 65536})"  # 2^16/day
        terms = []
        for i in range(16):
            terms.append(f"(shiftleft(shiftright({x}, {i}) & 1, {2 * i + 1}))")
            terms.append(f"(shiftleft(shiftright({y}, {i}) & 1, {2 * i}))")
        return " | ".join(terms)

    # -- compaction (96 MB rollover analog) ------------------------------
    def compact(
        self,
        level: int,
        target_files_per_partition: int = 1,
        zorder: bool = False,
    ) -> None:
        """Rewrite each date partition into ``target_files_per_partition``
        sorted files (the OPTIMIZE pass for append-fragmented partitions).

        ALL fragmented partitions rewrite in ONE Spark write and swap in
        via ONE manifest commit (a per-partition loop was ~1 driver-side
        job per date — 100 sequential jobs for 100 days; one repartition
        rewrites every fragmented day in parallel and scales with the
        cluster, not the partition count). A concurrent reader
        always resolves either the fragmented or the compacted file set —
        never an empty/partial directory (the delete-then-rename failure
        mode this store had before round 3). Replaced files survive until
        ``keep_versions`` commits later (gc), so in-flight readers of
        recent versions — and time-travel reads inside the horizon —
        finish cleanly.

        ``target_files_per_partition=1`` is exact (each date is owned by
        one task, hashed on date); a larger target range-clusters the
        rewrite into ``#dates x target`` tasks (:meth:`_publish`), a soft
        cap: a task whose range straddles two dates writes a file in
        each, and every date's files keep disjoint channel ranges.
        ``zorder`` keeps its hash on date (and channel, for a target
        above 1). Rewritten files take the current store format (files
        from Spark's default writer convert here); the manifest header,
        schema and marks alike, carries forward unchanged."""
        table = self._level_table(level)
        by_date: dict[str, list[str]] = {}
        for r in table.files() or []:
            d = _file_date(r)
            if d is not None:
                by_date.setdefault(d, []).append(r)
        old = [
            r
            for files in by_date.values()
            if len(files) > target_files_per_partition
            for r in files
        ]
        if not old:
            return
        df = self._read_level_files(
            level, [f"{table.root}/{r}" for r in old]
        )
        tasks = None
        if zorder:
            part_cols = (
                ["date"] if target_files_per_partition == 1
                else ["date", "channel"]
            )
            # multi-dim clustering: files cover (channel-hash x time)
            # rectangles so BOTH channel-slice and time-slice scans prune
            out = (
                df.withColumn("_z", F.expr(self.zorder_key_expr()))
                .repartition(*part_cols)
                # "date" prefix: see _publish — without it the writer's
                # own partition sort evicts this one
                .sortWithinPartitions("date", "_z")
                .drop("_z")
            )
        elif target_files_per_partition == 1:
            out = df.repartition("date").sortWithinPartitions(
                "date", "channel", "t"
            )
        else:
            out = df
            n_dates = len({_file_date(r) for r in old})
            tasks = n_dates * target_files_per_partition
        self._publish(table, out, remove=old, tasks=tasks)
        table.gc(keep_versions=self.keep_versions)


def _match_manifest_files(rel: list[str], hit: set[str]) -> list[str]:
    """Manifest-relative paths (in manifest order) whose data files
    appear in ``hit`` (absolute ``input_file_name()`` URIs).

    O(|rel| + |hit|): every level file lives at ``date=<day>/<file>``
    (:meth:`ArchiveStore._publish`), so a hit's table-relative path is
    its last two path segments — basenames alone are NOT unique, one
    publish writes the same part-file name into every date dir.
    ``input_file_name`` percent-encodes special characters; manifest
    paths are raw, hence the unquote."""
    from urllib.parse import unquote

    keys = {
        "/".join(unquote(h.split("://", 1)[-1]).split("/")[-2:]) for h in hit
    }
    return [r for r in rel if r in keys]


def _drop_mark(marks: dict, channel: str) -> dict:
    return {c: t for c, t in marks.items() if c != channel}


def _rename_mark(marks: dict, a: str, b: str) -> dict:
    """``marks`` with ``a``'s mark moved onto ``b`` (their max if ``b``
    has one too)."""
    out = _drop_mark(marks, a)
    if a in marks:
        out[b] = max(marks[a], out.get(b, marks[a]))
    return out


def hwm_frame(spark: SparkSession, hwm: dict[str, int]) -> DataFrame:
    """A :meth:`ArchiveStore.channel_hwm` map as a driver-local
    ``(channel, hwm)`` relation for broadcast joins (no Spark job)."""
    return spark.createDataFrame(sorted(hwm.items()), HWM_SCHEMA)


def _parse_header(hdr: str | None) -> tuple[str | None, dict]:
    """``(schema DDL, hwm map)`` of a level manifest header, the compact
    JSON ``{"schema": <DDL>, "hwm": {channel: max_t}}`` — the one header
    format. Anything else (no header, or the bare DDL of a level written
    before its marks moved into the manifest) raises ``ValueError``."""
    try:
        rec = json.loads(hdr) if hdr is not None else None
    except ValueError:
        rec = None
    if not isinstance(rec, dict) or not {"schema", "hwm"} <= rec.keys():
        raise ValueError(
            "manifest header is not a {\"schema\", \"hwm\"} record: "
            f"{'none' if hdr is None else repr(hdr[:80])}"
        )
    return rec["schema"], rec["hwm"]


def _marks_header_fn(meta_transform, hit: bool):
    """``(header_fn, before)`` for a rewrite commit on one level: the
    header keeps the schema and maps the marks of the base the commit
    builds on through ``meta_transform(marks, hit)`` (no Spark job);
    ``before["header"]`` receives that base's header for
    compensation."""
    before: dict = {}

    def _header_fn(prev: str | None) -> str:
        ddl, hwm = _parse_header(prev)
        before["header"] = prev
        return _format_header(ddl, meta_transform(hwm, hit))

    return _header_fn, before


def _format_header(ddl: str | None, hwm: dict) -> str:
    """One manifest line (JSON escapes any newline in a channel name)."""
    return json.dumps(
        {"schema": ddl, "hwm": dict(sorted(hwm.items()))},
        separators=(",", ":"),
    )


def _union_header_fn(batch_fields: list[tuple[str, str]], maxima=None):
    """``header_fn`` for a sample-batch commit: the new manifest header
    is the UNION of the base version's schema and the batch's, and the
    base version's marks with the batch's per-channel ``maxima`` folded
    in — both evaluated INSIDE the commit's rebase loop so a concurrent
    append can never be shadowed (check-then-act on the newest footer
    could lose a column, a precomputed map a mark). The base header is
    the one ``{"schema", "hwm"}`` format (an empty level has none); any
    other refuses the commit (:func:`_parse_header`).

    A same-name/different-type collision REFUSES the commit loudly
    instead of silently keeping one side: write_samples' pre-commit type
    check runs against the schema it READ, so two racing writers — one
    adding ``x double``, one carrying ``x string`` — can both pass their
    pre-checks, and whichever rebases onto the other's committed header
    must fail HERE or its files would corrupt every scan planned with
    the header schema (VERDICT r9 #8). The refusal aborts before the
    manifest rename: the loser's already-published stage files stay
    unreferenced and gc collects them."""

    def _header_fn(prev: str | None) -> str:
        ddl, hwm = (None, {}) if prev is None else _parse_header(prev)
        base_fields = [] if ddl is None else [
            (f.name, f.dataType.simpleString())
            for f in StructType.fromDDL(ddl).fields
        ]
        types = dict(base_fields)
        merged = list(base_fields)
        for n, t in batch_fields:
            have = types.get(n)
            if have is None:
                merged.append((n, t))
                types[n] = t
            elif have != t:
                raise ValueError(
                    f"schema conflict at commit: column {n!r} is {have} "
                    f"in the level's committed schema but {t} in this "
                    "batch (a concurrent commit widened the schema after "
                    "this writer's pre-check; type changes are not "
                    "supported — add a NEW column instead)"
                )
        for c, t in (maxima or {}).items():
            if c not in hwm or t > hwm[c]:
                hwm[c] = t
        return _format_header(
            ", ".join(f"`{n}` {t}" for n, t in merged) or None, hwm
        )

    return _header_fn


def _file_date(rel_path: str) -> str | None:
    """Extract the yyyy-MM-dd value from a ``date=...`` path segment."""
    for seg in rel_path.split("/"):
        if seg.startswith("date="):
            return seg.split("=", 1)[1]
    return None


def _py_date(t_ns: int) -> str:
    import datetime

    return (
        datetime.date(1970, 1, 1) + datetime.timedelta(days=t_ns // DAY_NS)
    ).isoformat()
