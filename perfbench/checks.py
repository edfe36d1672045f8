"""Output checks, run outside the timed windows.

Each check returns a list of failure messages; the caller counts one
failed operation per failing batch or request. The expected answers come
from DuckDB over the parquet files each level's manifest lists, and, for
the decimated levels, from the decimation operators re-run from scratch
over the final raw level.
"""

from __future__ import annotations

import json

import duckdb
import pyarrow as pa

from workloads import CASCADE, NS, History

AT_OR_BEFORE, AT_OR_AFTER = "before", "after"


def level_paths(spark, store_root: str, level: int) -> list[str]:
    from cassandra_pv_archiver_spark.sources.manifest import ManifestTable

    table = ManifestTable(spark, f"{store_root}/samples/decimation_level={level}")
    return [p.split("://", 1)[-1] for p in table.paths() or []]


class StoreOracle:
    """DuckDB views over the committed files of every level."""

    def __init__(self, spark, store_root: str):
        self.spark = spark
        self.root = store_root
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")

    def close(self) -> None:
        self.con.close()

    def refresh(self) -> list[int]:
        levels = []
        for level in [0] + CASCADE:
            paths = level_paths(self.spark, self.root, level)
            if not paths:
                continue
            files = ", ".join(f"'{p}'" for p in paths)
            self.con.execute(
                f"CREATE OR REPLACE VIEW l{level} AS SELECT * FROM "
                f"read_parquet([{files}], hive_partitioning = false)"
            )
            levels.append(level)
        self.levels = levels
        return levels

    def one(self, sql: str, *args):
        return self.con.execute(sql, list(args)).fetchone()

    # -- the reference's level selection and retention fallback ------------
    def pick_level(self, start: int, end: int, count: int | None) -> int:
        """`Api10Controller` level choice: the shorter candidate around the
        perfect period unless the longer one is within 5 % and closer."""
        if count is None:
            return 0
        perfect = (end - start) / count / 1e9
        floor = int(perfect)
        longer = min((p for p in self.levels if p >= floor), default=None)
        shorter = max(p for p in self.levels if p <= floor)
        if longer is None or longer == shorter:
            return shorter
        longer_dev = longer / perfect - 1.0
        shorter_dev = 1.0 - shorter / perfect
        return longer if longer_dev < 0.05 and longer_dev < shorter_dev else shorter

    def expected(self, channel: str, start: int, end: int, count: int | None):
        """Rows the samples endpoint must return, as ``(t, level, value,
        minimum, maximum)`` in response order."""
        best = self.pick_level(start, end, count)
        pieces: list[tuple] = []
        earliest = None
        for p in (p for p in self.levels if p >= best):
            bt, rmin, ft = self.one(
                f"SELECT max(t) FILTER (t <= $2), min(t) FILTER (t BETWEEN $2 AND $3),"
                f" min(t) FILTER (t >= $3) FROM l{p} WHERE channel = $1",
                channel, start, end,
            )
            if bt is None and rmin is None and ft is None:
                continue
            if not pieces:
                spec = (p, start, end, AT_OR_AFTER)
                first = next((x for x in (bt, rmin, ft) if x is not None), None)
            else:
                cap = min(earliest - 1, end)
                spec = (p, start, cap, AT_OR_BEFORE)
                first = bt if bt is not None else (
                    rmin if rmin is not None and rmin <= cap else None
                )
            if first is None:
                continue
            if not pieces or first < earliest:
                pieces.insert(0, spec)
                earliest = first
            if first <= start:
                break
        rows = []
        for p, lo, hi, hi_mode in pieces:
            cols = "t, v, NULL, NULL" if p == 0 else "t, mean, vmin, vmax"
            after = (
                f" OR t = (SELECT min(t) FROM l{p} WHERE channel = $1 AND t >= $3)"
                if hi_mode == AT_OR_AFTER else ""
            )
            got = self.con.execute(
                f"SELECT DISTINCT {cols} FROM l{p} WHERE channel = $1 AND"
                f" (t BETWEEN $2 AND $3"
                f" OR t = (SELECT max(t) FROM l{p} WHERE channel = $1 AND t <= $2)"
                f"{after})",
                [channel, lo, hi],
            ).fetchall()
            rows += [(t, p, v, mn, mx) for t, v, mn, mx in got]
        rows.sort(key=lambda r: (r[0], r[1]))
        return rows


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def check_response(oracle: StoreOracle, resp, channel, start, end, count) -> list[str]:
    """Status 200, the expected sample count, and the values of a fixed
    subset (first five, last five, every 50th) equal to the oracle's."""
    if resp.status != 200:
        return [f"{resp.path}: status {resp.status}"]
    got = json.loads(resp.body)
    want = oracle.expected(channel, start, end, count)
    if len(got) != len(want):
        return [f"{resp.path}: {len(got)} samples, expected {len(want)}"]
    n = len(got)
    idx = sorted(set(range(min(5, n))) | set(range(max(0, n - 5), n)) | set(range(0, n, 50)))
    for i in idx:
        g, (t, level, v, mn, mx) = got[i], want[i]
        ok = g["time"] == t and _close(g["value"][0], v)
        if level:
            ok = ok and g["type"] == "minMaxDouble" and _close(
                g["minimum"], mn) and _close(g["maximum"], mx)
        else:
            ok = ok and g["type"] == "double"
        if not ok:
            return [f"{resp.path}: sample {i} is {g}, expected {want[i]}"]
    return []


def check_live_raw(oracle: StoreOracle, history: History, fresh_batches) -> list[str]:
    """Level 0 holds exactly the history plus every sample the batches
    offered (replays once), with no duplicate (channel, t)."""
    con = oracle.con
    fresh = [r for rows in fresh_batches for r in rows]
    con.register(
        "fresh",
        pa.table({
            "channel": [r[0] for r in fresh],
            "t": pa.array([r[1] for r in fresh], pa.int64()),
            "v": [r[2] for r in fresh],
        }),
    )
    con.execute(
        f"CREATE OR REPLACE VIEW want AS {history.duckdb_sql()}"
        " UNION ALL SELECT channel, t, v FROM fresh"
    )
    n, distinct = oracle.one("SELECT count(*), count(DISTINCT (channel, t)) FROM l0")
    n_want = oracle.one("SELECT count(*) FROM want")[0]
    missing = oracle.one(
        "SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT channel, t, v FROM l0)"
    )[0]
    extra = oracle.one(
        "SELECT count(*) FROM (SELECT channel, t, v FROM l0 EXCEPT ALL SELECT * FROM want)"
    )[0]
    con.unregister("fresh")
    out = []
    if n != distinct:
        out.append(f"level 0 holds {n - distinct} duplicate (channel, t)")
    if n != n_want or missing or extra:
        out.append(
            f"level 0 holds {n} rows, expected {n_want}"
            f" ({missing} missing, {extra} unexpected)"
        )
    return out


DEC_COLS = ["channel", "t", "mean", "std", "vmin", "vmax", "covered_fraction",
            "n_samples", "severity", "status"]


def check_cascade(spark, store_root: str, channels: list[str]) -> list[str]:
    """Each decimated level equals decimate/reaggregate re-run from scratch
    over the final raw level, on every window up to the level's newest one
    per channel, and the level reaches the newest window its source level
    has closed. Checked on ``channels`` only, to keep the check short."""
    from pyspark.sql import functions as F

    from cassandra_pv_archiver_spark.operators.decimate import decimate, reaggregate

    def read(level):
        return spark.read.parquet(*level_paths(spark, store_root, level)).filter(
            F.col("channel").isin(channels))

    raw = read(0).select("channel", "t", "v", "severity", "status")
    src_max = raw.groupBy("channel").agg(F.max("t").alias("src_max"))
    recomputed, source = {}, None
    for p in CASCADE:
        recomputed[p] = (
            decimate(raw, p) if source is None
            else reaggregate(recomputed[source], source, p)
        )
        source = p
    sides = None
    for p in CASCADE:
        stored = read(p).select(*DEC_COLS)
        newest = stored.groupBy("channel").agg(F.max("t").alias("mx"))
        want = (
            recomputed[p].join(newest, "channel")
            .filter(F.col("t") <= F.col("mx")).select(*DEC_COLS)
        )
        # window w is closed once the source level holds a row at or
        # after w + p
        lag = (
            newest.join(src_max, "channel")
            .filter(F.col("mx") < (F.expr(f"src_max div {p * NS}") - 1) * (p * NS))
        )
        src_max = newest.withColumnRenamed("mx", "src_max")
        part = (
            stored.withColumn("side", F.lit("stored"))
            .unionByName(want.withColumn("side", F.lit("want")))
            .select(F.lit(p).alias("level"), "side",
                    F.xxhash64(*DEC_COLS).cast("decimal(38,0)").alias("h"))
            .unionByName(lag.select(F.lit(p).alias("level"), F.lit("lag").alias("side"),
                                    F.lit(0).cast("decimal(38,0)").alias("h")))
        )
        sides = part if sides is None else sides.unionByName(part)
    got = {
        (r.level, r.side): (r.n, r.h)
        for r in sides.groupBy("level", "side")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).collect()
    }
    out = []
    for p in CASCADE:
        stored, want = got.get((p, "stored")), got.get((p, "want"))
        if stored is None or stored != want:
            out.append(f"level {p}: stored (rows, hash) {stored} != recomputed {want}")
        if (p, "lag") in got:
            out.append(f"level {p}: {got[(p, 'lag')][0]} channels behind the newest closed window")
    return out
