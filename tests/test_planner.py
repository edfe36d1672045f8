"""Planner tests: decimation-level selection (5 % rule) and retention
fallback (`Api10Controller.java:396-518`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.plans.planner import (
    NS,
    plan_samples,
    select_decimation_level,
)

LEVELS = [0, 10, 100]


def _sel(perfect_s, levels=LEVELS, count=1):
    return select_decimation_level(levels, 0, int(perfect_s * count * NS), count)


def test_count_absent_raw():
    assert select_decimation_level(LEVELS, 0, 10**15, None) == 0


def test_exact_match():
    assert _sel(10) == 10
    assert _sel(100) == 100


def test_no_longer_level_picks_largest():
    assert _sel(1000) == 100


def test_longer_within_5pct_and_closer_wins():
    # perfect 96 s: longer 100 deviates 4.17 % < 5 % and less than shorter 10
    assert _sel(96) == 100


def test_longer_over_5pct_falls_back_to_shorter():
    # perfect 95 s: longer 100 deviates 5.26 % -> shorter 10 wins
    assert _sel(95) == 10


def test_shorter_preferred_when_closer():
    # perfect 11 s: longer 100 deviates 809 % -> shorter 10 (9 % deviation)
    assert _sel(11) == 10


def test_count_validation():
    with pytest.raises(ValueError):
        select_decimation_level(LEVELS, 0, 10, 0)
    with pytest.raises(ValueError):
        select_decimation_level([10, 100], 0, 10, 1)  # no raw level


def _series(spark, level, ts):
    return spark.createDataFrame(
        [("X", int(t * NS), float(level + i), level) for i, t in enumerate(ts)],
        "channel string, t long, value double, level int",
    )


def test_fallback_stitches_levels_oldest_first(spark):
    # raw available from t=1000; level 60 from t=500; level 600 from t=0
    l0 = _series(spark, 0, range(1000, 1200, 10))
    l1 = _series(spark, 60, range(500, 1200, 60))
    l2 = _series(spark, 600, range(0, 1200, 600))
    out = plan_samples(
        {0: l0, 60: l1, 600: l2}, 100 * NS, 1150 * NS, count=10**6
    ).collect()
    lv = [r.level for r in out]
    ts = [r.t for r in out]
    assert ts == sorted(ts)
    # ordered: 600-level rows, then 60-level, then raw
    assert lv == sorted(lv, key=lambda x: -x)
    assert 0 in lv and 60 in lv and 600 in lv
    # each level serves a disjoint, progressively newer range
    t600 = [t for t, v in zip(ts, lv) if v == 600]
    t60 = [t for t, v in zip(ts, lv) if v == 60]
    t0 = [t for t, v in zip(ts, lv) if v == 0]
    assert max(t600) < min(t60) < max(t60) < min(t0)
    # 600-level backward probe covers the query start
    assert min(t600) <= 100 * NS


def test_full_coverage_single_level(spark):
    # raw covers the whole range -> single-piece plan, no fallback rows
    l0 = _series(spark, 0, range(0, 300, 10))
    l1 = _series(spark, 60, range(0, 300, 60))
    out = plan_samples({0: l0, 60: l1}, 50 * NS, 250 * NS, count=10**6).collect()
    assert {r.level for r in out} == {0}


def test_empty_levels_yield_empty_plan(spark):
    l0 = _series(spark, 0, [])
    l1 = _series(spark, 60, [])
    out = plan_samples({0: l0, 60: l1}, 0, 100 * NS, count=100)
    assert out.count() == 0


def test_plot_query_level_selection_pins():
    """The 240-px plot of [LO, HI) lands exactly on the 1 h level (perfect
    period == 3600 s); more pixels than samples falls back to raw; 40 px
    lands exactly on 6 h. Pins the selection the plot_query_240px oracle
    assumes statically (`Api10Controller.java:396-442`)."""
    from cassandra_pv_archiver_spark.params import HI, LO, PERIOD_1H, PERIOD_6H
    from cassandra_pv_archiver_spark.plans.planner import (
        select_decimation_level,
    )

    levels = [0, PERIOD_1H, PERIOD_6H]
    assert select_decimation_level(levels, LO, HI, 240) == PERIOD_1H
    assert select_decimation_level(levels, LO, HI, 40) == PERIOD_6H
    assert select_decimation_level(levels, LO, HI, 100_000) == 0


def test_fallback_cap_clamped_to_query_end(spark):
    """Review-pinned: when the finest level's only contribution is a
    FORWARD probe (its first sample lies after the query end), the coarser
    fallback level must still stop at the query end — not serve the whole
    gap up to that probe (the at-most-one-row-past-hi contract,
    `ArchiveAccessService.java:77-103`, holds across the union)."""
    NS = 1_000_000_000

    def _mk(rows):
        return spark.createDataFrame(
            [("c", t, float(v), lvl) for (t, v, lvl) in rows],
            "channel string, t long, value double, level int",
        )

    # fine level: data only AFTER the query end (retention ate the rest)
    l0 = _mk([(900 * NS, 1.0, 0), (950 * NS, 2.0, 0)])
    # coarse level: covers everything, including (end, 900s)
    l1 = _mk([(t * NS, 10.0 + t, 60) for t in range(0, 1000, 60)])
    out = plan_samples({0: l0, 60: l1}, 100 * NS, 300 * NS, count=10**6)
    rows = out.collect()
    past_end = [r for r in rows if r.t > 300 * NS]
    # exactly the fine level's forward probe — nothing else past end
    assert len(past_end) == 1 and past_end[0].level == 0
    assert past_end[0].t == 900 * NS
    # the coarse level serves [start, end] (plus its backward probe)
    coarse = sorted(r.t for r in rows if r.level == 60)
    assert coarse[0] == 60 * NS  # backward probe at/before start
    assert max(coarse) <= 300 * NS


def test_fallback_planned_per_channel(spark):
    """Review-pinned: fallback coverage is decided PER channel (as the
    reference does per request). Channel A has raw back to t=0; channel B
    has raw only from t=900s but coarse data everywhere — B's early range
    must come from the coarse level even though A's raw reaches start."""
    NS = 1_000_000_000

    def _mk(rows):
        return spark.createDataFrame(
            [(c, t * NS, float(v), lvl) for (c, t, v, lvl) in rows],
            "channel string, t long, value double, level int",
        )

    l0 = _mk(
        [("A", t, 1.0, 0) for t in range(0, 1200, 50)]
        + [("B", t, 2.0, 0) for t in range(900, 1200, 50)]
    )
    l1 = _mk(
        [("A", t, 10.0, 60) for t in range(0, 1200, 60)]
        + [("B", t, 20.0, 60) for t in range(0, 1200, 60)]
    )
    out = plan_samples({0: l0, 60: l1}, 100 * NS, 1100 * NS, count=10**6)
    rows = out.collect()
    # A: raw covers everything -> no coarse rows for A
    assert not [r for r in rows if r.channel == "A" and r.level == 60]
    # B: raw serves [900, 1100]; the coarse level serves [100, 900)
    b_coarse = sorted(r.t for r in rows if r.channel == "B" and r.level == 60)
    assert b_coarse and b_coarse[0] == 60 * NS  # backward probe
    assert max(b_coarse) < 900 * NS
    b_raw = sorted(r.t for r in rows if r.channel == "B" and r.level == 0)
    assert b_raw[0] == 900 * NS
    # B's full requested range is covered with no holes at the seam
    all_b = sorted(r.t for r in rows if r.channel == "B")
    assert 840 * NS in all_b and 900 * NS in all_b


def test_probe_row_is_atomic_under_duplicate_timestamps(spark):
    """Review-pinned: the as-of probe picks ONE physical row; duplicate
    timestamps must never yield a chimera mixing fields of two rows."""
    from cassandra_pv_archiver_spark.operators import asof

    df = spark.createDataFrame(
        [("c", 100, 1.0, 0), ("c", 100, 2.0, 5)],
        "channel string, t long, v double, severity int",
    )
    got = asof.asof_before(df, 100).collect()
    assert len(got) == 1
    assert (got[0].v, got[0].severity) in {(1.0, 0), (2.0, 5)}


def test_stats_injection_reproduces_probe_plan(spark):
    """plan_samples(stats=...) must produce exactly the plan the generic
    probe job produces — same per-channel fallback fixture as above, with
    the probe triples handed in precomputed."""
    NS = 1_000_000_000

    def _mk(rows):
        return spark.createDataFrame(
            [(c, t * NS, float(v), lvl) for (c, t, v, lvl) in rows],
            "channel string, t long, value double, level int",
        )

    l0 = _mk(
        [("A", t, 1.0, 0) for t in range(0, 1200, 50)]
        + [("B", t, 2.0, 0) for t in range(900, 1200, 50)]
    )
    l1 = _mk(
        [("A", t, 10.0, 60) for t in range(0, 1200, 60)]
        + [("B", t, 20.0, 60) for t in range(0, 1200, 60)]
    )
    lo, hi = 100 * NS, 1100 * NS
    baseline = {
        tuple(r)
        for r in plan_samples({0: l0, 60: l1}, lo, hi, count=10**6).collect()
    }
    # probe triples computed by hand from the fixture:
    #   bt = latest t <= 100s, rmin = min t in [100s, 1100s], ft = min >= 1100s
    stats = {
        (0, "A"): (100 * NS, 100 * NS, 1100 * NS),
        (0, "B"): (None, 900 * NS, 1100 * NS),
        (60, "A"): (60 * NS, 120 * NS, 1140 * NS),
        (60, "B"): (60 * NS, 120 * NS, 1140 * NS),
    }
    injected = {
        tuple(r)
        for r in plan_samples(
            {0: l0, 60: l1}, lo, hi, count=10**6, stats=stats
        ).collect()
    }
    assert injected == baseline


def test_exact_ranges_match_limit_mode_queries(spark):
    """The planned exact ranges serve exactly the limit-mode rows
    (`ArchiveAccessServiceImpl.java:756-813`) of each key's fallback walk:
    per key, plan_samples equals asof.get_samples over the walk's pieces
    (finest piece AT_OR_BEFORE/AT_OR_AFTER, coarser ones capped
    AT_OR_BEFORE/AT_OR_BEFORE). Keys A and B share level 0 with distinct
    bt/ft (the per-key bound lookup); A has samples exactly at start and
    end; C and D fall back to level 60; start == end covers the 0/1/1/2
    cardinality table."""
    from cassandra_pv_archiver_spark.operators import asof
    from cassandra_pv_archiver_spark.plans.planner import probe_triples

    raw = {
        "A": [40, 100, 160, 300, 360],
        "B": [70, 130, 250, 420],
        "C": [200, 260, 330],
        "D": [500],
        "E": [],
    }
    l0 = spark.createDataFrame(
        [(k, t * NS, float(t), 0) for k, ts in raw.items() for t in ts],
        "channel string, t long, value double, level int",
    )
    l1 = spark.createDataFrame(
        [(k, t * NS, -float(t), 60) for k in "ABCD" for t in range(0, 660, 60)],
        "channel string, t long, value double, level int",
    )
    levels = {0: l0, 60: l1}
    B, A = asof.AT_OR_BEFORE, asof.AT_OR_AFTER  # limit modes
    cases = {
        (100, 300): {
            "A": [(0, 100, 300, B, A)],
            "B": [(0, 100, 300, B, A)],
            "C": [(60, 100, 199, B, B), (0, 100, 300, B, A)],
            "D": [(60, 100, 300, B, B), (0, 100, 300, B, A)],
        },
        # start == end: on a sample 1 row (A), between two 2 rows (B, C),
        # only after 1 row (D's level 0, plus its level-60 fallback), none 0
        (300, 300): {
            "A": [(0, 300, 300, B, A)],
            "B": [(0, 300, 300, B, A)],
            "C": [(0, 300, 300, B, A)],
            "D": [(60, 300, 300, B, B), (0, 300, 300, B, A)],
        },
    }
    for (lo_s, hi_s), walks in cases.items():
        lo, hi = lo_s * NS, hi_s * NS
        pieces = [
            asof.get_samples(
                levels[period].filter(F.col("channel") == k),
                plo * NS, phi * NS, lo_mode, hi_mode,
            )
            for k, walk in walks.items()
            for period, plo, phi, lo_mode, hi_mode in walk
        ]
        union = pieces[0]
        for p in pieces[1:]:
            union = union.unionByName(p)
        served = sorted(tuple(r) for r in union.collect())
        want = {k: [r for r in served if r[0] == k] for k in walks}
        stats = {
            (period, r.channel): (r.bt, r.rmin, r.ft)
            for period, df in levels.items()
            for r in probe_triples(df, lo, hi).collect()
        }
        for kwargs in ({}, {"stats": stats}):
            out = plan_samples(levels, lo, hi, count=10**6, **kwargs).collect()
            got = {k: [tuple(r) for r in out if r.channel == k] for k in raw}
            assert got == {**want, "E": []}, (lo_s, hi_s, kwargs.keys())
    assert [r[1] // NS for r in want["B"]] == [250, 420]
    assert [r[1] // NS for r in want["D"]] == [300, 500]


def test_store_probe_stats_matches_scan(spark, tmp_path):
    """ArchiveStore.probe_stats (partition-bounded manifest walk) returns
    the same triples as a full-scan aggregation."""
    from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

    DAY = 86_400 * NS
    rows = [
        ("A", 0 * DAY + 5, 1.0, 0, 0),
        ("A", 3 * DAY + 7, 2.0, 0, 0),   # bt target (days 1-2 empty)
        ("A", 5 * DAY + 1, 3.0, 0, 0),   # rmin
        ("A", 7 * DAY + 9, 4.0, 0, 0),   # ft
        ("B", 5 * DAY + 2, 9.0, 0, 0),   # only in-range data
    ]
    raw = spark.createDataFrame(
        rows, "channel string, t long, v double, severity int, status int"
    )
    store = ArchiveStore(spark, str(tmp_path / "arch"))
    store.write_samples(raw, level=0)
    got = store.probe_stats(0, 5 * DAY, 6 * DAY, ["A", "B", "MISSING"])
    assert got["A"] == (3 * DAY + 7, 5 * DAY + 1, 7 * DAY + 9)
    assert got["B"] == (None, 5 * DAY + 2, None)
    assert got["MISSING"] == (None, None, None)


def test_store_probe_stats_doubling_walk(spark, tmp_path, count_jobs):
    """A sparse channel whose bt and ft lie tens of date partitions away
    from a pre-1970 query gets the full-scan triple, and each walk arm
    takes at most ceil(log2 n) + 1 jobs over its n partitions; a channel
    resolved inside the query's partitions takes the one in-range job."""
    import math

    from cassandra_pv_archiver_spark.sources.archive_store import ArchiveStore

    DAY, H = 86_400 * NS, 3600 * NS
    days = range(-40, 25)
    rows = [("D", d * DAY + h, 1.0, 0, 0) for d in days for h in (H, 12 * H)]
    rows += [("S", -37 * DAY + 11, 2.0, 0, 0), ("S", 21 * DAY + 5, 3.0, 0, 0)]
    # F's bt lies in the query's partitions while it walks forward for ft
    # alongside channels walking backward: the older window holding F's
    # earlier sample must not replace the nearer bt
    rows += [("F", t, 4.0, 0, 0) for t in (-10 * DAY, -6 * DAY + H, 20 * DAY)]
    store = ArchiveStore(spark, str(tmp_path / "arch"))
    store.write_samples(
        spark.createDataFrame(
            rows, "channel string, t long, v double, severity int, status int"
        ),
        level=0,
    )
    start, end = -6 * DAY + 2 * H, -5 * DAY + 2 * H

    def scan(ch):
        ts = [t for c, t, *_ in rows if c == ch]
        return (
            max((t for t in ts if t <= start), default=None),
            min((t for t in ts if start <= t <= end), default=None),
            min((t for t in ts if t >= end), default=None),
        )

    got, jobs = count_jobs(store.probe_stats, 0, start, end, ["D"])
    assert got == {"D": scan("D")} and jobs == 1
    assert got["D"] == (-6 * DAY + H, -6 * DAY + 12 * H, -5 * DAY + 12 * H)
    older, newer = 34, 29  # date partitions before / after the query's two
    bound = max(math.ceil(math.log2(n)) + 1 for n in (older, newer))
    for chans in (["S"], ["D", "S", "F", "MISSING"]):
        got, jobs = count_jobs(store.probe_stats, 0, start, end, chans)
        assert got == {c: scan(c) for c in chans}
        assert 1 < jobs <= 1 + bound
    assert got["S"] == (-37 * DAY + 11, None, 21 * DAY + 5)
    assert got["F"] == (-6 * DAY + H, None, 20 * DAY)
