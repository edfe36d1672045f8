"""Golden-value decimation tests.

Numbers ported from the reference's decimator test suite
(`ChannelAccessSampleDecimatorTest.java:444-905`, via FIXTURES.md §4): they
pin the hold-forward time-weighted math (A1), severity propagation (A2),
covered fraction (A3), and aggregated re-aggregation (A4) exactly.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.operators.decimate import (
    NS,
    decimate,
    pick_first,
    reaggregate,
)


def _raw(spark, rows):
    return spark.createDataFrame(
        [(c, int(t * NS), float(v), int(sev), int(st)) for c, t, v, sev, st in rows],
        "channel string, t long, v double, severity int, status int",
    )


def _agg(spark, rows):
    return spark.createDataFrame(
        [
            (
                c,
                int(t * NS),
                float(m),
                float(s),
                float(lo),
                float(hi),
                float(f),
                int(sev),
                int(st),
                int(n),
            )
            for c, t, m, s, lo, hi, f, sev, st, n in rows
        ],
        "channel string, t long, mean double, std double, vmin double,"
        " vmax double, covered_fraction double, severity int, status int,"
        " n_samples long",
    )


def _one(df, t_s):
    rows = df.filter(F.col("t") == t_s * NS).collect()
    assert len(rows) == 1, f"expected 1 row at t={t_s}s, got {len(rows)}"
    return rows[0]


def test_time_weighted_mean_std(spark):
    # weights 10s@10, 20s@20, 30s@40 over [0, 60): mean 28.3333, E[v2] 950
    df = _raw(
        spark,
        [("X", 0, 10, 0, 0), ("X", 10, 20, 1, 6), ("X", 30, 40, 0, 0), ("X", 60, 0, 0, 0)],
    )
    r = _one(decimate(df, 60), 0)
    assert abs(r.mean - 1700.0 / 60.0) < 1e-9
    assert abs(r.std - math.sqrt(950.0 - (1700.0 / 60.0) ** 2)) < 1e-9
    assert r.vmin == 0.0 or r.vmin == 10.0  # terminator not in window 0
    assert r.vmax == 40.0
    assert abs(r.covered_fraction - 1.0) < 1e-12
    assert r.severity == 1 and r.status == 6  # max severity, first-wins


def test_hold_forward_seed_across_windows(spark):
    # sample@30s carries into window [60,120) as its seed (W2)
    df = _raw(spark, [("X", 30, 5, 0, 0), ("X", 90, 7, 0, 0), ("X", 120, 0, 0, 0)])
    out = decimate(df, 60)
    r0 = _one(out, 0)
    assert abs(r0.mean - 5.0) < 1e-12 and abs(r0.covered_fraction - 0.5) < 1e-12
    r1 = _one(out, 60)
    assert abs(r1.mean - 6.0) < 1e-12  # 30s@5 + 30s@7
    assert abs(r1.covered_fraction - 1.0) < 1e-12


def test_gap_fill_whole_windows(spark):
    # silent channel: sample@0 alone fills windows 1..3 entirely (gap loop,
    # `...DecimatedSamplesDecimationLevel.java:959-1147`)
    df = _raw(spark, [("X", 0, 3, 0, 0), ("X", 250, 9, 0, 0), ("X", 300, 0, 0, 0)])
    out = decimate(df, 60)
    for w in (60, 120, 180):
        r = _one(out, w // 60 * 60)
        assert abs(r.mean - 3.0) < 1e-12
        assert abs(r.covered_fraction - 1.0) < 1e-12
    r4 = _one(out, 240)
    assert abs(r4.mean - (10 * 3 + 50 * 9) / 60.0) < 1e-9


def test_incomplete_window_not_emitted(spark):
    # no source sample at/after the window end => interval not closed (W3)
    df = _raw(spark, [("X", 0, 1, 0, 0), ("X", 30, 2, 0, 0)])
    out = decimate(df, 60).collect()
    assert out == []


def test_reaggregate_golden_three_inputs(spark):
    """FIXTURES.md §4 case 2 == `ChannelAccessSampleDecimatorTest` aggregated
    triple: window [100s,200s) -> mean 20.0, std 16.7132, min -64, max 95,
    frac 0.75, severity INVALID propagated."""
    src = _agg(
        spark,
        [
            ("X", 57, 40.0, 5.0, -17.0, 66.0, 1.0, 0, 0, 4),
            ("X", 125, 0.0, 2.0, -64.0, 15.0, 0.5, 3, 17, 2),
            ("X", 175, 20.0, 3.0, 5.0, 95.0, 1.0, 1, 6, 3),
            ("X", 200, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0, 1),
        ],
    )
    r = _one(reaggregate(src, 50, 100), 100)
    assert abs(r.mean - 20.0) < 1e-6
    assert abs(r.std - 16.7132) < 1e-3
    assert r.vmin == -64.0 and r.vmax == 95.0
    assert abs(r.covered_fraction - 0.75) < 1e-6
    assert r.severity == 3 and r.status == 17


def test_reaggregate_single_seed_identity(spark):
    """FIXTURES.md §4 case 1: a single seed aggregate re-emits its own
    values in the covered window (weight correction is a no-op)."""
    src = _agg(
        spark,
        [
            ("X", 79, 22.3, 4.71, -5.0, 99.0, 0.9, 0, 0, 7),
            ("X", 120, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0, 1),
        ],
    )
    r = _one(reaggregate(src, 30, 30 * 1), 90)
    assert abs(r.mean - 22.3) < 1e-6
    assert abs(r.std - 4.71) < 1e-6
    assert r.vmin == -5.0 and r.vmax == 99.0
    assert abs(r.covered_fraction - 0.9) < 1e-6


def test_pick_first_seed_wins(spark):
    # the sample valid at the window start (seed) wins, not the first
    # in-window sample (`PickFirstSampleAggregator.java:50-76`)
    df = spark.createDataFrame(
        [
            ("E", 30 * NS, "seed"),
            ("E", 70 * NS, "later"),
            ("E", 120 * NS, "end"),
        ],
        "channel string, t long, sval string",
    )
    out = pick_first(df, 60)
    assert _one(out, 0).sval == "seed"
    assert _one(out, 60).sval == "seed"  # valid at t=60 boundary


def test_severity_first_max_wins(spark):
    # two samples at max severity: the earlier one's status is reported
    # (`AveragingSampleAggregator.java:133-139`)
    df = _raw(
        spark,
        [
            ("X", 0, 1, 2, 11),
            ("X", 10, 2, 2, 22),
            ("X", 20, 3, 1, 6),
            ("X", 60, 0, 0, 0),
        ],
    )
    r = _one(decimate(df, 60), 0)
    assert r.severity == 2 and r.status == 11


def test_decimate_negative_timestamps_floor_windows(spark):
    """Pre-1970 samples align to FLOOR windows (matching the oracle's
    `//`), not truncation: a sample at t=-5s with 30s windows belongs to
    window start -30s, and its validity over [-5s, 0) weights window -1,
    not window 0."""
    from cassandra_pv_archiver_spark.operators.decimate import NS, decimate

    rows = [
        ("a", -5 * NS, 10.0, 0, 0),
        ("a", 10 * NS, 40.0, 0, 0),
        ("a", 65 * NS, 70.0, 0, 0),  # hwm: closes window [30, 60)
    ]
    df = spark.createDataFrame(
        rows, "channel string, t long, v double, severity int, status int"
    )
    out = {r.t: r for r in decimate(df, 30).collect()}
    # window -30s..0: only the -5s sample, valid [-5, 0) -> 5s of 30
    assert set(out) == {-30 * NS, 0, 30 * NS}
    w_neg = out[-30 * NS]
    assert w_neg.mean == 10.0
    assert abs(w_neg.covered_fraction - 5 / 30) < 1e-12
    # window 0..30: -5s sample holds [0,10), then 40.0 holds [10,30)
    w0 = out[0]
    assert abs(w0.mean - (10.0 * 10 + 40.0 * 20) / 30) < 1e-9
    assert abs(w0.covered_fraction - 1.0) < 1e-12


def _bits(x: float) -> int:
    import struct

    return struct.unpack(">Q", struct.pack(">d", x))[0]


class TestSignedZeroExtrema:
    """VERDICT r7 #9: vmin/vmax over ``{-0.0, +0.0}`` mixtures must be
    deterministic and reference-faithful — the reference accumulates via
    ``Math.min``/``Math.max`` (`AggregatedScalarDoubleAggregator.java:
    100-103`), which prefer ``-0.0`` for min, ``+0.0`` for max, and
    propagate NaN. Spark's native F.min/F.max keep the FIRST of a zero
    tie (partition-order-dependent), the same bug class as the r07
    ``meta.get(k) or 0`` wire failure. Pinned bit-exact against a DuckDB
    oracle leg so both engines agree byte-for-byte."""

    ORACLE = """
        SELECT CASE WHEN bool_or(isnan(v)) THEN 'NaN'::DOUBLE
                    WHEN min(v) = 0 AND bool_or(v = 0 AND signbit(v))
                         THEN -0.0::DOUBLE
                    ELSE min(v) END AS vmin,
               CASE WHEN bool_or(isnan(v)) THEN 'NaN'::DOUBLE
                    WHEN max(v) = 0 AND bool_or(v = 0 AND NOT signbit(v))
                         THEN 0.0::DOUBLE
                    ELSE max(v) END AS vmax
        FROM vals
    """

    @staticmethod
    def _lit(v: float) -> str:
        # explicit SQL literals: a pandas float64 scan would turn NaN
        # into NULL (pandas' null marker), hiding it from isnan()
        if math.isnan(v):
            return "('NaN'::DOUBLE)"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "(-0.0::DOUBLE)"
        return f"({v!r}::DOUBLE)"

    CASES = [
        [-0.0, 0.0],
        [0.0, -0.0],
        [0.0, 0.0, -0.0, 0.0],
        [-0.0, -0.0],
        [0.0, 0.0],
        [3.0, 0.0, -0.0],
        [-1.0, float("nan"), 0.0],
    ]

    def test_decimate_extrema_bit_exact_both_engines(self, spark):
        import duckdb

        for vals in self.CASES:
            rows = [("a", 60 + 60 * i, v, 0, 0) for i, v in enumerate(vals)]
            rows.append(("a", 7300, 9.0, 0, 0))  # hwm past the window
            got = (
                decimate(_raw(spark, rows), 3600)
                .orderBy("t").select("vmin", "vmax").collect()[0]
            )
            lits = ", ".join(self._lit(v) for v in vals)
            want = duckdb.sql(
                f"WITH vals(v) AS (VALUES {lits}) {self.ORACLE}"
            ).fetchone()
            assert _bits(got.vmin) == _bits(want[0]), (vals, got.vmin)
            assert _bits(got.vmax) == _bits(want[1]), (vals, got.vmax)

    def test_decimate_extrema_order_insensitive(self, spark):
        """Both encounter orders of a zero tie give the same bits — the
        property Spark's native min/max lacks."""
        for vals in ([-0.0, 0.0], [0.0, -0.0]):
            rows = [("a", 60 + 60 * i, v, 0, 0) for i, v in enumerate(vals)]
            rows.append(("a", 7300, 9.0, 0, 0))
            got = (
                decimate(_raw(spark, rows), 3600)
                .orderBy("t").select("vmin", "vmax").collect()[0]
            )
            assert _bits(got.vmin) == _bits(-0.0)
            assert _bits(got.vmax) == _bits(0.0)

    def test_cascade_extrema_signed_zero(self, spark):
        """Re-aggregation recombines source vmin/vmax with the same
        Math.min/Math.max tie behavior."""
        rows = [
            ("a", 0, 0.0, 0.0, -0.0, -0.0, 1.0, 0, 0, 2),
            ("a", 3600, 0.0, 0.0, 0.0, 0.0, 1.0, 0, 0, 2),
            ("a", 7 * 3600, 1.0, 0.0, 1.0, 1.0, 1.0, 0, 0, 2),
        ]
        got = (
            reaggregate(_agg(spark, rows), 3600, 6 * 3600)
            .orderBy("t").select("vmin", "vmax").collect()[0]
        )
        assert _bits(got.vmin) == _bits(-0.0)
        assert _bits(got.vmax) == _bits(0.0)

    def test_nan_propagates_like_java_math(self, spark):
        """Math.min(x, NaN) = NaN = Math.max(x, NaN); Spark's native min
        would return x (NaN sorts largest)."""
        rows = [("a", 60, -1.0, 0, 0), ("a", 120, float("nan"), 0, 0),
                ("a", 7300, 9.0, 0, 0)]
        got = (
            decimate(_raw(spark, rows), 3600)
            .orderBy("t").select("vmin", "vmax").collect()[0]
        )
        assert math.isnan(got.vmin) and math.isnan(got.vmax)


class TestNonFiniteValues:
    """Windows holding NaN/±Infinity samples must reproduce the Java
    double-sum outcome (`ScalarDoubleAggregator.java:61-85` accumulates
    in primitive doubles): the integer grid the moment sums run on
    cannot carry non-finite values, so these come from the post-aggregate
    flag override."""

    def test_nan_poisons_mean_and_std(self, spark):
        rows = [("a", 60, -1.0, 0, 0), ("a", 120, float("nan"), 0, 0),
                ("a", 7300, 9.0, 0, 0)]
        got = decimate(_raw(spark, rows), 3600).orderBy("t").collect()[0]
        assert math.isnan(got.mean) and math.isnan(got.std)

    def test_pos_inf_mean_inf_std_nan(self, spark):
        rows = [("a", 60, 1.0, 0, 0), ("a", 120, float("inf"), 0, 0),
                ("a", 7300, 9.0, 0, 0)]
        got = decimate(_raw(spark, rows), 3600).orderBy("t").collect()[0]
        assert got.mean == float("inf")
        assert math.isnan(got.std)  # var = inf - inf
        assert got.vmax == float("inf")
        assert got.vmin == 1.0  # Math.min(finite, +inf) keeps the finite

    def test_mixed_inf_mean_nan(self, spark):
        rows = [("a", 60, float("-inf"), 0, 0),
                ("a", 120, float("inf"), 0, 0),
                ("a", 7300, 9.0, 0, 0)]
        got = decimate(_raw(spark, rows), 3600).orderBy("t").collect()[0]
        assert math.isnan(got.mean) and math.isnan(got.std)
        assert got.vmin == float("-inf") and got.vmax == float("inf")

    def test_finite_windows_unchanged(self, spark):
        # the zeroed-grid guard must not touch all-finite windows
        rows = [("a", 0, 10.0, 0, 0), ("a", 10, 20.0, 1, 6),
                ("a", 30, 40.0, 0, 0), ("a", 60, 0.0, 0, 0)]
        r = _one(decimate(_raw(spark, rows), 60), 0)
        assert abs(r.mean - 1700.0 / 60.0) < 1e-9

    def test_reaggregate_large_mean_no_overflow(self, spark):
        """_m*_m in raw BIGINT overflowed (ANSI abort) at |mean| >= ~3e5
        with input_scale=4; the DECIMAL squares must survive a 1e6-mean
        counter PV and recombine exactly."""
        rows = [
            ("a", 0, 4.0e5, 10.0, 3.9e5, 4.1e5, 1.0, 0, 0, 5),
            ("a", 3600, 1.0e6, 20.0, 9.9e5, 1.1e6, 1.0, 1, 6, 5),
            ("a", 6 * 3600, 1.0, 0.0, 1.0, 1.0, 1.0, 0, 0, 1),
        ]
        got = (
            reaggregate(_agg(spark, rows), 3600, 6 * 3600)
            .orderBy("t").collect()[0]
        )
        # first source held [0, 3600), second held [3600, 6h)
        w1, w2 = 3600.0, 5 * 3600.0
        want_mean = (w1 * 4.0e5 + w2 * 1.0e6) / (w1 + w2)
        assert abs(got.mean - want_mean) / want_mean < 1e-9
        e2 = (w1 * (10.0**2 + 1.6e11) + w2 * (20.0**2 + 1.0e12)) / (w1 + w2)
        want_std = math.sqrt(e2 - want_mean**2)
        assert abs(got.std - want_std) / want_std < 1e-6

    def test_reaggregate_nan_source_mean(self, spark):
        rows = [
            ("a", 0, float("nan"), float("nan"), float("nan"), float("nan"),
             1.0, 0, 0, 2),
            ("a", 3600, 5.0, 1.0, 4.0, 6.0, 1.0, 0, 0, 2),
            ("a", 6 * 3600, 1.0, 0.0, 1.0, 1.0, 1.0, 0, 0, 1),
        ]
        got = (
            reaggregate(_agg(spark, rows), 3600, 6 * 3600)
            .orderBy("t").collect()[0]
        )
        assert math.isnan(got.mean) and math.isnan(got.std)

    def test_reaggregate_inf_source_std_only(self, spark):
        # finite means, one +inf std: meanSum finite, m2Sum = +inf
        # -> var = +inf -> std = +inf (Java Math.sqrt(inf))
        rows = [
            ("a", 0, 2.0, float("inf"), 1.0, 3.0, 1.0, 0, 0, 2),
            ("a", 3600, 4.0, 1.0, 3.0, 5.0, 1.0, 0, 0, 2),
            ("a", 6 * 3600, 1.0, 0.0, 1.0, 1.0, 1.0, 0, 0, 1),
        ]
        got = (
            reaggregate(_agg(spark, rows), 3600, 6 * 3600)
            .orderBy("t").collect()[0]
        )
        w1, w2 = 3600.0, 5 * 3600.0
        want_mean = (w1 * 2.0 + w2 * 4.0) / (w1 + w2)
        assert abs(got.mean - want_mean) < 1e-9
        assert got.std == float("inf")


# -- the exact-sum -> double kernel ---------------------------------------
_KERNEL_VALUES = [0] + [
    s * x
    for x in (
        1, 2**53 - 1, 2**53, 2**53 + 1, 2**63 - 2, 2**63 - 1, 2**63,
        2**64 + 3, 10**37 + 7,
    )
    for s in (1, -1)
]


def _decomposed(col: str) -> str:
    """``big_to_double`` without its fast path: sign x (hi·2^64 +
    mid·2^32 + lo), every value through BigDecimal div/mod."""
    a = f"abs({col})"
    return (
        f"((CASE WHEN {col} < 0 THEN -1.0 ELSE 1.0 END) * ("
        f"CAST({a} div 18446744073709551616 AS DOUBLE)"
        " * 18446744073709551616.0 + "
        f"CAST(({a} % 18446744073709551616) div 4294967296 AS DOUBLE)"
        " * 4294967296.0 + "
        f"CAST({a} % 4294967296 AS DOUBLE)))"
    )


def test_big_to_double_fast_path_is_bit_identical(spark):
    """The fast path, the full decomposition and the DuckDB mirror give
    the same double, bit for bit, on both sides of 2^53 and 2^63; below
    2^63 - 1 that double is the correctly rounded one."""
    import struct
    from decimal import Decimal

    import duckdb

    from cassandra_pv_archiver_spark.operators.decimate import (
        big_to_double,
        big_to_double_duck,
    )

    def bits(x: float) -> bytes:
        return struct.pack("<d", x)

    df = spark.createDataFrame(
        [(i, Decimal(x)) for i, x in enumerate(_KERNEL_VALUES)],
        "i int, x decimal(38,0)",
    )
    got = df.selectExpr(
        "i", f"{big_to_double('x')} AS fast", f"{_decomposed('x')} AS old"
    ).orderBy("i").collect()
    con = duckdb.connect()
    try:
        duck = [
            con.execute(
                f"SELECT {big_to_double_duck('x')}"
                " FROM (SELECT CAST(? AS HUGEINT) AS x)",
                [str(x)],
            ).fetchone()[0]
            for x in _KERNEL_VALUES
        ]
    finally:
        con.close()
    for x, r, d in zip(_KERNEL_VALUES, got, duck):
        assert bits(r.fast) == bits(r.old) == bits(d), x
        if abs(x) < 2**63 - 1:
            assert bits(r.fast) == bits(float(x)), x


def _conversions(df) -> dict:
    """Sum name -> how many times the optimized plan converts it to a
    double (each conversion holds exactly one ``abs(sum) % 2^32``)."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return dict(Counter(re.findall(r"abs\((\w+)#\d+\) % 4294967296\)", plan)))


def test_kernels_convert_each_exact_sum_once(spark):
    """The optimized plans convert each DECIMAL sum to a double exactly
    once per output row: 2 in decimate, 3 in reaggregate. Inlined into
    the final CASE branches (where subexpression elimination does not
    reach) decimate would convert ``_swv`` 3 times and reaggregate
    ``_sw`` 5 times."""
    raw = _raw(spark, [("a", 0, 1.5, 0, 0), ("a", 7, 2.25, 0, 0)])
    agg = _agg(spark, [("a", 0, 1.5, 0.5, 1.0, 2.0, 1.0, 0, 0, 2)])
    assert _conversions(decimate(raw, 30)) == {"_swv": 1, "_swv2": 1}
    assert _conversions(reaggregate(agg, 30, 900)) == {
        "_sw": 1, "_swm": 1, "_swm2": 1,
    }
