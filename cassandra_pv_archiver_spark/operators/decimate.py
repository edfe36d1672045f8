"""Time-weighted (hold-forward) decimation — the semantic core of the engine.

Reference contract (`SampleDecimator.java:36-113`,
`AbstractStatefulSampleDecimator.java:74-92`): for each epoch-aligned target
interval ``[start, start+period)`` the decimator sees one seed sample with
``t <= start`` plus every in-interval sample, each valid from
``max(t, start)`` until the next sample's ``t`` (or interval end) — a
step-function / last-observation-carried-forward integral, not an arithmetic
mean of points. Output is stamped ``t = start`` and represents the period
*after* its timestamp.

Spark-first formulation (SURVEY.md §7.2): instead of the reference's
sample-at-a-time state machine (`ArchivedChannelDecimatedSamplesDecimationLevel
.java:840-1174`), we compute each sample's validity interval ``[t, t_next)``
with one ``lead`` window, **split it at window boundaries** with
``sequence``+``explode``, and run a plain ``groupBy`` aggregation. Seeding
(W2) and gap filling fall out of the splitting: a sample whose validity spans
k windows contributes a weighted row to each. Everything stays JVM-side in
whole-stage codegen — no Python in the hot path.

Scale notes (100 TB): the only shuffle is the per-channel sort for ``lead``
plus the groupBy — both hash-partition on ``channel``, so with the archive
store partitioned by channel the exchange is one-time and reusable. Partial
aggregation (map-side combine) applies to all the sums. A channel silent for
a long gap explodes into one row per covered window — bounded by
``retention/period``, same as the reference's own gap-fill loop
(`...DecimatedSamplesDecimationLevel.java:959-1147`); ``max_gap_windows``
optionally clips pathological gaps.

All timestamps are int64 nanoseconds; window arithmetic uses integer ``div``
(never double division — ns values exceed 2^53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NS = 1_000_000_000

#: 2^32 / 2^64 — bases for the exact big-integer -> double decomposition
_B32 = 4294967296
_B64 = 18446744073709551616


def big_to_double(col: str) -> str:
    """SQL expr converting an exact big integer (DECIMAL(38,0)/long) to
    double via sign × (hi·2^64 + mid·2^32 + lo).

    Why not a plain CAST: Spark's Decimal→double is correctly rounded
    (BigDecimal), DuckDB's HUGEINT→double is not (it recombines 64-bit
    halves in floating point) — casts of sums beyond 2^53 disagree by a few
    ulps between engines. This decomposition uses only exact < 2^53 integer
    casts plus IEEE mul/add in a fixed order, so *both* engines produce the
    bit-identical double (good to ~2^117).  The DuckDB mirror is
    :func:`big_to_double_duck` — same ops, `//` for integral division.

    Fast path: ``abs(x) < 2^63 - 1`` takes ``CAST(CAST(x AS BIGINT) AS
    DOUBLE)``, skipping the four BigDecimal div/mod ops. It is
    bit-identical to the decomposition there: hi is 0, so the hi term is
    0.0, ``mid·2^32`` (mid < 2^31) and ``lo`` (< 2^32) are exact doubles,
    and their IEEE sum rounds the exact ``|x|`` once to nearest-even —
    as Java's long→double conversion does, symmetrically in sign."""
    a = f"abs({col})"
    return (
        f"(CASE WHEN {a} < 9223372036854775807"
        f" THEN CAST(CAST({col} AS BIGINT) AS DOUBLE)"
        f" ELSE (CASE WHEN {col} < 0 THEN -1.0 ELSE 1.0 END) * ("
        f"CAST({a} div {_B64} AS DOUBLE) * {_B64}.0 + "
        f"CAST(({a} % {_B64}) div {_B32} AS DOUBLE) * {_B32}.0 + "
        f"CAST({a} % {_B32} AS DOUBLE)) END)"
    )


def big_to_double_duck(col: str) -> str:
    """DuckDB dialect of :func:`big_to_double` (hugeint `//`)."""
    a = f"abs({col})"
    return (
        f"((CASE WHEN {col} < 0 THEN -1.0 ELSE 1.0 END) * ("
        f"CAST({a} // {_B64} AS DOUBLE) * {_B64}.0 + "
        f"CAST(({a} % {_B64}) // {_B32} AS DOUBLE) * {_B32}.0 + "
        f"CAST({a} % {_B32} AS DOUBLE)))"
    )

#: numeric types the averaging aggregators handle
#: (`ChannelAccessSampleType.java`: the 5 scalar numeric types + their
#: aggregated forms)
AGGREGATABLE_TYPES = (
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

#: value-less quality markers (`ChannelAccessSampleType.java:85-93`)
MARKER_TYPES = ("disabled", "disconnected")


def _lead_hwm_range_partitioned(
    df: DataFrame, key: str, t: str
) -> DataFrame:
    """Skew-proof ``_t_next``/``_hwm``: the escalation path for a channel
    so hot that the default per-channel window (one task per channel)
    becomes the wall-clock floor (PERF.md "hot-channel skew").

    Construction — the standard range-split lead with boundary fix-up:

    1. slice on ``t``: quantile boundaries of the timestamp column (one
       bounded probe job over the t column only) give each row a
       deterministic slice id ``_pid`` — a hot channel SPLITS across the
       (key, _pid) window tasks (per-task work is bounded by slice
       population, not channel size);
    2. ``lead`` inside each (slice, key) window — the window partition
       is now at most one time slice, never one whole channel;
    3. per-(slice, key) first timestamps form a tiny boundary table; a
       ``lead`` over it (per key, by slice id) yields each slice's
       successor timestamp, broadcast-joined back to close the seams;
    4. ``_hwm`` comes from a partial-aggregated groupBy (skew-safe by
       map-side combine) instead of an unbounded-frame window.

    Why the slice id is computed from the DATA and not
    ``spark_partition_id()`` over a ``repartitionByRange`` (the pre-r11
    construction): this subtree is evaluated twice (the window branch
    and the boundary-table branch), column pruning specializes the two
    range exchanges so ``ReuseExchange`` cannot dedupe them, and range
    boundary *sampling* is seeded by the RDD id — two independent
    evaluations could disagree on row⟶partition placement, silently
    dropping/mis-seaming boundary rows (caught by the AQE-off runs in
    tests/test_skew.py; AQE's stage reuse had masked it). A quantile
    bucket of ``t`` is a pure function of the row: every evaluation
    agrees bit-for-bit, and correctness needs only *some* fixed
    boundary list — balance is the only thing the probe's accuracy
    affects. This also removes the range exchange outright (guide
    §2.4): distribution happens in the (``_pid``, key) window shuffle.

    Exactly equal to the single-window formulation (property-pinned in
    tests/test_skew.py); costs a probe job + a broadcast, so it is
    OPT-IN via ``skew_safe=True`` — the default plan is right for the
    channel-balanced archive."""
    # cores-derived, like the dedup module's verify repartitions: the
    # per-task bound on a hot channel is n/n_slices, and session.py cuts
    # shuffle.partitions to cpus//4 for dispatch cost — deriving the
    # slice count from THAT would weaken the skew bound 4x (r11 review)
    n_slices = df.sparkSession.sparkContext.defaultParallelism
    probs = [i / n_slices for i in range(1, n_slices)]
    cuts = sorted(set(df.stat.approxQuantile(t, probs, 0.01))) if probs else []
    if cuts:
        arr = "array(" + ", ".join(f"{c!r}L" for c in map(int, cuts)) + ")"
        pid = F.expr(
            f"aggregate({arr}, 0, (acc, b) -> acc + IF({t} >= b, 1, 0))"
        )
    else:  # degenerate input (empty / single slice): one slice
        pid = F.lit(0)
    d = df.withColumn("_pid", pid)
    w_in = Window.partitionBy("_pid", key).orderBy(t)
    d = d.withColumn("_t_next_local", F.lead(t).over(w_in))
    bounds = d.groupBy("_pid", key).agg(F.min(t).alias("_first_t"))
    wb = Window.partitionBy(key).orderBy("_pid")
    bounds = bounds.withColumn(
        "_next_first", F.lead("_first_t").over(wb)
    ).select("_pid", key, "_next_first")
    hwm = df.groupBy(key).agg(F.max(t).alias("_hwm"))
    return (
        d.join(F.broadcast(bounds), ["_pid", key], "left")
        .join(F.broadcast(hwm), [key])
        .withColumn("_t_next", F.coalesce("_t_next_local", "_next_first"))
        .drop("_pid", "_t_next_local", "_next_first")
    )


#: hot-key share above which ``skew_safe="auto"`` takes the
#: range-partitioned plan. PERF.md's measured crossover: at 50 % hot the
#: default single-exchange plan still wins (0.93 s vs 1.62 s), at 95 %
#: hot skew_safe wins by 31 % (1.99 s vs 2.90 s) — 0.9 sits just under
#: the measured win, biased toward the default plan that is right for
#: every channel-balanced archive.
AUTO_SKEW_SHARE = 0.9

#: sampling fraction for the auto probe (key column only — a pruned
#: scan, cheap relative to the decimation it protects)
_AUTO_PROBE_FRACTION = 0.05


def hot_key_share(df: DataFrame, key: str, fraction: float | None = None) -> float:
    """Estimated share of rows held by the hottest key — the
    ``max_key_share`` statistic of :func:`stats.key_skew_report`,
    computed on a deterministic sample of the key column so the
    pre-flight costs a pruned 5 % scan, not a full pass. Drives
    ``skew_safe="auto"``; run key_skew_report itself for the exact
    offline diagnostic."""
    from .stats import key_skew_report

    probe = df.select(key)
    if fraction is None:
        fraction = _AUTO_PROBE_FRACTION
    if fraction < 1.0:
        probe = probe.sample(fraction=fraction, seed=7)
    row = key_skew_report(probe, key).select("max_key_share").first()
    return float(row["max_key_share"]) if row is not None else 0.0


def _resolve_skew_safe(
    skew_safe: bool | str, df: DataFrame, key: str
) -> bool:
    """``"auto"``: measure, then decide — the hot-channel case
    self-protects without anyone remembering a flag (the probe runs one
    small eager job at plan-build time; both plans produce identical
    rows, so the choice never affects results)."""
    if skew_safe == "auto":
        return hot_key_share(df, key) >= AUTO_SKEW_SHARE
    return bool(skew_safe)


def explode_validity_windows(
    df: DataFrame,
    period_ns: int,
    key: str = "channel",
    t: str = "t",
    max_gap_windows: int | None = None,
    skew_safe: bool | str = False,
) -> DataFrame:
    """Assign each sample its hold-forward validity, split at window bounds.

    Adds columns:
      ``win``  — window index (``window_start_ns = win * period_ns``)
      ``ws``   — validity seconds inside that window (double, > 0)
      ``clip`` — validity start inside the window (ns; == window start for
                 the seed sample)

    Only *complete* windows are kept: ``(win+1)*period <= hwm`` where ``hwm``
    is the channel's newest timestamp — mirroring the reference, which emits
    an interval only once a source sample at/after its end exists
    (`...DecimatedSamplesDecimationLevel.java:890-927`).

    ``skew_safe=True`` swaps the per-channel lead/hwm windows for the
    range-partitioned construction (:func:`_lead_hwm_range_partitioned`)
    — same result, bounded per-task cost under a pathological hot channel.
    """
    if _resolve_skew_safe(skew_safe, df, key):
        d = (
            _lead_hwm_range_partitioned(df, key, t)
            .selectExpr("*", "coalesce(_t_next, _hwm) AS _t_end")
            .drop("_t_next")
        )
    else:
        # one Project carries both window exprs (same partition spec ->
        # one Window operator); _t_next is only ever read through the
        # coalesce, so it is inlined away
        d = df.selectExpr(
            "*",
            f"coalesce(lead({t}) OVER (PARTITION BY {key} ORDER BY {t}),"
            f" max({t}) OVER (PARTITION BY {key})) AS _t_end",
            f"max({t}) OVER (PARTITION BY {key}) AS _hwm",
        )
    d = d.filter(f"_t_end > {t}")
    # FLOOR window index, not truncation: `x div p` truncates toward zero,
    # which mis-assigns pre-1970 (negative ns) samples by one window (a
    # sample at -5s belongs to window [-30s, 0s)); subtracting pmod first
    # makes the numerator an exact multiple, where div == floor for any
    # sign. (The testdata oracles keep `//` — DuckDB's integer `//` also
    # truncates — which agrees on the t >= 0 domain they run on.)
    win_lo = f"(({t} - pmod({t}, {period_ns})) div {period_ns})"
    win_hi = f"(((_t_end - 1) - pmod(_t_end - 1, {period_ns})) div {period_ns})"
    if max_gap_windows is not None:
        win_hi = f"least({win_hi}, {win_lo} + {int(max_gap_windows)})"
    clip = f"greatest({t}, win * {period_ns})"
    ws_ns = f"(least(_t_end, (win + 1) * {period_ns}) - {clip})"
    return (
        d.selectExpr("*", f"explode(sequence({win_lo}, {win_hi})) AS win")
        .filter(f"(win + 1) * {period_ns} <= _hwm")
        .selectExpr(
            "*",
            f"{clip} AS clip",
            f"{ws_ns} AS ws_ns",
            f"{ws_ns} / CAST({NS} AS DOUBLE) AS ws",
        )
        .drop("_hwm", "_t_end")
    )


def _severity_agg():
    """A2: severity/status of the first sample attaining the max severity
    (`AveragingSampleAggregator.java:114-141`). Processing order is time
    order, so 'first' == smallest t among max-severity rows."""
    return F.expr(
        "max_by(named_struct('severity', severity, 'status', status),"
        " named_struct('sev', severity, 'negt', -t)) AS _sevpick"
    )


def _extrema_aggs(vmin_src: str, vmax_src: str) -> list:
    """Aggregate legs for Math.min/Math.max-faithful extrema
    (`AggregatedScalarDoubleAggregator.java:100-103`). Native
    ``min``/``max`` keep the FIRST of a ``{-0.0, +0.0}`` tie —
    encounter-order-dependent, i.e. nondeterministic under shuffle
    partitioning — and Spark's min sorts NaN largest while Java's
    ``Math.min`` propagates it. The zero-sign probe is a string cast
    (Java ``Double.toString(-0.0)`` keeps the sign): a division probe
    trips ANSI DIVIDE_BY_ZERO and Spark's ``atan2`` normalizes ``-0.0``
    operands away (it adds ``+0.0`` to both). The conjunction
    short-circuits in codegen, so the cast only ever runs on
    zero-valued rows; the boolean legs are map-side combinable.
    (Single-string F.expr legs: plan-construction cost — r11.)"""
    mn, mx = vmin_src, vmax_src
    return [
        F.expr(f"min({mn}) AS _vmin0"),
        F.expr(f"max({mx}) AS _vmax0"),
        F.expr(f"max(isnan({mn})) AS _has_nan"),
        F.expr(
            f"max(({mn} = 0.0D) AND"
            f" startswith(CAST({mn} AS STRING), '-')) AS _has_nz"
        ),
        F.expr(
            f"max(({mx} = 0.0D) AND NOT"
            f" startswith(CAST({mx} AS STRING), '-')) AS _has_pz"
        ),
    ]




def _inf_flag_aggs(col: str, tag: str) -> list:
    """±Infinity presence flags for one source column (NaN presence rides
    `_extrema_aggs`/its own `isnan` leg). The integer grid the moment
    sums run on cannot carry non-finite values — ``CAST(floor(NaN*s+0.5)
    AS BIGINT)`` silently yields 0 and ±Infinity saturates — so windows
    containing one are detected here and their mean/std overridden
    post-aggregate with the exact outcome Java's double sums produce
    (`ScalarDoubleAggregator.java:61-85` accumulates in primitive
    doubles: NaN poisons both sums; +inf/-inf dominate the mean sum and
    turn the variance into inf-inf = NaN)."""
    return [
        F.expr(f"max({col} = double('inf')) AS _pi_{tag}"),
        F.expr(f"max({col} = double('-inf')) AS _ni_{tag}"),
    ]


def _nonfinite_mean_sql(grid_mean: str, nan_flag: str, pi_flag: str,
                        ni_flag: str) -> str:
    """Java double-sum outcome for the weighted mean when the window holds
    non-finite values; grid result otherwise (SQL-text form)."""
    return (
        f"CASE WHEN {nan_flag} THEN double('NaN')"
        f" WHEN {pi_flag} AND {ni_flag} THEN double('NaN')"
        f" WHEN {pi_flag} THEN double('inf')"
        f" WHEN {ni_flag} THEN double('-inf')"
        f" ELSE {grid_mean} END"
    )


#: SQL text of the post-aggregate extrema corrections (see
#: :func:`_extrema_cols`) — importable where the correction must embed
#: inside a larger expression (decimate_mixed's per-type struct)
VMIN_SQL = (
    "CASE WHEN _has_nan THEN double('NaN')"
    " WHEN _vmin0 = 0.0D AND _has_nz THEN -0.0D"
    " ELSE _vmin0 END"
)
VMAX_SQL = (
    "CASE WHEN _vmax0 = 0.0D AND _has_pz THEN 0.0D ELSE _vmax0 END"
)


def _extrema_cols() -> tuple:
    """Post-aggregate corrections for :func:`_extrema_aggs`: min prefers
    ``-0.0`` on a zero tie and propagates NaN; max prefers ``+0.0`` (its
    NaN propagation is native — Spark sorts NaN largest)."""
    return F.expr(f"{VMIN_SQL} AS vmin"), F.expr(f"{VMAX_SQL} AS vmax")


def decimate(
    df: DataFrame,
    period_s: int,
    key: str = "channel",
    round_to: int | None = None,
    v_decimals: int = 2,
    max_gap_windows: int | None = None,
    skew_safe: bool | str = False,
) -> DataFrame:
    """Raw numeric samples -> aggregated samples at ``period_s``.

    ``skew_safe=True``: range-partitioned validity windows (see
    :func:`explode_validity_windows`) for corpora with a pathological hot
    channel — identical output, bounded per-task cost.

    Input columns: ``channel, t, v, severity, status`` (one numeric scalar
    series per channel; strictly increasing t).
    Output: ``channel, t (=interval start), mean, std, vmin, vmax,
    covered_fraction, severity, status, n_samples`` — the aggregated-scalar
    payload of `ChannelAccessSampleValueAccess.java:165-176`, math per
    `ScalarDoubleAggregator.java:61-85`:
      mean = Σ(w·v)/Σw ;  std = sqrt(max(Σ(w·v²)/Σw − mean², 0))
      min/max = plain extrema ;  covered_fraction = Σw / period.

    Determinism strategy (matters for the cross-engine value-hash check):
    values carry ``v_decimals`` decimals, so ``floor(v·10^d + 0.5)`` recovers
    an exact integer; weights are exact int64 nanoseconds. All sums are then
    exact integer/decimal arithmetic — order-insensitive — and the final
    double divisions are bit-identical on any IEEE engine, so outputs are
    left **unrounded** by default: rounding exact-rational quotients can land
    precisely on decimal ties, where engines' rounding implementations
    (BigDecimal exact expansion vs scaled-multiply) legitimately disagree.
    """
    period_ns = period_s * NS
    d = explode_validity_windows(
        df, period_ns, key=key, max_gap_windows=max_gap_windows,
        skew_safe=skew_safe,
    )
    vs = 10 ** v_decimals
    # non-finite v is ZEROED on the grid (NaN casts to 0 anyway; ±inf
    # saturates to ±Long.MAX whose square overflows the DECIMAL(38,0)
    # moment sum and aborts under ANSI) — the window's mean/std are
    # overridden post-aggregate from the non-finite flags instead
    d = d.selectExpr("*", (
        f"CAST(floor((CASE WHEN isnan(v) OR abs(v) = double('inf')"
        f" THEN 0.0d ELSE v END) * {vs} + 0.5) AS BIGINT) AS _vi"
    ))

    def _r(e: str) -> str:
        return e if round_to is None else f"round({e}, {int(round_to)})"

    # exact integer sums first; the >2^53 moment sums go to double via the
    # big_to_double decomposition so any IEEE engine lands the same bits
    g = d.groupBy(key, "win").agg(
        F.expr("sum(ws_ns) AS _sw"),  # ≤ period_ns: exact in int64/double
        F.expr("sum(CAST(ws_ns AS DECIMAL(38,0)) * _vi) AS _swv"),
        F.expr("sum(CAST(ws_ns AS DECIMAL(38,0)) * _vi * _vi) AS _swv2"),
        *_extrema_aggs("v", "v"),
        *_inf_flag_aggs("v", "v"),
        _severity_agg(),
        F.expr("count(1) AS n_samples"),
    )
    swd = "CAST(_sw AS DOUBLE)"
    # each sum converts ONCE per row, in its own Project: inlined into
    # the CASE branches below, subexpression elimination cannot reach
    # it and _swv would be decomposed three times
    g = g.selectExpr(
        "*",
        f"({big_to_double('_swv')} / {swd} / CAST({vs} AS DOUBLE))"
        " AS _gmean",
        f"{big_to_double('_swv2')} AS _dwv2",
    )
    grid_var = (
        f"(_dwv2 / {swd} / CAST({vs * vs} AS DOUBLE) - _gmean * _gmean)"
    )
    grid_std = f"sqrt(greatest({grid_var}, 0.0D))"
    # non-finite windows: the integer grid saw garbage (NaN->0), so
    # replace with the Java double-sum outcome (_inf_flag_aggs doc);
    # any non-finite v makes the variance inf-inf or NaN -> std is NaN
    mean = _nonfinite_mean_sql("_gmean", "_has_nan", "_pi_v", "_ni_v")
    std = (
        "CASE WHEN _has_nan OR _pi_v OR _ni_v THEN double('NaN')"
        f" ELSE {grid_std} END"
    )
    frac = f"({swd} / 1.0E9 / CAST({period_s} AS DOUBLE))"
    vmin, vmax = _extrema_cols()
    return g.select(
        F.col(key),
        F.expr(f"win * {period_ns} AS t"),
        F.expr(f"{_r(mean)} AS mean"),
        F.expr(f"{_r(std)} AS std"),
        vmin,
        vmax,
        F.expr(f"{_r(frac)} AS covered_fraction"),
        F.expr("_sevpick.severity AS severity"),
        F.expr("_sevpick.status AS status"),
        F.col("n_samples"),
        F.expr("'Interpolated' AS quality"),
    )


def reaggregate(
    df: DataFrame,
    source_period_s: int,
    target_period_s: int,
    key: str = "channel",
    input_scale: int = 4,
    round_to: int | None = None,
    max_gap_windows: int | None = None,
    skew_safe: bool | str = False,
) -> DataFrame:
    """A4: aggregated samples -> coarser aggregated samples (cascade).

    Algebraic recombination per `AggregatedScalarDoubleAggregator.java:62-109`:
    each source aggregate is held forward like a raw sample, but its weight is
    scaled by its own covered fraction (weight correction `:74-85`); variance
    recombines via Σw·(std²+mean²).  Input = output schema of :func:`decimate`.

    Exact-integer formulation (see :func:`decimate` determinism notes): the
    source mean/std/covered_fraction are quantized to ``input_scale`` digits
    (``floor(x·10^r + 0.5)`` on identical doubles gives identical integers on
    any IEEE engine), weights are int64 ns × integer frac — so every sum is
    exact and order-free, and the final double divisions are bit-identical
    across engines; outputs are left unrounded by default.

    Magnitude envelope: the second-moment sum is DECIMAL(38,0), so it
    requires ``target_period_ns · 10^r · (max(|mean|, std) · 10^r)^2
    < 1e38`` — with the default r=4 that is |mean|, std ≤ ~2.1e6 for a
    6 h target (~1.1e6 for 1 d); beyond it the job fails loudly under
    ANSI (never silently) — lower ``input_scale`` for larger-magnitude
    channels. (Raw BIGINT squares, the pre-round-8 formulation, aborted
    at ~3.0e5 already.)
    """
    if target_period_s % source_period_s != 0:
        raise ValueError(
            "cascade requires the source period to be a proper divisor of the"
            f" target ({source_period_s} !| {target_period_s});"
            " cf. ArchivedChannel.java:766-793"
        )
    period_ns = target_period_s * NS
    d = explode_validity_windows(df, period_ns, key=key,
                                 max_gap_windows=max_gap_windows,
                                 skew_safe=skew_safe)
    rs = 10 ** input_scale
    # same non-finite zeroing as decimate's _vi (±inf saturates to
    # ±Long.MAX and overflows the decimal sums under ANSI); the
    # post-aggregate flag override supplies the Java outcome
    def _fin(col: str) -> str:
        return (
            f"(CASE WHEN isnan({col}) OR abs({col}) = double('inf')"
            f" THEN 0.0d ELSE {col} END)"
        )

    d = d.selectExpr(
        "*",
        f"CAST(floor({_fin('mean')} * {rs} + 0.5) AS BIGINT) AS _m",
        f"CAST(floor({_fin('std')} * {rs} + 0.5) AS BIGINT) AS _s",
        f"CAST(floor(covered_fraction * {rs} + 0.5) AS BIGINT) AS _f",
    ).selectExpr("*", "CAST(ws_ns AS DECIMAL(38,0)) * _f AS _w")

    def _r(e: str) -> str:
        return e if round_to is None else f"round({e}, {int(round_to)})"

    # the squares go through DECIMAL(38,0) like decimate's moment sums:
    # _s*_s in raw BIGINT overflows (and under ANSI aborts the job) at
    # |mean| or std >= ~3.04e5 with the default input_scale — legitimate
    # magnitudes for counter/frequency PVs
    md = "CAST(_m AS DECIMAL(38,0))"
    sd_ = "CAST(_s AS DECIMAL(38,0))"
    g = d.groupBy(key, "win").agg(
        F.expr("sum(_w) AS _sw"),
        F.expr(f"sum(_w * {md}) AS _swm"),
        F.expr(f"sum(_w * ({sd_} * {sd_} + {md} * {md})) AS _swm2"),
        *_extrema_aggs("vmin", "vmax"),
        *_inf_flag_aggs("mean", "m"),
        F.expr("max(isnan(mean)) AS _nan_m"),
        F.expr("max(isnan(std)) AS _nan_s"),
        F.expr("max(std = double('inf')) AS _pi_s"),
        _severity_agg(),
        F.expr("sum(n_samples) AS n_samples"),
    )
    # every one of these sums can exceed 2^53 (weights carry the frac
    # scale); each converts once per row, as in decimate
    g = g.selectExpr(
        "*",
        f"{big_to_double('_sw')} AS _dw",
        f"{big_to_double('_swm')} AS _dwm",
        f"{big_to_double('_swm2')} AS _dwm2",
    ).selectExpr("*", f"(_dwm / _dw / CAST({rs} AS DOUBLE)) AS _gmean")
    grid_var = (
        f"(_dwm2 / _dw / CAST({rs * rs} AS DOUBLE) - _gmean * _gmean)"
    )
    grid_std = f"sqrt(greatest({grid_var}, 0.0D))"
    # non-finite source aggregates (see _inf_flag_aggs): the mean sum only
    # sees source MEANS (a NaN std leaves it finite); the m2 sum sees
    # std^2 + mean^2, so a NaN in either poisons it, an infinite mean
    # makes var = inf - inf = NaN, and an infinite std alone makes
    # var = +inf -> std = +inf (Java Math.sqrt(inf))
    mean = _nonfinite_mean_sql("_gmean", "_nan_m", "_pi_m", "_ni_m")
    std = (
        "CASE WHEN _nan_m OR _nan_s OR _pi_m OR _ni_m THEN double('NaN')"
        " WHEN _pi_s THEN double('inf')"
        f" ELSE {grid_std} END"
    )
    # sw is ns·frac-units: /1e9 -> s·frac-units, /rs -> s, /target -> fraction
    frac = (
        f"(_dw / 1.0E9 / CAST({rs} AS DOUBLE)"
        f" / CAST({target_period_s} AS DOUBLE))"
    )
    vmin, vmax = _extrema_cols()
    return g.select(
        F.col(key),
        F.expr(f"win * {period_ns} AS t"),
        F.expr(f"{_r(mean)} AS mean"),
        F.expr(f"{_r(std)} AS std"),
        vmin,
        vmax,
        F.expr(f"{_r(frac)} AS covered_fraction"),
        F.expr("_sevpick.severity AS severity"),
        F.expr("_sevpick.status AS status"),
        F.col("n_samples"),
        F.expr("'Interpolated' AS quality"),
    )


def pick_first(
    df: DataFrame,
    period_s: int,
    payload: str = "sval",
    key: str = "channel",
    max_gap_windows: int | None = None,
    skew_safe: bool | str = False,
) -> DataFrame:
    """A5: non-aggregatable series -> re-stamped copy of the sample valid at
    each interval start (`PickFirstSampleAggregator.java:50-76`).

    Validity intervals are disjoint, so exactly one row's clipped validity
    start equals the window start (the seed); ``min_by(payload, clip)``
    selects it, and in the cold-start window (no seed) falls back to the
    first in-window sample — matching the reference's 'first processed
    sample' rule.
    """
    period_ns = period_s * NS
    d = explode_validity_windows(df, period_ns, key=key,
                                 max_gap_windows=max_gap_windows,
                                 skew_safe=skew_safe)
    out = d.groupBy(key, "win").agg(
        F.expr(f"min_by({payload}, clip) AS {payload}"),
        F.expr("count(1) AS n_samples"),
    )
    return out.select(
        F.col(key),
        F.expr(f"win * {period_ns} AS t"),
        F.col(payload),
        F.col("n_samples"),
        F.expr("'Interpolated' AS quality"),
    )
