"""Decimation-level selection + retention-fallback planning.

Reference (`Api10Controller.java:382-518`):

  * ``count`` absent -> raw level 0, limit modes (AT_OR_BEFORE, AT_OR_AFTER).
  * ``count`` present -> ``perfectPeriod = (end-start)/count/1e9`` seconds;
    candidates are ``TreeSet.floor/ceiling`` of the INT-floored perfect
    period (`:399-409` — both probes use ``(int) Math.floor(perfect)``,
    so a fractional perfect period whose floor is itself an available
    level selects that level directly, ceiling never consulted); when
    floor != ceiling, the shorter is preferred unless the longer one
    deviates < 5 % AND less than the shorter one does — deviations
    measured against the DOUBLE perfect period (`:431-440`).
  * If the chosen level's data does not reach back to ``start``, iterate
    coarser levels; each one only serves the range before the earliest
    sample found so far (exclusive upper bound ``earliest - 1``, both limit
    modes AT_OR_BEFORE), prepended in time order — operator U1.

Spark architecture: this is *plan construction*, not data flow — a thin
driver-side layer (the reference's is too: it runs per-request on one
channel's metadata). The per-level probe triples ``(bt, rmin, ft)`` are
batched into ONE Spark job (a union of per-level aggregations over pruned
scans), or handed in precomputed by the store — the same metadata the
reference reads from its bucket index, without a driver round-trip per
level.

The triples already name the limit-mode boundary rows: the row before
``start`` is the one at ``bt``, the row after ``end`` the one at ``ft``.
So every piece of a key's walk is an EXACT row range ``[lo, hi]`` and the
data path is one range-filtered scan per level (an ``isin`` on the keys
plus a ``t`` envelope, and a per-key bound lookup when keys' ranges
differ), one ``unionByName`` and one sort — no probe aggregates at
execution time. This relies on each level holding at most one row per
``(key, t)``: a duplicate at a boundary ``t`` would be served twice. The
store's monotonic guard (F5), decimation (one row per window) and
``load_samples`` all guarantee it.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NS = 1_000_000_000


def select_decimation_level(
    levels, start_ns: int, end_ns: int, count: int | None
) -> int:
    """Pick the decimation period (seconds) serving a sampled query.

    Mirrors `Api10Controller.java:396-442` exactly, including the 5 %
    longer-period preference rule. ``levels`` must contain 0 (raw).
    """
    lv = sorted(set(int(x) for x in levels))
    if 0 not in lv:
        raise ValueError("level 0 (raw) must exist")
    if count is None:
        return 0
    if count <= 0:
        raise ValueError(f"count must be positive, got {count}")
    perfect = (end_ns - start_ns) / count / 1e9
    perfect_floor = min(int(perfect), 2**31 - 1) if perfect >= 0 else 0
    longer = next((x for x in lv if x >= perfect_floor), None)
    shorter = max((x for x in lv if x <= perfect_floor), default=0)
    if longer is None:
        return shorter
    if longer == shorter:
        return shorter
    # deviations relative to the *double* perfect period (`:431-440`)
    longer_match = longer / perfect - 1.0
    shorter_match = -(shorter / perfect - 1.0)
    if longer_match < 0.05 and longer_match < shorter_match:
        return longer
    return shorter


def probe_triples(
    df: DataFrame, start_ns: int, end_ns: int, key: str = "channel"
) -> DataFrame:
    """The planner's per-key probes ``(key, bt, rmin, ft)`` in one
    aggregate: latest t <= start / min t in [start, end] / min t >= end.
    Each level's "earliest available sample" decision needs all three,
    because every backward probe row has t <= start <= rmin <= ft."""
    t = F.col("t")
    return df.groupBy(key).agg(
        F.max(F.when(t <= start_ns, t)).alias("bt"),
        F.min(F.when(t.between(start_ns, end_ns), t)).alias("rmin"),
        F.min(F.when(t >= end_ns, t)).alias("ft"),
    )


class _Stats:
    __slots__ = ("bt", "rmin", "ft")

    def __init__(self, bt, rmin, ft):
        self.bt, self.rmin, self.ft = bt, rmin, ft


def plan_samples(
    levels: Mapping[int, DataFrame],
    start_ns: int,
    end_ns: int,
    count: int | None = None,
    key: str = "channel",
    stats: Mapping[tuple[int, str], tuple] | None = None,
) -> DataFrame:
    """Build the (possibly multi-level) sample query plan for one channel
    series per key.

    ``levels`` maps decimation period seconds -> that level's DataFrame
    (columns must be aligned across levels; include a ``level`` column if
    callers need provenance). Each level must hold at most one row per
    ``(key, t)``. Returns each key's disjoint per-level exact row ranges
    (`Api10Controller.java:443-518`, see :func:`_decide_one_key`) as one
    range-filtered scan per level, unioned and sorted by ``(key, t)``.

    ``stats`` optionally supplies the per-(period, key) probe triples
    ``(bt, rmin, ft)`` — latest t <= start / min t in range / min t >=
    end — skipping the generic probe job entirely. Store-backed callers
    get them from ``ArchiveStore.probe_stats``, which runs
    :func:`probe_triples` over the query's own date partitions: the
    generic probe's ``t <= start`` arm has no lower bound to push down
    and reads history partitions at archive scale.

    A passed ``stats`` mapping is AUTHORITATIVE, including when
    empty: ``stats={}`` means the probe ran and found no relevant
    rows for any key, so the plan is legitimately empty. A caller
    with no stats available must pass ``stats=None`` to get the
    generic probe job — never ``{}`` (round-11 review).
    """
    best = select_decimation_level(levels.keys(), start_ns, end_ns, count)
    usable = [p for p in sorted(levels) if p >= best]
    if stats is not None:
        norm = {
            pk: _Stats(*v) for pk, v in stats.items()
            if any(x is not None for x in v)
        }
        return _plan_from_stats(
            levels, usable, norm, start_ns, end_ns, key
        )

    # ONE probe job for every level (the reference's per-level bucket-index
    # lookups are metadata reads; a job per level would serialize driver
    # round-trips). Stats stay per-key, as the reference plans per
    # channel: a global min would let a channel whose FINE data starts
    # later than the earliest channel lose its coarse-level coverage.
    # The collect is bounded by the keys the request names.
    stats_df = None
    for period in usable:
        per_key = probe_triples(levels[period], start_ns, end_ns, key).select(
            F.lit(period).alias("period"), key, "bt", "rmin", "ft"
        )
        stats_df = per_key if stats_df is None else stats_df.unionByName(per_key)
    stats_map: dict[tuple[int, str], object] = {
        (r.period, r[key]): r for r in stats_df.collect()
    }
    return _plan_from_stats(levels, usable, stats_map, start_ns, end_ns, key)


def _plan_from_stats(levels, usable, stats, start_ns, end_ns, key):
    # Each key's fallback walk is decided in pure Python from the probe
    # stats; a key uses a level at most once, so each level collects one
    # exact range per key and becomes ONE filtered scan whatever the key
    # count (per-key branches would make plan size and driver planning
    # time grow with the keys a request names, ADVICE r3).
    ranges: dict[int, dict] = {}
    for kv in sorted({k for (_, k) in stats}):
        for period, lo, hi in _decide_one_key(
            usable, kv, stats, start_ns, end_ns
        ):
            ranges.setdefault(period, {})[kv] = (lo, hi)

    t = F.col("t")
    pieces: list[DataFrame] = []
    for period in usable:
        by_key = ranges.get(period)
        if not by_key:
            continue
        los, his = zip(*by_key.values())
        # the envelope is a plain range predicate -> partition pruning
        cond = F.col(key).isin(list(by_key)) & t.between(min(los), max(his))
        if len(set(by_key.values())) > 1:
            lo_of, hi_of = (
                F.element_at(
                    F.create_map(*[
                        c for kv, b in by_key.items()
                        for c in (F.lit(kv), F.lit(b[i]).cast("long"))
                    ]),
                    F.col(key),
                )
                for i in (0, 1)
            )
            cond &= t.between(lo_of, hi_of)
        pieces.append(levels[period].filter(cond))
    if not pieces:
        # empty plan with the right schema
        some = next(iter(levels.values()))
        return some.limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.orderBy(key, "t")


def _decide_one_key(usable, kv, stats, start_ns, end_ns):
    """The reference's per-channel fallback walk
    (`Api10Controller.java:443-518`) for one key, decided from the probe
    stats alone: finest level first, coarser levels each serving only the
    still-uncovered earlier range. Returns the pieces oldest-range first
    as exact row ranges ``(period, lo, hi)``: ``lo`` is the level's
    backward probe row ``bt`` (else ``start``); ``hi`` is the forward
    probe row ``ft`` (else ``end``) on the finest level, and the fallback
    cap on coarser ones (limit mode AT_OR_BEFORE, no forward row)."""
    specs: list[tuple] = []  # oldest-range first
    earliest: int | None = None
    for period in usable:
        r = stats.get((period, kv))
        if r is None:
            continue
        lo = r.bt if r.bt is not None else start_ns
        if not specs:
            spec = (period, lo, r.ft if r.ft is not None else end_ns)
            first = r.bt if r.bt is not None else (
                r.rmin if r.rmin is not None else r.ft
            )
        else:
            # The cap is clamped to the query end: when the finer level's
            # ONLY contribution was a forward probe (earliest = ft > end),
            # an unclamped earliest-1 would let this coarser level serve
            # arbitrarily many rows in (end, ft) — violating the
            # at-most-one-row-past-hi limit-mode contract
            # (`ArchiveAccessService.java:77-103`) across the union.
            cap = min(earliest - 1, end_ns)
            spec = (period, lo, cap)
            first = r.bt if r.bt is not None else (
                r.rmin if r.rmin is not None and r.rmin <= cap else None
            )
        if first is None:
            continue
        if not specs or first < earliest:
            specs.insert(0, spec)
            earliest = first
        if first <= start_ns:
            break
    return specs
