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
channel's metadata). The per-level "earliest available sample" probes are
batched into ONE Spark job (a union of per-level min/max aggregations over
pruned scans) — the same metadata the reference reads from its bucket
index, without a driver round-trip per level. The data path that
comes out is a ``unionByName`` of disjoint range scans, fully declarative,
so Catalyst sees one plan and prunes each branch independently.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import asof

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
    callers need provenance). Returns the ordered concatenation of disjoint
    per-level range queries per `Api10Controller.java:443-518`.

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
    keys = sorted({k for (_, k) in stats})

    # Decide each key's fallback walk in PURE PYTHON first (it only needs
    # the probe stats), then GROUP keys whose decisions are identical and
    # build ONE IN-filtered sub-plan per (decision, piece). Per-key
    # sub-plans would put O(#keys x #levels) filtered branches (each with
    # its own asof probe aggregations) into one Catalyst plan — correct,
    # but plan size and driver planning time explode for requests naming
    # hundreds of channels (ADVICE r3). Decisions coincide for every key
    # whose finest usable level reaches back to ``start`` — the common
    # case — so a typical wide request plans 1 group, not #keys.
    by_decision: dict[tuple, list] = {}
    for kv in keys:
        spec = _decide_one_key(usable, kv, stats, start_ns, end_ns)
        if spec:
            by_decision.setdefault(spec, []).append(kv)

    pieces: list[DataFrame] = []
    for spec, group in by_decision.items():
        for period, lo, hi, lo_mode, hi_mode in spec:
            df = levels[period].filter(F.col(key).isin(group))
            # Bound the piece's scan from below: the backward-probe arm
            # (t <= lo) otherwise has NO lower bound and re-reads every
            # history partition at execution time — the cost the stats
            # fast lane exists to avoid, paid again per request. The
            # probe stats already know each key's latest t <= lo (bt),
            # and only that row can survive the probe's max_by, so
            # t >= min(bt over the group) keeps every contributing row
            # (keys with no backward row contribute nothing below lo).
            # The bound is a plain range predicate -> partition pruning.
            bts = [
                bt if (r := stats.get((period, kv))) is not None
                and (bt := getattr(r, "bt", None)) is not None
                else lo
                for kv in group
            ]
            df = df.filter(F.col("t") >= min(bts, default=lo))
            pieces.append(
                asof.get_samples(df, lo, hi, lo_mode, hi_mode, key=key)
            )
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
    still-uncovered earlier range. Returns the piece specs oldest-range
    first as ``(period, lo, hi, lo_mode, hi_mode)`` tuples — hashable, so
    keys with identical walks share one IN-filtered sub-plan."""
    specs: list[tuple] = []  # oldest-range first
    earliest: int | None = None
    for period in usable:
        r = stats.get((period, kv))
        if r is None:
            continue
        if not specs:
            spec = (period, start_ns, end_ns, asof.AT_OR_BEFORE, asof.AT_OR_AFTER)
            first = r.bt if r.bt is not None else (
                r.rmin if r.rmin is not None else r.ft
            )
        else:
            # upper mode AT_OR_BEFORE = plain capped range (no forward
            # probe). The cap is clamped to the query end: when the finer
            # level's ONLY contribution was a forward probe (earliest =
            # ft > end), an unclamped earliest-1 would let this coarser
            # level serve arbitrarily many rows in (end, ft) — violating
            # the at-most-one-row-past-hi limit-mode contract
            # (`ArchiveAccessService.java:77-103`) across the union.
            cap = min(earliest - 1, end_ns)
            spec = (period, start_ns, cap, asof.AT_OR_BEFORE, asof.AT_OR_BEFORE)
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
    return tuple(specs)
