"""Physical-plan audit: assert the scale-critical plan properties the
100 TB design depends on (SURVEY.md §4).

Checks per query: parquet filter pushdown reaches the scan, dimension joins
broadcast (no sort-merge against small dims), whole-stage codegen covers the
hot path, no accidental cartesian products, and exchange (shuffle) counts
stay at the designed minimum.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query -> (max_exchanges, requires list of plan substrings, forbids list)
EXPECTATIONS: dict[str, tuple[int | None, list[str], list[str]]] = {
    "raw_scan": (
        2,  # F5-dedup channel hash + output range sort
        # by-hand pushdown: physical user_id/ts predicates reach the scan
        ["EqualTo(user_id,7)", "GreaterThanOrEqual(ts,", "codegen id"],
        ["CartesianProduct"],
    ),
    "decimate_1h": (
        2,  # one channel exchange (reused by both windows) + one final agg
        ["codegen id", "PushedFilters"],
        ["CartesianProduct"],
    ),
    "decimate_cascade_6h": (
        # measured 2 (the load's channel hash is reused by the re-agg
        # stage; + the output sort) — budget == measured so a 2->3
        # shuffle regression FAILS, same contract as the 1d cascade
        # below (ADVICE r3 closed: was a slack budget of 4)
        2,
        ["codegen id"],
        ["CartesianProduct"],
    ),
    "decimate_cascade_1d": (
        # hash(channel) from the load is reused by BOTH reaggregation
        # stages — a depth-3 cascade pays only the initial channel
        # exchange + the output range sort (budget == measured 2, so a
        # 2->3 shuffle regression FAILS the audit)
        2,
        ["codegen id"],
        ["CartesianProduct"],
    ),
    "severity_transitions": (
        3,  # F5-dedup channel hash (lag window reuses it) + the
        # |severity|^2 groupBy + the output sort
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "ts_gorilla_size": (
        3,  # channel hash (raw dedup; lattice agg reuses it) + one
        # post-union (channel, series) window exchange + output sort;
        # the (channel, series) groupBy reuses the window's clustering
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "bucket_rollover_estimate": (
        2,  # ONE channel hash serves dedup + the prefix-sum window + the
        # (channel, bucket_seq) groupBy (subset clustering); + output sort
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "cluster_split_assign": (
        None,
        # CC loop + md5 threshold: no cartesian, no Python crossing; the
        # nodes-vs-labels attach join may sort-merge (both sides are
        # corpus-scale in the worst case — broadcast would be a lie)
        ["codegen id"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "tpch_q3": (
        None,
        ["BroadcastHashJoin", "PushedFilters"],
        ["CartesianProduct"],
    ),
    "tpch_q5": (
        None,
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    "channel_dim_join": (
        None,
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    "dedup_minhash_lsh": (
        None,
        ["codegen id"],
        ["CartesianProduct"],
    ),
    "containment_pairs_lsh": (
        None,
        # production containment path: candidates come from the
        # shingle-key equi-join of bottom-k probes vs the inverted
        # index — never an all-pairs product
        ["codegen id"],
        ["CartesianProduct"],
    ),
    "containment_recall_audit": (
        None,
        ["codegen id"],
        ["CartesianProduct"],
    ),
    "pair_table_incremental": (
        None,
        # the materialized view reads back as a scan of the committed
        # pair files (session-persisted after the lifecycle build) — no
        # recompute, no join in the read path
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "ca_ingest_roundtrip_1h": (
        None,
        # sid->channel resolution must broadcast (registry-sized dim);
        # decode itself is the declared Arrow crossing
        ["BroadcastHashJoin", "MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "image_dhash_mixed_codec": (
        None,
        ["codegen id"],
        ["CartesianProduct"],
    ),
    "embedding_near_dup_lsh": (
        None,
        ["codegen id"],
        ["CartesianProduct"],  # the LSH path must NOT cross-join
    ),
    "asof_before": (
        None,
        ["max_by", "codegen id"],  # agg-based probe, no global sort
        ["CartesianProduct"],
    ),
    "tpch_q4": (
        None,
        # EXISTS compiles to a hash semi-join with the date filter pushed
        ["LeftSemi", "GreaterThanOrEqual(o_orderdate,"],
        ["CartesianProduct"],
    ),
    "tpch_q6": (
        1,  # scan -> partial agg -> single-partition final combine
        ["GreaterThanOrEqual(l_shipdate,", "LessThan(l_quantity,"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "tpch_q18": (
        None,
        ["BroadcastHashJoin"],  # customer dim never sort-merges
        ["CartesianProduct"],
    ),
    "lapsed_customers": (
        None,
        ["LeftAnti", "GreaterThanOrEqual(o_orderdate,"],
        ["CartesianProduct"],
    ),
    "enabling_link": (
        None,
        # closed validity intervals bucket-exploded and equi-joined on the
        # time bucket (BroadcastHashJoin keyed on _b) — each fact row
        # probes only its bucket's intervals, not every transition; the
        # fact side never shuffles for the gate. (The single-gate lead
        # window folds its constant key away — one PV's transition series
        # is inherently one partition; the partitioned-window pin lives
        # on enabling_link_multi, the scale path.)
        ["BroadcastHashJoin [_b", "codegen id"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    "enabling_link_multi": (
        None,
        # same gate core with a real link relation: bucket+channel-keyed
        # BroadcastHashJoin for closed intervals, broadcast equi-join for
        # the per-channel open tails, partitioned interval window
        ["BroadcastHashJoin [_b", "windowspecdefinition(_ech"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    "decimate_typed_1h": (
        None,
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "json_v1_raw_typed": (
        2,  # one channel-dedup hash exchange + the output range sort
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "json_v1_typed_1h": (
        None,
        ["codegen id"],
        # the full render surface must stay JVM-side — no Python in S7
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "heartbeat_1h": (
        3,  # dedup exchange + lead-window reuse + output sort
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "heartbeat_connected_1h": (
        7,  # heartbeat's 3 + marker derivation (dedup + lag window) +
        # the per-gap stop aggregation; both marker joins broadcast
        ["codegen id", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "BroadcastNestedLoopJoin"],
    ),
    "union_levels": (
        None,
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "severity_daily": (
        None,
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "ann_cosine_topk": (
        None,
        # query side broadcast; similarity + per-query top-k in one pass
        ["BroadcastNestedLoopJoin"],  # deliberate: tiny fixed query side
        ["SortMergeJoin"],
    ),
    "dedup_exact": (
        2,  # partial agg -> one hash exchange -> final agg (+ output sort)
        ["codegen id", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "tpch_q7": (
        None,
        # both nation sides + supplier/customer dims broadcast; only the
        # lineitem ⋈ orders join may shuffle
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    "tpch_q10": (
        None,
        # top-k executes as TakeOrdered (partial heaps), not a global sort
        ["BroadcastHashJoin", "TakeOrderedAndProject"],
        ["CartesianProduct"],
    ),
    "tpch_q13": (
        None,
        # LEFT OUTER against orders with the priority filter pushed down
        ["LeftOuter", "PushedFilters"],
        ["CartesianProduct"],
    ),
    "tpch_q19": (
        None,
        # disjunctive predicate must at least push the partkey join +
        # l_quantity Or-bounds to the scan
        ["BroadcastHashJoin", "Or(And("],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "tpch_q8": (
        None,
        # all five dims broadcast; only the two fact joins may shuffle
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    "tpch_q17": (
        None,
        # brand restriction applied BEFORE the per-part avg; the avg table
        # broadcasts back — the fact table must never sort-merge
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "sessionize_30m": (
        2,  # one user-key hash exchange + the output range sort
        # native session-window op with map-side partial aggregation —
        # the gap-merge must NOT fall back to a Python/window reshuffle
        ["MergingSessions", "partial_min"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "contamination_3gram": (
        None,
        # benchmark shingles broadcast (map-side probe), benchmark ids
        # anti-joined broadcast — the corpus shingle table never shuffles
        # for the membership test
        ["BroadcastHashJoin", "LeftAnti"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "stratified_split": (
        2,  # partial agg -> one hash exchange (+ output sort); the split
        # assignment itself is a pure map, no shuffle
        ["codegen id", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "quality_quantiles": (
        2,  # one lang exchange feeding the rank window + output sort
        # 4-row quantile table joins as BNLJ (non-equi), never sort-merge
        ["Window", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "quality_quantiles_approx": (
        2,  # partial sketch -> one lang exchange -> final agg (+ out sort)
        # the whole point of the sketch path: NO per-group rank window —
        # approx_percentile partial-aggregates, so a giant stratum costs a
        # sketch merge, not a single-task sort
        ["approx_percentile", "partial_"],
        ["Window", "CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "decimate_plugin_median_1h": (
        None,
        # §2.10 SPI: the per-interval plugin runs as ONE chunked
        # FlatMapGroupsInPandas (declared Arrow crossing) over the same
        # channel clustering as the built-in path; nothing else may enter
        # Python and nothing may cartesian
        ["FlatMapGroupsInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "mix_corpus_ratios": (
        None,
        # quota table broadcast back (tiny), md5-rank window per stratum;
        # the corpus never sort-merges for the recipe
        ["BroadcastHashJoin", "Window"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    ),
    "contamination_exact_run": (
        None,
        # benchmark shingles broadcast as a semi-join probe; islands are
        # one per-doc window — no shingle-table self-join
        ["BroadcastHashJoin", "LeftSemi", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "dedup_best_survivor": (
        None,
        ["codegen id"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "vocab_topk": (
        1,  # token hash exchange; top-k is partial-heap TakeOrdered,
        # never a global sort
        ["TakeOrderedAndProject", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "doc_sample_10pct": (
        1,  # output sort only — hash-threshold sampling is a pure map
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "crossmodal_pairs": (
        None,
        # both LSH pipelines stay bucketed; the agreement join operates
        # on pair tables, never on the corpus cross product
        ["codegen id"],
        ["CartesianProduct"],
    ),
    "dedup_incremental": (
        None,
        # candidate generation is old ⋈ new on band keys only — never a
        # corpus self-join, never a cartesian
        ["codegen id"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "events_sliding_1h": (
        2,  # Expand(4 windows/event) feeds ONE partial-agg groupBy
        ["Expand", "partial_count"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "tpch_q22": (
        None,
        # scalar threshold broadcast; NOT EXISTS is a broadcast/hash
        # anti join — the customer table never sort-merges
        ["LeftAnti", "BroadcastNestedLoopJoin"],
        ["CartesianProduct"],
    ),
    "quality_filtered_stats": (
        None,
        # per-lang threshold table broadcast back over one corpus scan
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "events_dow_profile": (
        2,  # pure epoch-arithmetic keys -> ONE partial-agg groupBy + sort
        ["partial_count", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "balanced_sample_per_lang": (
        2,  # one stratum-key exchange for the rank window + output sort
        ["Window", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "lang_confusion": (
        None,
        # one hash agg over per-doc predictions; the share denominator is
        # a label-partition window over the tiny cell table
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "dedup_rate_by_source": (
        3,  # digest-key window + source agg + output sort
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "channel_gap_stats": (
        2,  # sample-load channel hash (reused by BOTH the lag window and
        # the per-channel agg) + output sort — one data exchange total
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "conversion_funnel": (
        3,  # ONE conditional-min hash agg per user + the depth re-agg +
        # output sort; the ordered-sequence predicate is a row
        # expression, no self-join
        ["partial_min", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "weekly_cohort_retention": (
        None,
        # (user, week) distinct + cohort min + user-key join — no per-week
        # self-joins, no cartesian
        ["partial_", "codegen id"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "events_unpivot": (
        None,
        # native unpivot = Expand (pure 1->N map) over the pivot result —
        # no extra shuffle beyond the pivot's own plan
        ["Expand", "pivotfirst"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "events_pivot": (
        3,  # pivot's standard two-phase plan: (day,type) partial counts
        # (map-side combined — the first exchange carries only the tiny
        # count table), pivotfirst re-agg on day, output sort; explicit
        # value list means no category-discovery pass, no join
        ["partial_", "pivotfirst"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "fuzzy_channel_pairs": (
        None,
        # FastSS deletion-variant keys equi-join (the name< residual rides
        # the hash join) — the fuzzy match must never go cartesian
        ["codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"],
    ),
    "severity_rollup": (
        3,  # sample-load dedup exchange + ROLLUP's Expand feeding ONE
        # partial-agg groupBy + output sort — three grouping sets, one pass
        ["Expand", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "cluster_quality_report": (
        None,
        # k centroid arrays broadcast into the assignment pass; the
        # doc<->vector join hashes on the id — never a cartesian
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "oov_rate": (
        None,
        # vocab = word-count + TakeOrdered partial heaps, broadcast into a
        # left-anti probe; per-doc counts are hash groupBys — no global sort
        ["TakeOrderedAndProject", "LeftAnti", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "sequence_packing": (
        2,  # ONE (lang, shard) hash exchange for the cumsum window + the
        # output sort; packing must stay JVM-side, no iteration
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "asof_pair_align": (
        None,
        # union-merge + hold-forward window — there must be NO join
        # operator at all (the as-of probe rides the per-key sort)
        ["Window", "Union"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
         "BatchEvalPython"],
    ),
    "repetition_metrics": (
        1,  # output sort only — the mode counts are sorted-run-length
        # higher-order expressions per row, never a token-level shuffle
        ["codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "tpch_q2": (
        None,
        # dims + part filter broadcast; the correlated MIN is a window
        # over the candidate set — never a fact-side sort-merge
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "tpch_q9": (
        None,
        # part/supplier/nation broadcast; only lineitem<->orders shuffles
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "tpch_q11": (
        None,
        # the HAVING total is a 1-row broadcast back over the per-part agg
        ["BroadcastNestedLoopJoin", "partial_"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "tpch_q20": (
        None,
        # per-part total via window over the (part,supplier) agg — one
        # aggregation pass, supplier joined left-semi
        ["Window", "LeftSemi"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "semantic_dedup": (
        None,
        # within-cluster pairwise verify rides the cluster-key equi-join
        # (SMJ/hash on the blocking key is the intended shape); centroid
        # broadcasts are the only NLJ (k tiny rows); nothing may cartesian
        # and nothing may enter Python
        ["codegen id"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "pii_scan_by_source": (
        2,  # partial agg -> one source exchange -> final agg + output sort
        # scan + redact are projections over the SAME row: zero joins of
        # any kind, zero Python — regex stays whole-stage-codegen'd
        ["partial_", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BroadcastNestedLoopJoin", "Window", "BatchEvalPython"],
    ),
    "substring_dup_spans": (
        None,
        # pair-restricted shingle matching: the pair table joins FIRST
        # (broadcast at test scale), then shingle equality within the
        # pair; islands are one window — never shingle x shingle, never
        # cartesian
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "embedding_quantize_audit": (
        2,  # pure map over the vector column -> one label exchange + sort
        ["partial_", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BroadcastNestedLoopJoin", "Window", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "dsir_importance": (
        None,
        # the 64-row bucket table and the 1-row totals broadcast back over
        # the token scan; per-doc sums are hash aggs — the corpus never
        # sort-merges
        ["BroadcastHashJoin", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "threshold_crossings": (
        2,  # sample-load channel hash reused by the min/max window, the
        # lag window AND the per-channel agg + output sort — one data
        # exchange total (same guarantee as channel_gap_stats)
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "tpch_q21": (
        # round 3: the EXISTS/NOT-EXISTS pair collapsed into ONE window
        # over the (order, supplier) aggregate's own clustering — no semi/
        # anti self-joins left (was 3 hash joins + 2 extra shuffles of the
        # aggregate); 3 exchanges measured (budget == measured so a
        # regression fails): the aggregate hash, the final groupBy, the
        # top-k sort
        3,
        ["windowspecdefinition(l_orderkey", "BroadcastHashJoin"],
        ["CartesianProduct", "LeftSemi", "LeftAnti"],
    ),
    "lagged_correlation_1h": (
        None,  # the lag pairing is a lead/lag WINDOW over the pivoted
        # regular grid (a lag of L seconds = a row offset of L/period) —
        # never a self-join of the two series, so no hash/sort-merge join
        # of grid against grid at all. The only BNLJs are the
        # literal-sized fan-outs (1-row bounds -> grid, 2-row channel
        # list)
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "value_histogram": (
        None,  # bounds agg -> broadcast back over the scan -> bin agg;
        # the series never sort-merges against its own statistics (the
        # only Window in the plan is the load's F5 dedup)
        ["BroadcastHashJoin", "partial_"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "channel_outliers_mad": (
        None,  # two discrete-quantile windows ride the channel hash; the
        # tiny median/MAD tables broadcast back — no SMJ, no Python
        ["Window", "BroadcastHashJoin", "partial_"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "plot_query_240px": (
        2,  # the full dashboard path (decimate to the planner-chosen 1 h
        # level + M4 reduction + sort) still rides ONE channel hash —
        # composing MV selection with display reduction adds no shuffle
        ["partial_", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "plot_downsample_m4": (
        2,  # measured: the load's channel hash (reused by its F5 dedup
        # window AND the (channel,bucket) agg) + output sort; every
        # selector (min/max/min_by/max_by) partial-aggregates
        ["partial_", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "counter_rate_6h": (
        2,  # lag window + (channel,window) agg + sort all reuse the
        # load's channel hash — one data exchange (channel_gap_stats
        # guarantee extended to the rate() analytic)
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "resample_linear_1h": (
        2,  # lead window rides the load's channel hash; + output sort.
        # sequence+explode fan-out happens AFTER the window, pipelined —
        # no extra exchange for the grid
        ["Window", "Generate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "approx_distinct_audit": (
        None,  # expand-based exact distinct sets the exchange count;
        # what matters: sketches partial-aggregate map-side (hll_sketch_agg
        # in a partial_ stage), the merged 5-row table broadcasts back,
        # and nothing cartesians or enters Python
        ["hll_sketch_agg", "partial_", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "store_time_travel": (
        None,  # 3 unioned per-snapshot aggs over manifest-resolved scans;
        # each snapshot is a plain pruned parquet scan + partial agg —
        # no joins at all, no Python, no cartesian
        ["partial_", "Union"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BroadcastNestedLoopJoin", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "store_cdc_diff": (
        2,  # manifest-diff scan of ONLY the appended files -> one
        # per-channel agg exchange + the output sort; the delta is never
        # joined against the table (incremental-consumer economics)
        ["partial_"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "level_backfill_6h": (
        None,  # read-back of the backfilled 6h level: a manifest-
        # resolved pruned scan + output sort. The store mutations run
        # at query-build time; the plan itself must stay join- and
        # Python-free
        [],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "shuffle_skew_report": (
        None,  # per-key counts partial-aggregate map-side; order
        # statistics come from the count HISTOGRAM (no per-key global
        # sort); the single BNLJ is the 1-row quantile table crossing
        # the 1-row totals
        ["partial_", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "build_training_shard": (
        None,  # decontam flags by aggregation over the broadcast gram
        # set; dedup via md5(text) window; the sample-ids join-back is
        # broadcast (k·langs rows). At audit scale every join is BHJ —
        # an SMJ/cartesian/Python crossing here is a regression (at
        # true corpus scale the clean-ids join becomes a keyed shuffle
        # join by design, see the query docstring)
        ["BroadcastHashJoin", "WindowGroupLimit"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "decontam_two_stage": (
        None,  # stage-1 screen joins only the broadcast bit list;
        # stage 2 joins the broadcast benchmark gram set — the corpus
        # never SMJs against anything, nothing cartesians or enters
        # Python
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "wsample_bias_audit": (
        None,  # 16 unions of the pinned two-phase sampler shape, then
        # tiny aggregate joins (broadcast); never SMJ/cartesian/Python
        ["WindowGroupLimit"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "seasonal_profile_incremental": (
        3,  # snapshot-moments agg + delta-moments agg UNIONed (one
        # merge exchange) + the output range sort; the delta is never
        # joined against the table — a join or Python crossing here
        # breaks the incremental-aggregate economics
        ["Union", "partial_"],
        ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "events_json_props": (
        3,  # scan (event_type+props pruned) + distinct-expand agg
        # exchanges + output sort; the JSON extraction stays JVM-side
        ["partial_"],
        ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "channel_health_report": (
        None,  # four per-channel operator summaries broadcast-joined
        # (each side channel-cardinality small after its own agg); the
        # composition must never SMJ, cartesian, or enter Python
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "ewma_by_channel": (
        2,  # the load's channel hash (reused by the collect_list
        # groupBy) + the output range sort; the sequential fold is ONE
        # Catalyst aggregate lambda — any Python crossing or join here
        # is a regression
        ["Generate"],  # the posexplode of the folded trajectory
        ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "ngram_novelty": (
        None,  # bigram corpus frequency is a COUNT window on hash(bg)
        # (no bigram⋈bigram join), then one doc_id agg + the doc spine
        # re-entry join
        ["Window", "partial_"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "context_chunks": (
        1,  # pure per-row sequence/explode fan-out: the ONLY exchange is
        # the output presentation sort — a shuffle appearing in the chunker
        # itself is a regression
        ["Generate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "Window", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "group_split_guard": (
        None,  # split assignment is a pure map (md5 threshold); the only
        # joinish node is the 1-row guard broadcast
        ["partial_"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "curriculum_bins": (
        None,  # cutoffs are a tiny per-lang aggregate BROADCAST back over
        # the metrics (two-pass corpus statistic); never a global
        # sort/ntile of the corpus
        ["BroadcastHashJoin", "partial_"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "cusum_changepoints": (
        2,  # ONE hash(channel) exchange shared by all four windows AND
        # the final per-channel aggregation (+ the output sort) — the
        # CUSUM closed form must never add a per-side shuffle
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "distribution_drift": (
        None,  # per-channel bounds BROADCAST back over one scan; every
        # reduction after the (channel,bin) collapse runs on ~channels×20
        # rows, so exchange count is not the scale axis — join shape is
        ["BroadcastHashJoin", "partial_"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "sax_motifs": (
        None,  # PAA collapse first (channel-hash agg), THEN symbols/words
        # on the thousands-of-rows window table; mean-range bounds
        # broadcast, never sort-merge
        ["BroadcastHashJoin", "Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "cdc_chunk_dedup": (
        None,  # boundary prefix-sum window + chunk reassembly share the
        # hash(doc_id) exchange; corpus dup detection is a COUNT window on
        # the digest key — no chunk⋈chunk pair join anywhere
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "mixture_temperature_alloc": (
        None,  # one map-side-combined groupBy(lang) over the corpus; the
        # apportionment windows run on the collapsed per-lang rows
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "channel_trend_1h": (
        3,  # channel hash (min-window window + moments reuse it) + agg +
        # output sort — the minimum one-scan regression plan
        ["Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "channel_acf_1h": (
        None,  # every step partitions by channel (grid broadcast in);
        # the channel-partitioned windows + one (channel, lag) moment agg —
        # no pair self-join, no global window
        ["Window", "partial_", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "lsh_recall_audit": (
        None,  # truth side is the guarded quadratic baseline (shingle
        # equi-join); the LSH side must stay banded; the overlap is ONE
        # full-outer flag join of two tiny pair tables feeding a single
        # aggregate (r11 opt: the old agg×agg×agg crossJoin shape
        # re-evaluated both sides twice)
        ["partial_", "FullOuter"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "quality_ks_by_source": (
        None,  # rows x groups via a BROADCAST of the tiny group list;
        # per-group cumulative windows + one max agg — the fan-out is the
        # documented validation-scale cost, the join must never shuffle
        ["BroadcastNestedLoopJoin", "Window", "partial_"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "array_elementwise_stats": (
        2,  # posexplode is narrow; one (channel, idx) hash agg + the
        # output sort
        ["Generate", "partial_"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "cms_heavy_hitters": (
        None,  # one token scan feeds exact top-k AND the d*w counter
        # table (map-side combined); the probe broadcasts — the sketch
        # side must never shuffle tokens by key
        ["partial_", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "image_dhash_near_dup": (
        None,  # the ONE declared Arrow crossing (MapInPandas codec
        # roundtrip), then the banded self-equi-join — an all-pairs
        # cartesian in the candidate stage is the scale regression this
        # pins against
        ["MapInPandas"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "audio_features_wav": (
        2,  # the core-spreading repartition + the output sort; the WAV
        # codec is the ONE declared Arrow crossing, features are
        # row-local — any join/agg shuffle here is a plan regression
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "HashAggregate", "BatchEvalPython"],
    ),
    "pq_codebook_audit": (
        None,  # every join is a broadcast against the m*k codebook /
        # seed tables; the composite-key Lloyd must never sort-merge
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "pq_adc_recall": (
        None,  # ADC side: code-table scan + broadcast LUT joins; the
        # deliberate BroadcastNestedLoopJoin is the guarded exact-L2
        # baseline against the tiny fixed query side
        ["BroadcastHashJoin", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "ivfpq_rerank_recall": (
        None,  # stage 1 = the pinned IVF-ADC shape; stage 2 touches
        # raw vectors only through the BROADCAST 50-candidate
        # shortlist — a corpus-sized rerank join (SMJ) or cartesian is
        # the regression this pins against
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "ivfpq_adc_recall": (
        None,  # inverted list is join-free (cell threaded through the
        # Lloyd core); search = code-table scan + broadcast probe/LUT
        # joins; BNLJ = broadcast-against-tiny probe ranking and the
        # guarded exact-L2 baseline. An SMJ or cartesian anywhere is
        # the scale regression this pins against
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "dim_truncation_recall": (
        None,  # three sliced exact-L2 baselines vs the full one — all
        # broadcast-against-the-5-query side (BNLJ), overlaps via
        # broadcast semi joins; nothing shuffles large or enters Python
        ["BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "pq_staleness_audit": (
        None,  # frozen-books encode: broadcast codebook joins only;
        # the new batch never triggers a refit shuffle or SMJ
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "bpe_tokenize_audit": (
        None,  # learned merges apply per word TYPE; the types dim must
        # broadcast back to the occurrence table — a corpus-keyed SMJ
        # here is the scale regression this pins against
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    ),
    "audio_fingerprint_near_dup": (
        None,  # ONE Arrow crossing (WAV roundtrip + envelope hash),
        # then the 3-band pigeonhole self-equi-join — an all-pairs
        # cartesian here is the scale regression this pins against
        ["MapInPandas"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "weighted_sample_per_lang": (
        3,  # map-only race key (array_max over a generated array — no
        # explode), then the two-phase top-k: (lang, bucket) exchange,
        # lang exchange over <= n_buckets*k survivors, output range
        # sort. WindowGroupLimit = Spark's map-side partial top-k must
        # stay; any join or Python crossing here is a plan regression
        ["WindowGroupLimit"],
        ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
         "BatchEvalPython", "ArrowEvalPython", "Generate"],
    ),
    "seasonal_hod_anomalies": (
        2,  # the load's single channel hash (reused by the (channel,
        # hod) window AND the census groupBy) + the output range sort;
        # a profile self-join or SMJ here is the plan regression
        ["Window"],
        ["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "video_frame_sample": (
        2,  # same shape: repartition + output sort around the ONE
        # Arrow-batched mux/demux/JPEG crossing; the 1->N frame fan-out
        # must stay inside the batch (no Generate/join)
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "HashAggregate", "BatchEvalPython"],
    ),
    # --- round-6 additions ---
    "ca_typed_roundtrip_1h": (
        None,  # typed wire roundtrip: Arrow-batched frame codec
        # crossings, sid dim broadcast back — a corpus-keyed SMJ on
        # sid/channel is the scale regression this pins against
        ["MapInPandas", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    ),
    "ca_wire_matrix": (
        None,  # 14-shape fan-out is a literal-array explode (Generate)
        # + the codec crossings; never a join against a families table
        ["MapInPandas"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    ),
    "json_v1_ca_wire": (
        None,  # wire -> JSON V1: decode crossings then pure Catalyst
        # rendering; sid resolution broadcast
        ["MapInPandas", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    ),
    "split_leakage_audit": (
        None,  # split labels are PURE HASH EXPRESSIONS on the pair
        # table (no join against a corpus-sized split table — label
        # attachment adds ZERO joins); the cluster-blocked pair
        # generator's own corpus-by-cluster self-join (SMJ on the
        # cluster key) is the designed blocking shape and allowed
        ["HashAggregate"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "hard_negative_mining": (
        None,  # queries broadcast (nested-loop against the tiny query
        # set is the designed shape); corpus-keyed SMJ forbidden
        ["WindowGroupLimit"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "retention_fallback_plan": (
        1,  # post-sweep planner: one exact range scan per level, one
        # ordered union and its one sort; no join between levels, no
        # Python
        ["Union"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "lm_quality_score": (
        None,  # the probe (trigram stream) side must NEVER shuffle: all
        # five backoff joins build on the aggregated count tables
        # (broadcast at audit scale; shuffled-hash with AQE skew
        # handling beyond the broadcast threshold). The only exchanges
        # are the count-table groupBys + the final per-doc aggregate.
        ["BroadcastHashJoin", "codegen id"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "ridge_probe": (
        None,  # the returned frame = literal weight rows UNION the
        # residual leg (doc_id IN-filter pushed to the parquet scan);
        # the sufficient-statistics aggregation ran eagerly at build
        # time (same contract as the PCA scatter collect), so the plan
        # must carry no joins and no Python at all
        ["Union", "PushedFilters: [In(doc_id"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "boilerplate_spans": (
        None,  # one shingle-key exchange (two-phase distinct-source
        # count), flagged set joins back broadcast at audit scale, then
        # a doc-keyed distinct+count; no corpus self-join, no Python
        ["BroadcastHashJoin", "codegen id"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "image_phash_mixed_codec": (
        None,  # one Arrow crossing (codec + integer DCT), row-local
        ["MapInPandas"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    ),
    "audio_vad_segments": (
        None,  # one declared Arrow crossing (the codec), row-local —
        # no shuffle beyond the core-spreading repartition, no joins
        ["MapInPandas"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython"],
    ),
    "pair_pagerank": (
        None,  # iterative-join workload: per iteration ONE edges-ranks
        # hash join + ONE groupBy(dst); lineage truncated per iteration
        # (localCheckpoint), edge list O(pairs) not O(corpus); no
        # cartesian, no Python
        ["codegen id"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "quality_filter_report": (
        None,  # three doc_id-keyed per-doc frames join then roll up by
        # source: no corpus self-join, every cut an integer comparison,
        # no Python anywhere
        ["codegen id"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "lm_backoff_census": (
        None,  # per-doc sums roll up by lang through one broadcast
        # doc->lang attach; same no-probe-shuffle contract as above
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "purchase_window_rollup": (
        None,  # the WHOLE POINT of interval_join: the range predicate
        # rides a (key, block) hash equi-join — a theta-join plan
        # (BroadcastNestedLoopJoin / cartesian) is the quadratic failure
        # mode this operator exists to avoid
        ["codegen id"],
        ["BroadcastNestedLoopJoin", "CartesianProduct",
         "BatchEvalPython", "ArrowEvalPython"],
    ),
    "curate_round8": (
        None,  # quality filter -> BM25 decontam guard -> chunk rewrite
        # as one plan: every join doc_id/source-keyed, the only
        # keyless join is the single-row BM25 stats broadcast; no
        # Python anywhere in the composition
        ["codegen id"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "bm25_topk": (
        None,  # per-doc tf computed inside the row (no vocabulary
        # explode); corpus stats attach as a keyless SINGLE-ROW
        # broadcast (BroadcastNestedLoopJoin with a 1-row build side is
        # the correct plan for that, like the LM's corpus-total ride);
        # global top-k as TakeOrderedAndProject — never a full sort
        ["TakeOrderedAndProject", "BroadcastExchange"],
        ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    # ---- r11: top-20 previously-unpinned bench rows + r10/r11
    # registry additions (VERDICT r10 #5). Budgets == measured at
    # sf0.01 with AQE off, so a shuffle regression FAILS loudly.
    "pca_top_component": (
        1,  # one dim-agg exchange; scatter solve is closed-form SQL
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "pagerank_canonical": (
        6,  # fixed-iteration label loop: edge hash reused per round,
        # dangling-mass attach broadcasts; the rank<->edge join is
        # corpus-scale on both sides, so SMJ there is the honest plan
        ["codegen id", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "planner_fallback": (
        4,  # one exact range scan per level and one sort over their
        # union; the other three are the channel hash exchanges of the
        # raw load and the 6 h re-aggregation that build the levels
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "ca_live_subscribe_typed": (
        4,  # simulator harness: ONE MapInPandas wire-codec crossing,
        # metadata attach broadcasts — never SMJ against the tiny dim
        ["codegen id", "MapInPandas", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "embedding_dedup_clusters": (
        3,  # band join + CC attach: both sides corpus-scale, SMJ is
        # the honest plan (broadcast would lie at 100 TB); no Python
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "containment_pairs": (
        3,  # banded candidates join broadcast-side; no quadratic path
        ["codegen id", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "decimate_mixed_1h": (
        2,  # same contract as decimate_1h: one channel exchange
        # (shared by the full 20-type union's windows) + final agg
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "ann_kmeans_ivf_topk": (
        None,  # k-means iterations dominate the exchange count
        # (data-dependent); the centroid attach is a small-build
        # BroadcastNestedLoopJoin by design, global top-k never sorts
        ["codegen id", "TakeOrderedAndProject"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "ann_kmeans_clusters": (
        None,  # same shape as ann_kmeans_ivf_topk
        ["codegen id", "TakeOrderedAndProject"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "cluster_representatives": (
        None,  # CC loop + per-cluster top-1: iteration-count-driven
        ["codegen id", "TakeOrderedAndProject"],
        ["CartesianProduct", "BatchEvalPython"],
    ),
    "curate_corpus": (
        4,  # quality gate -> dedup survivor anti-join -> decontam
        # screen as ONE plan; survivor join is corpus-scale (SMJ ok)
        ["codegen id", "BroadcastHashJoin"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
    ),
    "ca_live_subscribe": (
        2,  # untyped simulator leg: one MapInPandas codec crossing
        ["codegen id", "MapInPandas", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "audio_downsample_features": (
        1,  # decode+feature kernel is ONE row-local Arrow crossing
        ["codegen id", "MapInPandas", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "image_resize_dhash": (
        1,  # same contract as the audio kernel
        ["codegen id", "MapInPandas", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "pick_first_1h": (
        2,  # channel exchange + output sort, like decimate_1h
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "channel_correlation_matrix": (
        5,  # per-channel grids pair up through a broadcast; the
        # single-row stats ride is a 1-row BroadcastNestedLoopJoin
        ["codegen id", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    # lifecycle/streaming rows return the materialized table read —
    # the pin asserts the READ path stays a flat pruned scan (the
    # pipelines' own plan shapes are pinned by their batch twins)
    "pair_table_streams": (
        1,
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "store_schema_reverse": (
        3,
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "heartbeat_stream_connected_1h": (
        1,
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "store_level_drop_invariance": (
        1,
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "pair_table_probe_pruned": (
        4,  # the persisted-index probe: batch band keys reach the
        # corpus bands scan as an In predicate (row-group pruning on
        # the key-sorted files) — THE property this row exists to pin.
        # Budget == measured: output range sort + the delta chain's two
        # aggregation hashes + the batch shingle hash; the round-11
        # review fix (unpersist the probe intermediates after the build
        # materializes) re-exposed the batch hash in the audited
        # lineage that a leaked persist used to mask at pin time
        ["codegen id", "In(key, [", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    # bench-only index builds (resolved via bench.SPECIAL)
    "materialize_minhash_pairs": (
        4,  # band equi-join + set verify; candidates broadcast-side.
        # +1 (r11): the deliberate cores-derived candidate repartition
        # that spreads the compute-bound per-pair set intersection
        # (dedup.minhash_lsh_pairs verify) — a few-bytes id-pair
        # exchange buying verify parallelism
        ["codegen id", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
    "materialize_srp_pairs": (
        4,  # ONE Arrow crossing: the numpy SRP signature kernel
        # (ArrowEvalPython is the vectorized pandas_udf — required,
        # not forbidden, for this row). Exchanges: the candidate pair
        # dedup; the cores-derived candidate repartition spreading the
        # cosine verify kernel (similarity.srp_near_pairs), which reuses
        # the dedup exchange when defaultParallelism equals
        # spark.sql.shuffle.partitions (local[4]); and the cores-derived
        # signature spread before its persist (srp_candidate_pairs),
        # which runs once but prints under BOTH join sides'
        # InMemoryRelation, so it counts twice: 4 on local[32], 3 on
        # local[4]
        ["codegen id", "ArrowEvalPython", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "materialize_pq_index": (
        8,  # per-subspace k-means rounds; codebook attach broadcasts.
        # r11: the seed TakeOrderedAndProject now lives INSIDE the
        # checkpointed one-time codebook build (pq_fit_encode
        # checkpoint_books) — the audited post-checkpoint plan shows
        # the broadcast attach + assignment window only
        ["codegen id", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"],
    ),
    "pair_table_update": (
        0,  # the timed body reads the maintained index + batch from
        # cache and commits — zero shuffles in the returned view
        ["codegen id", "PushedFilters"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
    ),
}


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.01"
    only: list[str] = []
    for a in args:
        if os.path.isdir(a):
            sf_dir = a
        else:
            only.append(a)
    from cassandra_pv_archiver_spark.registry import REGISTRY
    from cassandra_pv_archiver_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE wraps plans in AdaptiveSparkPlan placeholders that hide codegen
    # annotations until execution; plan *shape* is what we audit, so turn
    # it off here (production keeps it on).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    failures = 0
    todo = {
        n: e for n, e in EXPECTATIONS.items() if not only or n in only
    }
    # bench-only rows (the materialize_* index builds, pair_table_update)
    # live in bench.SPECIAL, not the registry — audit them from there
    # (VERDICT r10 #5: every headline bench row carries a pin)
    import bench as _bench

    for name, (max_ex, requires, forbids) in todo.items():
        fn = REGISTRY[name][0] if name in REGISTRY else _bench.SPECIAL[name]
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # also the formatted plan for pushdown details
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        blob = plan + "\n" + buf.getvalue()
        problems = []
        n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan))
        if max_ex is not None and n_ex > max_ex:
            problems.append(f"{n_ex} exchanges > budget {max_ex}")
        for req in requires:
            if req not in blob:
                problems.append(f"missing: {req}")
        for bad in forbids:
            if bad in blob:
                problems.append(f"forbidden: {bad}")
        if problems:
            failures += 1
            print(f"[FAIL] {name}: " + "; ".join(problems))
        else:
            print(f"[ OK ] {name} (exchanges={n_ex})")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
