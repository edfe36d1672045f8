"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed via a count-style action (``df.count()`` after the
full plan) so results materialize without driver-side collect of big rows.
A warmup pass on sf0.001 first-touches the JVM/codegen so the timed numbers
measure the plan, not Spark startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cassandra_pv_archiver_spark import cache_scope
from cassandra_pv_archiver_spark.registry import REGISTRY
from cassandra_pv_archiver_spark.session import get_spark

#: headline queries: archiver core + generic relational + data pipeline.
BENCH_QUERIES = [
    "raw_scan",
    "asof_pair_align",
    "range_limit_modes",
    "decimate_1h",
    "decimate_cascade_6h",
    "decimate_cascade_1d",
    "decimate_mixed_1h",
    "decimate_typed_1h",
    "json_v1_typed_1h",
    "json_v1_raw_typed",
    "pick_first_1h",
    "decimate_plugin_median_1h",
    "union_levels",
    "planner_fallback",
    "heartbeat_1h",
    "severity_daily",
    "severity_rollup",
    "channel_gap_stats",
    "fuzzy_channel_pairs",
    "channel_dim_join",
    "channel_regex",
    "enabling_link",
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "tpch_q18",
    "lapsed_customers",
    "window_running_total",
    "sessionize_30m",
    "conversion_funnel",
    "weekly_cohort_retention",
    "events_sliding_1h",
    "events_pivot",
    "events_dow_profile",
    "events_unpivot",
    "dedup_exact",
    "materialize_minhash_pairs",
    "materialize_srp_pairs",
    "dedup_best_survivor",
    "mix_corpus_ratios",
    "contamination_exact_run",
    "dedup_rate_by_source",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_incremental",
    "vocab_topk",
    "doc_sample_10pct",
    "balanced_sample_per_lang",
    "contamination_3gram",
    "stratified_split",
    "sequence_packing",
    "quality_quantiles",
    "quality_filtered_stats",
    "curate_corpus",
    "text_metrics",
    "repetition_metrics",
    "oov_rate",
    "distinctive_terms",
    "corpus_correlations",
    "token_count_bpe",
    "doc_fingerprint",
    "ann_cosine_topk",
    "ann_kmeans_clusters",
    "ann_kmeans_ivf_topk",
    "cluster_representatives",
    "channel_correlation_matrix",
    "cluster_quality_report",
    "embedding_near_dup_lsh",
    "embedding_dedup_clusters",
    "crossmodal_pairs",
    "multimodal_frames",
    # round 4
    "semantic_dedup",
    "pii_scan_by_source",
    "substring_dup_spans",
    "embedding_quantize_audit",
    "dsir_importance",
    "threshold_crossings",
    "approx_distinct_audit",
    "plot_query_240px",
    "value_histogram",
    "lagged_correlation_1h",
    "channel_outliers_mad",
    "plot_downsample_m4",
    "counter_rate_6h",
    "resample_linear_1h",
    # round 5
    "store_cdc_diff",
    "ngram_novelty",
    "context_chunks",
    "group_split_guard",
    "curriculum_bins",
    # round 6
    "cusum_changepoints",
    "distribution_drift",
    "sax_motifs",
    "cdc_chunk_dedup",
    "mixture_temperature_alloc",
    "image_dhash_near_dup",
    "channel_acf_1h",
    "channel_trend_1h",
    "ann_recall_audit",
    "cms_heavy_hitters",
    "lsh_recall_audit",
    "quality_ks_by_source",
    "array_elementwise_stats",
    "containment_pairs",
    "pack_efficiency",
    # round 7
    "enabling_link_multi",
    "containment_pairs_lsh",
    "containment_recall_audit",
    "pair_table_incremental",
    "pair_table_update",
    "ca_ingest_roundtrip_1h",
    "bloom_decontam_audit",
    "ca_array_roundtrip_stats",
    "epoch_shuffle",
    "audio_features_wav",
    "video_frame_sample",
    "ca_live_subscribe",
    "bpe_merges",
    "audio_fingerprint_near_dup",
    "bpe_tokenize_audit",
    "materialize_pq_index",
    "pq_codebook_audit",
    "pq_adc_recall",
    "weighted_sample_per_lang",
    "seasonal_hod_anomalies",
    "ivfpq_adc_recall",
    "pq_staleness_audit",
    "shuffle_skew_report",
    "ewma_by_channel",
    "dim_truncation_recall",
    "zipf_vocab_profile",
    "channel_health_report",
    "wsample_bias_audit",
    "events_json_props",
    "decontam_two_stage",
    "build_training_shard",
    "ivfpq_rerank_recall",
    "source_vocab_overlap",
    # round 8 (r6 of the build)
    "ca_typed_roundtrip_1h",
    "ca_wire_matrix",
    "ca_ctrl_metadata",
    "ca_live_subscribe_typed",
    "split_leakage_audit",
    "hard_negative_mining",
    "dim_variance_selection_recall",
    "json_v1_ca_wire",
    "image_resize_dhash",
    "audio_downsample_features",
    "pca_top_component",
    # round 9 (r7 of the build)
    "lm_quality_score",
    "lm_backoff_census",
    "ridge_probe",
    "boilerplate_spans",
    "boilerplate_by_source",
    "quality_filter_report",
    "pair_pagerank",
    "pagerank_canonical",
    "attribution_last_touch",
    "chunk_dedup_rewrite",
    "audio_vad_segments",
    "curate_round7",
    "image_phash_mixed_codec",
    # level_backfill_6h and store_rename_invariance are store-lifecycle
    # correctness queries (per-invocation store build/clone dominates),
    # not throughput queries — the archive_incremental/stream_lifecycle
    # precedent keeps those out of bench

    # round 8: retrieval + range join (admin_commands_roundtrip and
    # stream_watermark_counts are store-build correctness rows, out by
    # the same precedent)
    "bm25_topk",
    "purchase_window_rollup",
    # round 8: storage-sizing analytics (lag-lag windows on the shared
    # per-channel exchange; raw + lattice union for gorilla)
    "ts_gorilla_size",
    "bucket_rollover_estimate",
    # round 10 (store_schema_reverse is a store-lifecycle correctness
    # row, out by the store-build precedent above)
    "heartbeat_connected_1h",
]

WARMUP_DIR = "/root/testdata/sf0.001"


def _materialize(kind: str):
    """Bench-only entries timing the COLD build of the session-level LSH
    pair tables (catalog_data._PAIR_CACHE). The registry queries that
    consume a pair table measure their INCREMENTAL cost (the
    materialized-view usage model); these two entries keep the one-time
    build cost visible in the record instead of letting min-of-two-passes
    absorb it silently."""
    from cassandra_pv_archiver_spark import catalog_data as cd

    def run(spark, sf_dir):
        key = (spark.sparkContext.applicationId, sf_dir, kind)
        df = cd._PAIR_CACHE.pop(key, None)
        if df is not None:
            df.unpersist()
        if kind == "minhash_pairs":
            return cd._minhash_pairs(spark, sf_dir)
        return cd._srp_pairs(spark, sf_dir)

    return run


def _pair_update():
    """Bench-only entry timing ONE incremental pair-table maintenance
    batch (sources/pair_store.PairTableView.apply_batch): the per-ingest
    operational cost of the persisted materialized view — cross + within
    -batch pair computation plus the manifest commit, corpus ⋈ corpus
    never recomputed. Setup (doc-table commits, corpus/batch shingle
    tables) is session-cached so the timed body is the update alone."""
    state: dict = {}

    def run(spark, sf_dir):
        import uuid as _uuid

        from pyspark.sql import functions as F

        from cassandra_pv_archiver_spark import catalog_data as cd
        from cassandra_pv_archiver_spark.catalog import _scratch_dir
        from cassandra_pv_archiver_spark.operators import dedup
        from cassandra_pv_archiver_spark.sources.pair_store import PairTableView

        key = (spark.sparkContext.applicationId, sf_dir)
        if state.get("key") != key:
            docs = cd.load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            is_new = F.col("doc_id") % cd.DELTA_NEW_MOD == 0
            state["key"] = key
            state["root"] = _scratch_dir("pvpairs_bench_")
            state["sh_batch"] = dedup.shingles(docs.filter(is_new)).persist()
            # the maintained corpus LSH index (band keys + shingle sets):
            # the operational per-batch path probes it instead of
            # re-deriving minhashes over the corpus each batch, so THAT
            # is what this entry times (the index build itself is the
            # one-time cost the materialize_* entries keep visible)
            bands, sets = dedup.corpus_index(
                dedup.shingles(docs.filter(~is_new)),
                cd.MINHASH_K, cd.MINHASH_BAND,
            )
            state["index"] = (bands.persist(), sets.persist())
            state["index"][0].count(), state["index"][1].count()
            state["sh_batch"].count()
        view = PairTableView(
            spark,
            state["root"] + "/view-" + _uuid.uuid4().hex,
            cd.MINHASH_K,
            cd.MINHASH_BAND,
            cd.MINHASH_VERIFY,
        )
        view.apply_batch(
            None, state["sh_batch"], corpus_index=state["index"]
        )
        return view.read()

    return run


def _materialize_pq():
    """Bench-only entry timing the COLD PQ index fit (codes + books) —
    the one-time build the two PQ consumers (`pq_codebook_audit`,
    `pq_adc_recall`) amortize through catalog_data._pq_fit's session
    cache; same visibility contract as the pair-table materialize
    entries."""
    from cassandra_pv_archiver_spark import catalog_data as cd

    def run(spark, sf_dir):
        key = (spark.sparkContext.applicationId, sf_dir, "pq_fit")
        fit = cd._PAIR_CACHE.pop(key, None)
        if fit is not None:
            for df in fit:
                df.unpersist()
        codes, books = cd._pq_fit(spark, sf_dir)
        books.count()
        return codes

    return run


#: bench-only callables (not registry queries — no oracle of their own;
#: their outputs ARE the oracled pair queries)
SPECIAL = {
    "materialize_minhash_pairs": _materialize("minhash_pairs"),
    "materialize_srp_pairs": _materialize("srp_pairs"),
    "pair_table_update": _pair_update(),
    "materialize_pq_index": _materialize_pq(),
}


def run_one(spark, name: str, sf_dir: str) -> float:
    fn = SPECIAL.get(name) or REGISTRY[name][0]
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.count()
    dt = time.time() - t0
    # Measurement-bug fix:
    # query-BODY persists (cms/oov/bpe/vocab-overlap term tables) are
    # invocation-scoped, but Spark's CacheManager dedupes by analyzed
    # plan — without draining them here, the second timed pass read the
    # cache built in pass 1 and min-of-two under-reported those rows
    # (r11 record: cms_heavy_hitters 0.29 s vs ~0.7 s honest). The
    # drain runs AFTER the timed action, so each pass pays its full
    # plan. Session-scoped pair/PQ caches are untouched (their build
    # cost is adjudicated by the materialize_* entries).
    cache_scope.drain()
    return dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    for name in BENCH_QUERIES:  # warmup: JIT + codegen caches
        try:
            run_one(spark, name, WARMUP_DIR)
        except Exception:  # noqa: BLE001
            pass

    # two timed passes, min per query: this box shows 2-3x whole-suite
    # swings from host-level contention (see PERF.md); the min of two warm
    # runs reports the plan's cost, not the neighbor's
    timings: dict[str, float] = {}
    for _ in range(2):
        for name in BENCH_QUERIES:
            dt = run_one(spark, name, sf_dir)
            prev = timings.get(name)
            timings[name] = round(dt if prev is None else min(prev, dt), 3)

    # Noise adjudication at RECORD time (VERDICT r5 #3): the r05 record
    # carried four phantom regressions (up to +84 %) that isolated
    # re-runs erased — host contention during the suite pass, not plan
    # changes. Any entry >= 1.3x its prior record (and >= 0.5 s absolute
    # — round_gate's own regression thresholds) re-runs ISOLATED,
    # min-of-3, before the record is written; both numbers are kept in
    # the details sidecar so a future diff sees the adjudication.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    details_path = os.path.join(repo_dir, "bench_details.json")
    # the PRIOR for adjudication is the newest DATED sidecar
    # (bench_details_r{N}.json, N parsed numerically — lexicographic
    # compare breaks past the pad width), i.e. the last *recorded
    # round*, not the mutable bench_details.json that every local rerun
    # overwrites (VERDICT r8 #2: a noisy local run would otherwise
    # become the baseline and mask the 1.3x trigger). Falls back to
    # bench_details.json only when no dated sidecar exists yet.
    prior_path, prior_round = details_path, -1
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(r"bench_details_r(\d+)\.json", fn)
        if m and int(m.group(1)) > prior_round:
            prior_round = int(m.group(1))
            prior_path = os.path.join(repo_dir, fn)
    prior: dict[str, float] = {}
    try:
        with open(prior_path) as fh:
            rec = json.load(fh)
        if rec.get("sf") == sf:  # a different-SF record is no baseline
            prior = rec.get("queries", {})
    except (OSError, ValueError):
        pass
    suite_total = round(sum(timings.values()), 3)  # pre-adjudication
    isolated: dict[str, dict[str, float]] = {}
    for name in BENCH_QUERIES:
        p, dt = prior.get(name), timings[name]
        if p and dt >= 1.3 * p and dt - p >= 0.5:
            iso = round(
                min(run_one(spark, name, sf_dir) for _ in range(3)), 3
            )
            isolated[name] = {"suite": dt, "isolated": iso, "prior": p}
            timings[name] = min(dt, iso)
    # the STABLE headline (VERDICT r9 #6): per-row min over the suite
    # passes and any adjudicated isolated rerun — round-over-round
    # comparisons should start here, not from the contention-exposed
    # suite total (same-code full-suite totals span 182-226 s on this
    # box; PERF.md)
    total = round(sum(timings.values()), 3)

    # Full per-query timings go to a sidecar file; the driver's stdout
    # capture keeps only the LAST 2000 bytes, so the final printed line must
    # stay comfortably under that (round 2 lost its bench record to a
    # beheaded 2.5 kB line). The printed "queries" dict is filled with the
    # slowest queries first until the serialized line would exceed the
    # budget; bench_details.json always has all of them.
    with open(details_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "headline_isolated_total": total,
                "suite_total": suite_total,
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "isolated": isolated,
            },
            fh,
        )

    line_budget = 1600  # hard driver cap is 2000; leave margin for a \n etc.
    shown: dict[str, float] = {}
    base = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "headline_isolated_total": total,
        "suite_total": suite_total,
        "queries": shown,
        "sf": sf,
        "n_queries": len(timings),
        "n_isolated_reruns": len(isolated),
        "details": "bench_details.json",
    }
    for name in sorted(timings, key=timings.get, reverse=True):
        shown[name] = timings[name]
        if len(json.dumps(base, separators=(",", ":"))) > line_budget:
            del shown[name]
            break
    print(json.dumps(base, separators=(",", ":")))


if __name__ == "__main__":
    main()
