"""Persist hygiene (r11 review #2): query-body persists must not
outlive the invocation when the caller drains — otherwise a repeated
timing pass silently reads the previous pass's cache (CacheManager
dedupes by analyzed plan) and a long-lived session leaks memory."""

from __future__ import annotations

from pyspark.sql import functions as F


def _n_cached(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    # CacheManager has no size(); isEmpty() is enough for delta checks
    return 0 if cm.isEmpty() else 1


def test_drain_unpersists_query_body_persists(spark):
    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.operators.sketches import (
        cms_heavy_hitter_audit,
    )
    from cassandra_pv_archiver_spark.operators.text import oov_rate

    # start from a clean slate so isEmpty() is meaningful
    spark.catalog.clearCache()
    cache_scope.drain()
    assert _n_cached(spark) == 0

    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat('tok', CAST(id % 7 AS STRING), ' tok',"
        " CAST(id % 3 AS STRING)) AS text",
    )
    cms_heavy_hitter_audit(docs, top_k=5).count()
    oov_rate(docs, top_n=3).count()
    assert _n_cached(spark) == 1  # the persists are live mid-invocation

    n = cache_scope.drain()
    assert n >= 2
    assert _n_cached(spark) == 0  # nothing outlives the drain
    assert cache_scope.drain() == 0  # idempotent


def test_drained_query_recomputes_and_matches(spark):
    """After a drain the same query rebuilds from source and returns
    identical rows (the bench pass-2 honesty property)."""
    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.operators.sketches import (
        cms_heavy_hitter_audit,
    )

    docs = spark.range(40).selectExpr(
        "id AS doc_id",
        "concat('w', CAST(id % 5 AS STRING)) AS text",
    )
    a = [tuple(r) for r in cms_heavy_hitter_audit(docs, top_k=4).collect()]
    cache_scope.drain()
    b = [tuple(r) for r in cms_heavy_hitter_audit(docs, top_k=4).collect()]
    cache_scope.drain()
    assert a == b


def test_registry_persist_sites_register_with_cache_scope(spark, tmp_path):
    """The four r11-flagged sites (cms, oov, bpe occurrence table,
    vocab-overlap top table) must all route through cache_scope so
    bench.run_one's drain reaches them."""
    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.catalog_data import (
        q_bpe_tokenize_audit,
        q_source_vocab_overlap,
    )

    sf = str(tmp_path)
    docs = spark.range(50).selectExpr(
        "id AS doc_id",
        "concat('word', CAST(id % 11 AS STRING), ' and word',"
        " CAST(id % 4 AS STRING)) AS text",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
        "concat('src', CAST(id % 3 AS STRING)) AS source",
    )
    docs.write.parquet(sf + "/documents.parquet")
    cache_scope.drain()
    q_source_vocab_overlap(spark, sf).count()
    assert cache_scope.drain() >= 1
    q_bpe_tokenize_audit(spark, sf).count()
    assert cache_scope.drain() >= 1


def _cm(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _held(spark, df) -> bool:
    return _cm(spark).lookupCachedData(df._jdf).isDefined()


def _frame(spark, tag: str):
    return spark.range(8).selectExpr(f"id * 7 + length('{tag}') AS x")


def test_persist_of_caller_cached_frame_is_not_owned(spark):
    from cassandra_pv_archiver_spark import cache_scope

    cache_scope.drain()
    df = _frame(spark, "caller-owned").persist()
    try:
        assert cache_scope.persist(df) is df
        # Spark keys its cache by plan: a plan-equal twin is the same
        # entry, and releasing it would unpersist the caller's table
        cache_scope.persist(_frame(spark, "caller-owned"))
        assert cache_scope.drain() == 0  # nothing was registered
        assert _held(spark, df)
    finally:
        df.unpersist()


def test_unscoped_persist_is_released_by_drain(spark):
    from cassandra_pv_archiver_spark import cache_scope

    cache_scope.drain()
    df = cache_scope.persist(_frame(spark, "unscoped"))
    assert _held(spark, df)
    assert cache_scope.drain() == 1
    assert not _held(spark, df)


def test_scope_exit_by_exception_unpersists(spark):
    import pytest

    from cassandra_pv_archiver_spark import cache_scope

    before = _cm(spark).numCachedEntries()
    with pytest.raises(RuntimeError):
        with cache_scope.scope():
            df = cache_scope.persist(_frame(spark, "raises"))
            assert _held(spark, df)
            raise RuntimeError("mid-scope failure")
    assert not _held(spark, df)
    assert _cm(spark).numCachedEntries() == before
    assert cache_scope.drain() == 0  # nothing leaked into the log


def test_nested_scopes_release_only_their_own(spark):
    from cassandra_pv_archiver_spark import cache_scope

    cache_scope.drain()
    with cache_scope.scope():
        outer = cache_scope.persist(_frame(spark, "outer"))
        with cache_scope.scope():
            inner = cache_scope.persist(_frame(spark, "inner"))
        assert not _held(spark, inner)
        assert _held(spark, outer)
    assert not _held(spark, outer)
    assert cache_scope.drain() == 0


def test_session_view_is_built_once_and_rebuilt_on_demand(spark):
    from cassandra_pv_archiver_spark import cache_scope

    builds = []

    @cache_scope.session_view("test_two_part_view")
    def view(spark, sf_dir):
        builds.append(sf_dir)
        return _frame(spark, "view-a" + sf_dir), _frame(spark, "view-b" + sf_dir)

    a, b = view(spark, "x")
    assert view(spark, "x") == (a, b) and builds == ["x"]
    assert _held(spark, a) and _held(spark, b)
    cache_scope.drain()  # invocation drains leave session views alone
    assert _held(spark, a) and _held(spark, b)
    a2, _ = cache_scope.rebuild(spark, "x", view)
    assert builds == ["x", "x"] and a2 is not a
    assert _held(spark, a2)
    assert cache_scope.drop_views() >= 1
    assert not _held(spark, a2)


def test_apply_batch_leaves_cache_as_found(spark, tmp_path, monkeypatch):
    """PairTableView.apply_batch releases every intermediate the dedup
    operators persisted, on success and on a CommitRefused replay (a
    concurrent replay that passed the marker fast path)."""
    from cassandra_pv_archiver_spark.operators import dedup
    from cassandra_pv_archiver_spark.sources.pair_store import PairTableView

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "p q r s t")],
        "doc_id bigint, text string",
    )
    sh = dedup.shingles(docs)
    view = PairTableView(spark, str(tmp_path / "pairs"))
    before = _cm(spark).numCachedEntries()
    v = view.apply_batch(sh, sh, marker="leak-batch-1")
    assert _cm(spark).numCachedEntries() == before
    monkeypatch.setattr(PairTableView, "has_marker", lambda self, m: False)
    assert view.apply_batch(sh, sh, marker="leak-batch-1") == v
    assert _cm(spark).numCachedEntries() == before


def test_probe_pruned_build_releases_probe_intermediates(spark, tmp_path):
    """The pair_table_probe_pruned view keeps exactly its materialized
    pair table: the delta probe's persisted batch shingles, band keys
    and candidates are released once it is built."""
    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark import catalog_data as cd

    base = "alpha beta gamma delta epsilon zeta eta theta"
    spark.createDataFrame(
        [(i, f"{base} w{i % 3}") for i in range(1, 25)],
        "doc_id bigint, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    cache_scope.drain()
    before = _cm(spark).numCachedEntries()
    out = cd._pair_table_probe_pruned(spark, str(tmp_path))
    assert out.count() > 0
    assert _held(spark, out)
    assert _cm(spark).numCachedEntries() == before + 1
    assert cache_scope.drain() == 0
    cache_scope.rebuild(spark, str(tmp_path), cd._pair_table_probe_pruned)
    assert not _held(spark, out)
    assert _cm(spark).numCachedEntries() == before + 1


def test_write_samples_keeps_the_callers_cache(spark, tmp_path):
    """``write_samples`` persists its batch for the maxima collect and
    the write; a batch the caller already cached stays cached after it."""
    from cassandra_pv_archiver_spark.sources.archive_store import (
        RAW_SCHEMA,
        ArchiveStore,
    )

    store = ArchiveStore(spark, str(tmp_path / "archive"))
    df = spark.createDataFrame(
        [("PV:A", 1_000_000_000, 1.0, 0, 0)], RAW_SCHEMA
    ).persist()
    try:
        assert store.write_samples(df, 0) == 1
        assert _held(spark, df)
    finally:
        df.unpersist()


def test_bpe_learn_raising_mid_loop_leaves_nothing_cached(spark, monkeypatch):
    import pytest

    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.operators import bpe

    def boom(*_args):
        raise RuntimeError("merge failed mid-loop")

    docs = spark.createDataFrame(
        [(1, "lower lowest newer newest"), (2, "low new wider")],
        "doc_id bigint, text string",
    )
    cache_scope.drain()
    before = _cm(spark).numCachedEntries()
    monkeypatch.setattr(bpe, "_merge_expr", boom)
    with pytest.raises(RuntimeError, match="mid-loop"):
        bpe.bpe_learn(docs, n_merges=3)
    assert _cm(spark).numCachedEntries() == before
    assert cache_scope.drain() == 0


def _rdd_blocks(spark, rdd) -> int:
    """Blocks of the JVM RDD ``rdd`` the local block manager (the one
    executor of a ``local[n]`` session) still stores."""
    jvm = spark.sparkContext._jvm
    bm = spark.sparkContext._jsc.sc().env().blockManager()
    return sum(
        bm.getStatus(jvm.org.apache.spark.storage.RDDBlockId(rdd.id(), p))
        .isDefined()
        for p in range(rdd.getNumPartitions())
    )


def test_scope_exit_frees_the_blocks_before_returning(spark):
    """``scope()`` unpersists with ``blocking=True``: right after the
    ``with`` block the block manager holds none of the persist's blocks,
    so the next job never shares executor memory with them."""
    from cassandra_pv_archiver_spark import cache_scope

    with cache_scope.scope():
        df = cache_scope.persist(_frame(spark, "blocking").repartition(4))
        df.count()
        rdd = (
            _cm(spark).lookupCachedData(df._jdf).get().cachedRepresentation()
            .cacheBuilder().cachedColumnBuffers()
        )
        assert _rdd_blocks(spark, rdd) == 4
    assert _rdd_blocks(spark, rdd) == 0
