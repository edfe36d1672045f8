"""ManifestTable commit-protocol tests: crash-safety and reader isolation.

The reference keeps bucket mutations crash-safe with a pending-operations
table (`ChannelMetaDataDAOImpl.java:2124-2144`); the Spark-side analog is
immutable data files + a rename-committed manifest (sources/manifest.py).
These tests pin the two properties that design buys:

* a writer killed at ANY point before its commit rename leaves the table
  bit-identical for readers (orphans invisible, gc-able);
* a reader concurrent with repeated append/compact swaps never observes a
  torn table (the delete-then-rename failure mode of round 2's
  ``HadoopFS.replace``).
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from cassandra_pv_archiver_spark.sources.archive_store import NS, ArchiveStore
from cassandra_pv_archiver_spark.sources.manifest import ManifestTable


def _mk(spark, root):
    return ManifestTable(spark, root)


def _write_files(spark, table, n, start=0):
    stage = table.stage_dir()
    spark.range(start, start + n).select(
        F.col("id").alias("a")
    ).repartition(n).write.parquet(stage)
    return table.publish_stage(stage)


def test_commit_and_read_roundtrip(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t1"))
    assert t.files() is None and t.current_version() is None
    _write_files(spark, t, 3)
    assert t.current_version() == 0
    assert len(t.files()) == 3
    assert spark.read.parquet(*t.paths()).count() == 3
    _write_files(spark, t, 2, start=3)
    assert t.current_version() == 1
    assert len(t.files()) == 5
    assert spark.read.parquet(*t.paths()).count() == 5


def test_crashed_writer_leaves_table_unchanged(spark, tmp_path):
    """Simulate every pre-commit crash point: staged files without a
    publish, and a written-but-never-renamed .tmp manifest. Readers see
    the committed version only; gc removes the debris."""
    t = _mk(spark, str(tmp_path / "t2"))
    _write_files(spark, t, 3)
    before_files = sorted(t.files())

    # crash A: stage written, publish never ran
    stage = t.stage_dir()
    spark.range(100, 105).write.parquet(stage)

    # crash B: files moved into the layout but commit rename never ran
    # (equivalently: .tmp manifest written, rename lost)
    t.fs.write_text(f"{t.root}/_manifests/.tmp-dead", "garbage-file.parquet\n")
    spark.range(200, 203).coalesce(1).write.parquet(f"{t.root}/_orphan_probe")
    orphan = t.fs.list_files_recursive(f"{t.root}/_orphan_probe")[0]
    assert t.fs.rename_no_overwrite(
        f"{t.root}/_orphan_probe/{orphan}", f"{t.root}/crashed-{orphan}"
    )

    # reader: same version, same files, same rows
    assert sorted(t.files()) == before_files
    assert spark.read.parquet(*t.paths()).count() == 3

    # a DEFAULT-grace gc must NOT touch the fresh debris: a
    # never-referenced file is indistinguishable from a concurrent
    # writer's in-flight publish, and deleting its .tmp manifest would
    # fail that writer's commit rename mid-flight
    kept = t.gc(keep_versions=2)
    assert not any("crashed-" in d for d in kept)
    assert any(
        n.startswith(".tmp-") for n in t.fs.listdir(f"{t.root}/_manifests")
    )

    # grace 0 (single-writer recovery): all crash debris removed
    deleted = t.gc(keep_versions=2, grace_seconds=0)
    assert any("crashed-" in d for d in deleted)
    assert sorted(t.files()) == before_files
    assert not any(
        n.startswith(".tmp-") for n in t.fs.listdir(f"{t.root}/_manifests")
    )


def test_replaced_files_survive_until_gc(spark, tmp_path):
    """A compacting commit must NOT delete the files it replaces — an
    in-flight reader of the previous version still needs them."""
    t = _mk(spark, str(tmp_path / "t3"))
    _write_files(spark, t, 4)
    v0_paths = t.paths()
    old = t.files()
    stage = t.stage_dir()
    spark.read.parquet(*v0_paths).coalesce(1).write.parquet(stage)
    t.publish_stage(stage, remove=old)
    # v0's files still readable after the v1 commit
    assert spark.read.parquet(*v0_paths).count() == 4
    assert spark.read.parquet(*t.paths()).count() == 4
    t.gc(keep_versions=1)
    for p in v0_paths:
        assert not t.fs.exists(p)


def test_concurrent_committers_never_lose_an_append(spark, tmp_path):
    """Two independent table handles appending concurrently: the
    no-overwrite rename makes version claims race-free and add/remove
    rebasing makes appends commute — every file lands in the final
    manifest exactly once."""
    root = str(tmp_path / "t4")
    t1, t2 = _mk(spark, root), _mk(spark, root)
    errs = []

    def appender(t, start):
        try:
            for i in range(3):
                _write_files(spark, t, 1, start=start + i)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th1 = threading.Thread(target=appender, args=(t1, 0))
    th2 = threading.Thread(target=appender, args=(t2, 100))
    th1.start(), th2.start()
    th1.join(120), th2.join(120)
    assert not errs
    assert len(t1.files()) == 6
    vals = {r.a for r in spark.read.parquet(*t1.paths()).collect()}
    assert vals == {0, 1, 2, 100, 101, 102}


def test_reader_never_sees_torn_store_during_compaction(spark, tmp_path):
    """The VERDICT-r2 acceptance test: a reader hammering read_samples
    while the store compacts (and re-fragments) repeatedly must always
    see the full committed row count — with round 2's delete-then-rename
    swap this reliably threw FileNotFound / returned partial counts."""
    store = ArchiveStore(spark, str(tmp_path / "store"))
    rows = [
        (f"ch{i % 4}", (1_000 + i) * NS, float(i), 0, 0) for i in range(64)
    ]
    for k in range(4):  # fragmented: 4 append commits
        batch = spark.createDataFrame(
            rows[k * 16 : (k + 1) * 16],
            "channel string, t long, v double, severity int, status int",
        )
        store.write_samples(batch, level=0)
    assert store.read_samples(0).count() == 64

    stop = threading.Event()
    failures: list[str] = []

    def reader():
        while not stop.is_set():
            try:
                n = store.read_samples(0).count()
                if n != 64:
                    failures.append(f"saw {n} rows")
                    return
            except Exception as e:  # noqa: BLE001
                failures.append(repr(e))
                return

    th = threading.Thread(target=reader)
    th.start()
    try:
        store.compact(0, target_files_per_partition=1)  # 4 files -> 1
        for _ in range(4):
            # boundary-partition retention rewrite (cutoff below all data:
            # row-preserving, but swaps the partition's file set each time)
            store.delete_older_than(0, 0)
    finally:
        stop.set()
        th.join(120)
    assert not failures, failures
    assert store.read_samples(0).count() == 64


def test_commit_sequences_match_set_model(spark, tmp_path):
    """Model-based check of the commit protocol: any sequence of
    add/remove/gc operations must leave the manifest equal to a plain
    python-set model — and after every step the CURRENT manifest's files
    all physically exist (a reader can always materialize the table).
    Deterministic op sequences generated from a seeded RNG (hypothesis'
    process-global DB does not mix well with one shared SparkSession, so
    the generator is inlined)."""
    import random

    rng = random.Random(0xC0FFEE)
    t = ManifestTable(spark, str(tmp_path / "model"))
    model: set[str] = set()
    counter = 0
    for step in range(40):
        op = rng.choice(["add", "add", "remove", "gc"])
        if op == "add":
            n = rng.randint(1, 3)
            stage = t.stage_dir()
            spark.range(counter, counter + n).repartition(n).write.parquet(
                stage
            )
            counter += n
            added = t.publish_stage(stage)
            assert len(added) == n
            model |= set(added)
        elif op == "remove" and model:
            drop = set(rng.sample(sorted(model), rng.randint(1, len(model))))
            t.commit(remove=sorted(drop))
            model -= drop
        elif op == "gc":
            t.gc(keep_versions=rng.randint(1, 3))
        if t.current_version() is not None:
            files = set(t.files())
            assert files == model, f"step {step}: {files} != {model}"
            for rel in files:
                assert t.fs.exists(f"{t.root}/{rel}"), rel
    # final: a full gc leaves exactly the live files on disk
    t.gc(keep_versions=1)
    on_disk = set(t.fs.list_files_recursive(t.root))
    assert on_disk == model


def test_concurrent_store_appends_commute(spark, tmp_path):
    """Two ingest threads appending DIFFERENT batches to the same level:
    the manifest add-rebase makes the appends commute — no lost rows, no
    duplicates, HWM folds to the global max."""
    store = ArchiveStore(spark, str(tmp_path / "cstore"))
    mk = lambda lo, hi, ch: spark.createDataFrame(
        [(ch, t * NS, float(t), 0, 0) for t in range(lo, hi)],
        "channel string, t long, v double, severity int, status int",
    )
    errs = []

    def writer(lo, hi, ch):
        try:
            for k in range(3):
                step = (hi - lo) // 3
                store.write_samples(mk(lo + k * step, lo + (k + 1) * step, ch),
                                    level=0)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th1 = threading.Thread(target=writer, args=(1_000, 1_030, "A"))
    th2 = threading.Thread(target=writer, args=(2_000, 2_030, "B"))
    th1.start(), th2.start()
    th1.join(180), th2.join(180)
    assert not errs, errs
    assert store.read_samples(0).count() == 60
    assert store.channel_hwm(0) == {"A": 1_029 * NS, "B": 2_029 * NS}


def test_four_concurrent_committers_stress(spark, tmp_path):
    """4 writers x 4 appends each racing on one table: the jittered
    retry absorbs version-claim collisions; all 16 files commit exactly
    once."""
    root = str(tmp_path / "t5")
    tables = [_mk(spark, root) for _ in range(4)]
    errs = []

    def appender(t, start):
        try:
            for i in range(4):
                _write_files(spark, t, 1, start=start + i)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ths = [threading.Thread(target=appender, args=(t, 100 * i))
           for i, t in enumerate(tables)]
    [th.start() for th in ths]
    [th.join(240) for th in ths]
    assert not errs, errs
    assert len(tables[0].files()) == 16
    vals = {r.a for r in spark.read.parquet(*tables[0].paths()).collect()}
    assert vals == {100 * i + j for i in range(4) for j in range(4)}


def _mini_samples(spark, parity=None, n=200):
    df = spark.range(n).select(
        F.concat(F.lit("PV:"), (F.col("id") % 3).cast("string")).alias(
            "channel"
        ),
        (F.col("id") * 1000 * NS).alias("t"),
        (F.col("id") * 1.5).alias("v"),
        F.lit(0).alias("severity"),
        F.lit(0).alias("status"),
    )
    if parity is not None:
        df = df.filter((F.col("id") % 2) == parity)
    return df


def test_time_travel_reads_retained_snapshots(spark, tmp_path):
    """VERSION AS OF over the manifest history: each retained snapshot
    reads back bit-identical to the table state at its commit — appends
    layer on, compaction changes layout but never content."""
    store = ArchiveStore(spark, str(tmp_path / "tt"), keep_versions=3)
    a = _mini_samples(spark, parity=0)
    b = _mini_samples(spark, parity=1)
    store.write_samples(a, level=0)
    store.write_samples(b, level=0)
    store.compact(0)
    versions = store.level_versions(0)
    assert len(versions) == 3
    v1, v2, v3 = versions
    n_a = a.count()
    n_all = _mini_samples(spark).count()
    assert store.read_samples(0, at_version=v1).count() == n_a
    # snapshot 1 is exactly chunk A (not just the same size)
    got = sorted(
        (r.channel, r.t, r.v)
        for r in store.read_samples(0, at_version=v1).collect()
    )
    want = sorted((r.channel, r.t, r.v) for r in a.collect())
    assert got == want
    assert store.read_samples(0, at_version=v2).count() == n_all
    assert store.read_samples(0, at_version=v3).count() == n_all
    # compaction preserved content exactly, only the layout changed
    pre = sorted(map(tuple, store.read_samples(0, at_version=v2).collect()))
    post = sorted(map(tuple, store.read_samples(0, at_version=v3).collect()))
    assert pre == post


def test_time_travel_pruned_version_raises(spark, tmp_path):
    """Asking for a snapshot outside the retention horizon fails loudly
    with the retained range (the VACUUM-horizon contract), never serves
    a partially-gc'd table."""
    import pytest

    store = ArchiveStore(spark, str(tmp_path / "tt2"))  # keep_versions=2
    store.write_samples(_mini_samples(spark, parity=0), level=0)
    store.write_samples(_mini_samples(spark, parity=1), level=0)
    store.compact(0)
    versions = store.level_versions(0)
    assert len(versions) == 2  # v0 pruned by compaction gc
    with pytest.raises(ValueError, match="not\\s+retained"):
        store.read_samples(0, at_version=0)


def test_keep_versions_zero_rejected(spark, tmp_path):
    """keep_versions=0 would let gc collect every manifest and data file
    (an empty retained set) — the constructor refuses it."""
    import pytest

    with pytest.raises(ValueError, match="keep_versions"):
        ArchiveStore(spark, str(tmp_path / "kv0"), keep_versions=0)


def test_append_prunes_manifests_beyond_keep_versions(spark, tmp_path):
    """Every append used to leave one more manifest, each carrying the
    level's O(#channels) marks map: write_samples now keeps only the
    newest ``keep_versions`` of them, and its data reads back whole."""
    store = ArchiveStore(spark, str(tmp_path / "prune"))  # keep_versions=2
    batch = _mini_samples(spark)
    for i in range(5):
        store.write_samples(batch.withColumn("t", F.col("t") + i), level=0)
        assert len(store.level_versions(0)) <= store.keep_versions
    assert store.level_versions(0) == [3, 4]
    assert store.read_samples(0).count() == 5 * batch.count()


def test_pinned_reader_reads_through_one_concurrent_append(spark, tmp_path):
    """A reader pinned to the current version (planned before an append
    lands) reads that snapshot after the append and its pruning: the
    append keeps the previous version, and replaced no data file."""
    store = ArchiveStore(spark, str(tmp_path / "pin"))  # keep_versions=2
    a, b = _mini_samples(spark, parity=0), _mini_samples(spark, parity=1)
    store.write_samples(a, level=0)
    store.write_samples(b, level=0)
    pinned = store.level_versions(0)[-1]
    df = store.read_samples(0, at_version=pinned)
    store.write_samples(a.withColumn("t", F.col("t") + 1), level=0)
    assert store.level_versions(0) == [pinned, pinned + 1]
    want = sorted(map(tuple, a.unionByName(b).collect()))
    assert sorted(map(tuple, df.collect())) == want
    again = store.read_samples(0, at_version=pinned)
    assert sorted(map(tuple, again.collect())) == want


def test_prune_spares_version_committed_after_its_snapshot(
    spark, tmp_path, monkeypatch
):
    """A commit landing right after the pruner lists the versions is
    newer than every version it may delete: it survives and stays
    current."""
    t = _mk(spark, str(tmp_path / "t"))
    for _ in range(3):
        _write_files(spark, t, 1)
    orig = ManifestTable.versions
    late = []

    def racing(self):
        vs = orig(self)
        if not late:
            late.append(None)
            late.append(t.commit(add=[]))  # the concurrent writer
        return vs

    monkeypatch.setattr(ManifestTable, "versions", racing)
    t._prune_manifests(keep_versions=2)
    monkeypatch.setattr(ManifestTable, "versions", orig)
    assert late[1] == 3
    assert t.versions() == [1, 2, 3] and t.current_version() == 3


class TestPairStore:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_doc_table_cdc_reads_only_delta(self, spark, tmp_path):
        from cassandra_pv_archiver_spark.sources.pair_store import DocTable

        dt = DocTable(spark, str(tmp_path / "docs"), "doc_id bigint, text string")
        v0 = dt.append(self._docs(spark, [(1, "a b c d")]))
        v1 = dt.append(self._docs(spark, [(2, "e f g h")]))
        assert {r.doc_id for r in dt.read().collect()} == {1, 2}
        assert {r.doc_id for r in dt.read(at_version=v0).collect()} == {1}
        delta = dt.read_changes(v0, v1)
        assert {r.doc_id for r in delta.collect()} == {2}

    def test_incremental_view_equals_rebuild(self, spark, tmp_path):
        """The materialized-view invariant: rebuild(v0) + apply_batch(CDC
        delta) == rebuild(full corpus), exactly (same band candidates,
        same exact verification, unioned over pair categories)."""
        from cassandra_pv_archiver_spark.operators import dedup
        from cassandra_pv_archiver_spark.sources.pair_store import (
            DocTable,
            PairTableView,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (1, base),
            (2, base + " extra"),           # near-dup of 1 (old ⋈ old)
            (10, base + " more stuff"),     # near-dup crossing batches
            (11, base + " more things"),    # near-dup within the batch
            (3, " ".join(f"q{i}" for i in range(12))),  # unrelated
        ]
        old = self._docs(spark, [r for r in rows if r[0] < 10])
        new = self._docs(spark, [r for r in rows if r[0] >= 10])
        dt = DocTable(spark, str(tmp_path / "docs"), "doc_id bigint, text string")
        v0 = dt.append(old)
        v1 = dt.append(new)
        view = PairTableView(spark, str(tmp_path / "pairs"))
        view.rebuild(dedup.shingles(dt.read(at_version=v0)))
        view.apply_batch(
            dedup.shingles(dt.read(at_version=v0)),
            dedup.shingles(dt.read_changes(v0, v1)),
        )
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 12), r.n_common)
            for r in view.read().collect()
        }
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 12), r.n_common)
            for r in dedup.minhash_lsh_pairs(
                dedup.shingles(self._docs(spark, rows)), 8, 2, 0.2
            ).collect()
        }
        assert got == want and want, (got, want)

    def test_doc_table_cdc_refuses_rewrites(self, spark, tmp_path):
        import pytest

        from cassandra_pv_archiver_spark.sources.pair_store import DocTable

        dt = DocTable(spark, str(tmp_path / "docs"), "doc_id bigint, text string")
        v0 = dt.append(self._docs(spark, [(1, "a b c")]))
        # simulate a compaction: drop v0's files, add a rewritten one
        stage = dt.table.stage_dir()
        self._docs(spark, [(1, "a b c")]).write.mode("overwrite").parquet(stage)
        dt.table.publish_stage(stage, remove=dt.table.files())
        v2 = dt.table.current_version()
        with pytest.raises(ValueError, match="append-only CDC"):
            dt.read_changes(v0, v2)

    def test_streaming_maintenance_equals_rebuild(self, spark, tmp_path):
        """start_pair_table_maintenance replaying a 2-batch doc stream
        must land the view on EXACTLY the full-rebuild pair set, and a
        marker-replayed batch must be a no-op (exactly-once)."""
        import os
        import shutil

        from cassandra_pv_archiver_spark.operators import dedup
        from cassandra_pv_archiver_spark.sources.pair_store import (
            DocTable,
            PairTableView,
            start_pair_table_maintenance,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (1, base),
            (2, base + " extra"),
            (10, base + " more stuff"),
            (11, base + " more things"),
            (3, " ".join(f"q{i}" for i in range(12))),
        ]
        schema = "doc_id long, text string"
        src = str(tmp_path / "src")
        os.makedirs(src)

        def _write_file(batch, name, mtime):
            stage = str(tmp_path / ("stage_" + name))
            spark.createDataFrame(batch, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            part = next(
                f for f in os.listdir(stage)
                if f.endswith(".parquet") and not f.startswith("_")
            )
            dst = os.path.join(src, name + ".parquet")
            shutil.copy(os.path.join(stage, part), dst)
            os.utime(dst, (mtime, mtime))

        _write_file([r for r in rows if r[0] < 10], "b1", 1_000_000_000)
        _write_file([r for r in rows if r[0] >= 10], "b2", 1_000_000_100)

        dt = DocTable(spark, str(tmp_path / "docs"), schema)
        view = PairTableView(spark, str(tmp_path / "pairs"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_pair_table_maintenance(
            stream, dt, view, str(tmp_path / "ckpt")
        )
        q.awaitTermination(180)

        got = {
            (r.id_a, r.id_b, round(r.jaccard, 12), r.n_common)
            for r in view.read().collect()
        }
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 12), r.n_common)
            for r in dedup.minhash_lsh_pairs(
                dedup.shingles(spark.createDataFrame(rows, schema)), 8, 2, 0.2
            ).collect()
        }
        assert got == want and want, (got, want)
        assert {r.doc_id for r in dt.read().collect()} == {1, 2, 3, 10, 11}

        # replaying an already-applied batch is a no-op (marker guard);
        # markers are scoped to the CHECKPOINT (round-10 review: a second
        # stream with a fresh checkpoint restarts batch ids at 0 and must
        # NOT collide with this stream's markers)
        import hashlib

        scope = hashlib.sha256(
            str(tmp_path / "ckpt").encode("utf-8")
        ).hexdigest()[:12]
        v_before = view.table.current_version()
        n_before = view.read().count()
        sh = dedup.shingles(spark.createDataFrame(rows[:2], schema))
        view.apply_batch(sh, sh, marker=f"{scope}-batch-1")
        assert view.table.current_version() == v_before
        assert view.read().count() == n_before
        # marker matching is EXACT on the name segment: neither the
        # unscoped name nor a dash-boundary suffix may match
        assert view.has_marker(f"{scope}-batch-1")
        assert not view.has_marker("batch-1")
        assert not view.has_marker("1")

    def test_maintenance_lease_blocks_second_stream(self, spark, tmp_path):
        """Round-11 review: two concurrently-running maintenance streams
        would each snapshot the corpus before the other's doc append and
        silently miss every cross-stream pair — a per-batch TTL'd lease
        makes the second maintainer WAIT (or fail loudly after
        lease_wait_s), never corrupt."""
        import pytest

        from cassandra_pv_archiver_spark.sources import pair_store as ps
        from cassandra_pv_archiver_spark.sources.lease import file_lease

        schema = "doc_id bigint, text string"
        dt = ps.DocTable(spark, str(tmp_path / "docs"), schema)
        view = ps.PairTableView(spark, str(tmp_path / "pairs"))
        src = str(tmp_path / "src")
        self._docs(spark, [(1, "a b c d e")]).coalesce(1).write.parquet(src)

        # "the other stream" holds the maintenance lease mid-batch
        with file_lease(
            view.table.fs, f"{view.root}/_leases", "maintenance", 900.0
        ):
            q = ps.start_pair_table_maintenance(
                spark.readStream.schema(schema).parquet(src),
                dt, view, str(tmp_path / "ckpt"),
                lease_wait_s=2.0,  # don't wait the full default in a test
            )
            with pytest.raises(Exception, match="held by another"):
                q.awaitTermination(120)
                raise AssertionError("stream should have failed loudly")
            assert dt.read().count() == 0  # nothing half-applied
        # lease released: a fresh run (new checkpoint) completes
        q2 = ps.start_pair_table_maintenance(
            spark.readStream.schema(schema).parquet(src),
            dt, view, str(tmp_path / "ckpt2"),
        )
        q2.awaitTermination(120)
        assert {r.doc_id for r in dt.read().collect()} == {1}
        assert not view.table.fs.exists(
            f"{view.root}/_leases/maintenance.lease"
        )

    def test_apply_batch_marker_is_commit_atomic(self, spark, tmp_path):
        """Round-11 review: the idempotency marker must be enforced by
        the COMMIT (refuse_if against the rebased base), not only the
        check-then-act has_marker fast path — two concurrent replays
        that both pass the fast path must still land exactly once."""
        from cassandra_pv_archiver_spark.operators import dedup
        from cassandra_pv_archiver_spark.sources.pair_store import (
            PairTableView,
        )

        view = PairTableView(spark, str(tmp_path / "pairs"))
        sh = dedup.shingles(
            self._docs(spark, [(1, "a b c d e"), (2, "a b c d f")])
        )
        view.apply_batch(sh, sh, marker="scope-batch-7")
        v = view.table.current_version()
        n = view.read().count()

        # a concurrent replay that already passed the fast path: bypass
        # has_marker and drive the publish directly — the COMMIT must
        # refuse, and apply_batch must treat that as idempotent success
        import pytest

        from cassandra_pv_archiver_spark.sources.manifest import (
            CommitRefused,
        )

        with pytest.raises(CommitRefused, match="already applied"):
            view._publish(
                view.read(), remove=[], marker="scope-batch-7"
            )
        # ... and through apply_batch with the fast path disabled
        orig = PairTableView.has_marker
        try:
            PairTableView.has_marker = lambda self, m: False
            view.apply_batch(sh, sh, marker="scope-batch-7")
        finally:
            PairTableView.has_marker = orig
        assert view.table.current_version() == v
        assert view.read().count() == n
        # the refused publish's staged files were cleaned up, not left
        # as orphans until gc
        data_files = [
            r for r in view.table.fs.list_files_recursive(view.root)
            if not r.startswith("_")
        ]
        assert len(data_files) == len(view.table.files())

    def test_doc_append_returns_own_commit_version(self, spark, tmp_path):
        """Round-11 review: append must return the version ITS commit
        created (last_committed_version), not a racy re-read that could
        attribute a concurrent writer's commit to this append."""
        from cassandra_pv_archiver_spark.sources.pair_store import DocTable

        schema = "doc_id bigint, text string"
        a = DocTable(spark, str(tmp_path / "docs"), schema)
        b = DocTable(spark, str(tmp_path / "docs"), schema)
        va = a.append(self._docs(spark, [(1, "x")]))
        vb = b.append(self._docs(spark, [(2, "y")]))
        assert (va, vb) == (0, 1)
        assert a.table.last_committed_version == 0  # not bumped by b
        va2 = a.append(self._docs(spark, [(3, "z")]))
        assert va2 == 2

    def test_corpus_index_survives_doc_table_reset_and_gc_prune(
        self, spark, tmp_path
    ):
        """Round-11 review, two sync edge cases: (a) a torn-down-and-
        recreated doc table must CLEAR the surviving index (else ghost
        docs probe forever and the high upto marker no-ops every future
        append); (b) a gc that pruned the index's base manifest raises
        a missing-file error, not ValueError — sync must fall back to
        the full rebuild instead of crash-looping."""
        from cassandra_pv_archiver_spark.operators import dedup
        from cassandra_pv_archiver_spark.sources.pair_store import (
            CorpusIndexStore,
            DocTable,
        )

        schema = "doc_id bigint, text string"
        droot = str(tmp_path / "docs")
        dt = DocTable(spark, droot, schema)
        idx = CorpusIndexStore(spark, str(tmp_path / "cindex"))
        v0 = dt.append(self._docs(spark, [(1, "a b c d e")]))
        idx.sync(dt)
        assert idx.version() == v0

        # (b) maintainer down across two appends + a gc that prunes m-v0
        dt.append(self._docs(spark, [(2, "a b c d f")]))
        dt.append(self._docs(spark, [(3, "g h i j k")]))
        dt.table.gc(keep_versions=1, grace_seconds=0)
        bands, sets = idx.sync(dt)  # CDC base gone -> full rebuild
        assert idx.version() == dt.table.current_version()
        assert {r.doc_id for r in sets.collect()} == {1, 2, 3}

        # (a) tear down + recreate empty: the stale index must clear
        dt.table.fs.delete(droot)
        dt2 = DocTable(spark, droot, schema)
        bands, sets = idx.sync(dt2)
        assert idx.version() is None
        assert sets.count() == 0 and bands.count() == 0
        # and a fresh corpus folds in from scratch (the old high marker
        # must not no-op it)
        nv = dt2.append(self._docs(spark, [(9, "q r s t u")]))
        bands, sets = idx.sync(dt2)
        assert idx.version() == nv
        assert {r.doc_id for r in sets.collect()} == {9}

    def test_corpus_index_store_sync_is_cdc_incremental(
        self, spark, tmp_path
    ):
        """CorpusIndexStore (VERDICT r10 #2): append is an O(batch)
        atomic commit; sync heals a trailing index from the CDC feed
        (delta only) and its file history is append-only; probe results
        equal a from-scratch corpus_index derivation exactly."""
        from cassandra_pv_archiver_spark.operators import dedup
        from cassandra_pv_archiver_spark.sources.pair_store import (
            CorpusIndexStore,
            DocTable,
        )

        dt = DocTable(spark, str(tmp_path / "docs"),
                      "doc_id bigint, text string")
        idx = CorpusIndexStore(spark, str(tmp_path / "cindex"))
        b1 = self._docs(spark, [(1, "a b c d e"), (2, "a b c d f")])
        b2 = self._docs(spark, [(3, "a b c g h")])
        v1 = dt.append(b1)
        idx.append(dedup.shingles(b1), upto_version=v1)
        assert idx.version() == v1
        files_after_b1 = set(idx.table.files())
        # a maintainer appends docs then DIES before the index append
        v2 = dt.append(b2)
        assert idx.version() == v1  # trailing
        bands, sets = idx.sync(dt)
        assert idx.version() == v2
        # append-only heal: every pre-heal index file survived
        assert files_after_b1 - {
            r for r in files_after_b1 if r.startswith("upto/")
        } <= set(idx.table.files())
        # and the healed index equals the from-scratch derivation
        want_b, want_s = dedup.corpus_index(dedup.shingles(dt.read()))
        assert (
            {tuple(r) for r in bands.collect()}
            == {tuple(r) for r in want_b.collect()}
        )
        assert (
            {(r.doc_id, frozenset(r.sset)) for r in sets.collect()}
            == {(r.doc_id, frozenset(r.sset)) for r in want_s.collect()}
        )
        # replaying an already-covered append is a no-op
        ver = idx.table.current_version()
        idx.append(dedup.shingles(b2), upto_version=v2)
        assert idx.table.current_version() == ver
        # synced again: pure read, no commit
        idx.sync(dt)
        assert idx.table.current_version() == ver

    def test_restart_probes_persisted_index_without_rebuild(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r10 #2 done-criterion: a maintainer killed mid-stream
        (after pairs+docs committed, BEFORE the index append) is healed
        by a FRESH driver's next batch from the CDC feed, and that
        driver probes the PERSISTED index — corpus_index() is never
        called with corpus-sized input after a restart."""
        from cassandra_pv_archiver_spark.operators import dedup
        from cassandra_pv_archiver_spark.sources import pair_store as ps

        base = "alpha beta gamma delta epsilon zeta eta theta"
        rows1 = [(1, base), (2, base + " extra"),
                 (3, " ".join(f"q{i}" for i in range(12)))]
        rows2 = [(10, base + " more stuff"), (11, base + " more things")]
        schema = "doc_id bigint, text string"

        def _run_stream(part, ckpt, crash_index_append=False):
            # fresh driver state every call: new table handles, new
            # checkpoint (batch ids restart at 0 — the marker-scope case)
            dt = ps.DocTable(spark, str(tmp_path / "docs"), schema)
            view = ps.PairTableView(spark, str(tmp_path / "pairs"))
            src = str(tmp_path / f"src_{ckpt}")
            spark.createDataFrame(part, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(src)
            if crash_index_append:
                orig = ps.CorpusIndexStore.append

                def dying(self, sh_batch, upto_version):
                    raise RuntimeError("killed before index append")

                monkeypatch.setattr(ps.CorpusIndexStore, "append", dying)
                try:
                    q = ps.start_pair_table_maintenance(
                        spark.readStream.schema(schema).parquet(src),
                        dt, view, str(tmp_path / ckpt),
                    )
                    try:
                        q.awaitTermination(180)
                    except Exception as e:  # noqa: BLE001 - the kill
                        assert "killed before index append" in str(e)
                finally:
                    monkeypatch.setattr(ps.CorpusIndexStore, "append", orig)
                return dt, view
            q = ps.start_pair_table_maintenance(
                spark.readStream.schema(schema).parquet(src),
                dt, view, str(tmp_path / ckpt),
            )
            q.awaitTermination(180)
            return dt, view

        # phase 1: ingest the corpus, then DIE before the index append
        dt, view = _run_stream(rows1, "ckpt1", crash_index_append=True)
        idx = ps.CorpusIndexStore(spark, view.root + "_index")
        assert {r.doc_id for r in dt.read().collect()} == {1, 2, 3}
        assert idx.version() is None  # the crash left no index at all

        # phase 2, FRESH driver objects: sync must heal from CDC and
        # the batch must probe the persisted index — count every
        # corpus_index derivation and the rows it was fed
        calls = []
        orig_ci = dedup.corpus_index

        def counting_ci(sh, num_hashes=8, band_size=2, id_col="doc_id"):
            calls.append(sh.select(id_col).distinct().count())
            return orig_ci(sh, num_hashes, band_size, id_col)

        monkeypatch.setattr(ps.dedup, "corpus_index", counting_ci)
        dt2, view2 = _run_stream(rows2, "ckpt2")
        monkeypatch.setattr(ps.dedup, "corpus_index", orig_ci)

        # one derivation to heal phase 1's corpus (first-ever build —
        # the only full-corpus cost, paid once), one for the new batch;
        # afterwards the index is CURRENT and persisted
        assert sorted(calls) == [2, 3], calls
        idx2 = ps.CorpusIndexStore(spark, view2.root + "_index")
        assert idx2.version() == dt2.table.current_version()

        # phase 3, fresh driver again: NO derivation at all for a
        # replayed/empty batch — the probe side is purely persisted
        calls.clear()
        monkeypatch.setattr(ps.dedup, "corpus_index", counting_ci)
        _run_stream(rows2, "ckpt3")  # all docs already present
        monkeypatch.setattr(ps.dedup, "corpus_index", orig_ci)
        assert calls == [], calls

        # and the view equals the full-corpus rebuild, exactly
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 12), r.n_common)
            for r in view2.read().collect()
        }
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 12), r.n_common)
            for r in dedup.minhash_lsh_pairs(
                dedup.shingles(
                    spark.createDataFrame(rows1 + rows2, schema)
                ), 8, 2, 0.2
            ).collect()
        }
        assert got == want and want, (got, want)


def test_gc_grace_spares_young_orphans_but_not_old(spark, tmp_path):
    """Age is the only signal separating a crashed orphan from a
    concurrent in-flight publish: young never-referenced files survive a
    default-grace gc, backdated ones do not, and committed files are
    never touched either way."""
    import os

    t = _mk(spark, str(tmp_path / "tg"))
    _write_files(spark, t, 2)
    spark.range(5).coalesce(1).write.parquet(f"{t.root}/_probe")
    rel = t.fs.list_files_recursive(f"{t.root}/_probe")[0]
    young = f"{t.root}/young-{rel}"
    old_f = f"{t.root}/old-{rel}"
    assert t.fs.rename_no_overwrite(f"{t.root}/_probe/{rel}", young)
    spark.range(5).coalesce(1).write.parquet(f"{t.root}/_probe2")
    rel2 = t.fs.list_files_recursive(f"{t.root}/_probe2")[0]
    assert t.fs.rename_no_overwrite(f"{t.root}/_probe2/{rel2}", old_f)
    os.utime(old_f.removeprefix("file:"), (0, 0))  # backdate past grace

    deleted = t.gc(keep_versions=2)
    assert any(d.startswith("old-") for d in deleted)
    assert not any(d.startswith("young-") for d in deleted)
    assert t.fs.exists(young)
    assert spark.read.parquet(*t.paths()).count() == 2


class TestSchemaEvolution:
    """ADD COLUMN mid-history (VERDICT r8 #6): old files read as NULL,
    new files carry the column, every rewrite preserves it, and the
    newest-footer schema record survives crash points."""

    SCHEMA = "channel string, t long, v double, severity int, status int"
    EVO = ("channel string, t long, v double, severity int, status int,"
           " src_tag string")

    def _store(self, spark, tmp_path):
        store = ArchiveStore(spark, str(tmp_path / "arch"))
        old = [("PV:A", i * 3600 * NS, float(i), 0, 0) for i in range(5)]
        store.write_samples(spark.createDataFrame(old, self.SCHEMA), level=0)
        new = [("PV:A", (5 + i) * 3600 * NS, float(i), 0, 0, f"tag{i}")
               for i in range(3)]
        store.write_samples(spark.createDataFrame(new, self.EVO), level=0)
        return store

    def test_union_read_nulls_for_old_files(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        df = store.read_samples(0)
        assert "src_tag" in df.columns
        assert df.filter(F.col("src_tag").isNull()).count() == 5
        assert df.filter(F.col("src_tag").isNotNull()).count() == 3

    def test_time_travel_shows_pre_evolution_schema(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        v_old = store._level_table(0).versions()[0]
        df = store.read_samples(0, at_version=v_old)
        assert "src_tag" not in df.columns
        assert df.count() == 5

    def test_compact_preserves_evolved_column(self, spark, tmp_path):
        store = self._store(spark, tmp_path)
        store.compact(0)
        df = store.read_samples(0)
        assert "src_tag" in df.columns
        got = sorted(
            r.src_tag for r in df.filter(F.col("src_tag").isNotNull())
            .collect()
        )
        assert got == ["tag0", "tag1", "tag2"]
        assert df.count() == 8

    def test_regressed_batch_refused(self, spark, tmp_path):
        import pytest

        store = self._store(spark, tmp_path)
        back = [("PV:A", 99 * 3600 * NS, 1.0, 0, 0)]
        with pytest.raises(ValueError, match="ADD COLUMN only"):
            store.write_samples(
                spark.createDataFrame(back, self.SCHEMA), level=0
            )

    def test_type_change_refused(self, spark, tmp_path):
        import pytest

        store = self._store(spark, tmp_path)
        bad = ("channel string, t long, v double, severity int,"
               " status int, src_tag bigint")
        rows = [("PV:A", 99 * 3600 * NS, 1.0, 0, 0, 7)]
        with pytest.raises(ValueError, match="type changed"):
            store.write_samples(spark.createDataFrame(rows, bad), level=0)

    def test_crashed_compaction_stage_invisible_and_heals(
        self, spark, tmp_path
    ):
        """Crash point: compaction dies AFTER writing its rewritten
        (evolved-schema) files but BEFORE the manifest commit. Readers
        still see the pre-compact mixed-schema table bit-identically —
        including the evolved column — and a re-run compact heals."""
        store = self._store(spark, tmp_path)
        table = store._level_table(0)
        before = sorted(
            tuple(r) for r in store.read_samples(0).collect()
        )
        # simulate the crash: do the stage write by hand, never publish
        stage = table.stage_dir()
        store.read_samples(0).withColumn(
            "date", F.lit("1970-01-01")
        ).write.partitionBy("date").parquet(stage)
        after = sorted(tuple(r) for r in store.read_samples(0).collect())
        assert after == before  # orphan stage invisible
        store.compact(0)  # heals: one sorted file per partition
        healed = sorted(tuple(r) for r in store.read_samples(0).collect())
        assert healed == before

    def test_crash_before_evolution_commit_keeps_schema_and_marks(
        self, spark, tmp_path, crash_commit
    ):
        """Crash points of an EVOLUTION batch: the schema record, the
        marks and the rows all ride one manifest version, so a crash
        before the rename leaves the level exactly as it was (the new
        column absent too), a crash after it publishes all three, and
        the replayed write lands them once."""
        store = self._store(spark, tmp_path)
        before = sorted(tuple(r) for r in store.read_samples(0).collect())
        hwm_before = store.channel_hwm(0)
        evo2 = self.EVO + ", src_rank int"
        batch = spark.createDataFrame(
            [("PV:A", (8 + i) * 3600 * NS, float(i), 0, 0, "x", i)
             for i in range(2)], evo2)
        crash_commit("/decimation_level=0")
        import pytest

        with pytest.raises(IOError, match="simulated crash"):
            store.write_samples(batch, level=0)
        landed = crash_commit.point == "after_commit"
        cols = [f.name for f in store.level_schema(0).fields]
        assert ("src_rank" in cols) == landed
        assert store.channel_hwm(0) == (
            {"PV:A": 9 * 3600 * NS} if landed else hwm_before
        )
        if not landed:
            got = sorted(tuple(r) for r in store.read_samples(0).collect())
            assert got == before
            store.write_samples(batch, level=0)  # the replay lands it
        df = store.read_samples(0)
        assert df.count() == 10
        assert df.filter(F.col("src_rank").isNotNull()).count() == 2
        assert store.channel_hwm(0) == {"PV:A": 9 * 3600 * NS}


class TestRound9ManifestHardening:
    """Round-9 review: gc version-floor, rewrite-conflict detection,
    stage-debris sweep, and the header (schema-record) protocol."""

    def test_gc_never_deletes_newer_concurrent_manifest(self, spark, tmp_path):
        t = _mk(spark, str(tmp_path / "t"))
        _write_files(spark, t, 2)
        _write_files(spark, t, 2)
        v_new = t.commit(add=[])  # a "concurrent" commit after snapshot
        # gc with keep_versions=2 must keep the NEWEST even though its
        # own versions() snapshot logic retains [v_new-1, v_new]
        t.gc(keep_versions=2, grace_seconds=0)
        assert t.current_version() == v_new
        # and only versions strictly older than the floor are pruned
        assert v_new in t.versions() and (v_new - 1) in t.versions()

    def test_commit_refuses_raced_rewrite(self, spark, tmp_path):
        t = _mk(spark, str(tmp_path / "t"))
        added = _write_files(spark, t, 3)
        # committer A replaces the files
        t.commit(add=["new-a"], remove=list(added))
        # committer B re-plans against the OLD set: must refuse loudly,
        # not silently no-op the removal (double-publish / ghost rows)
        import pytest

        with pytest.raises(IOError, match="rewrite conflict"):
            t.commit(add=["new-b"], remove=list(added))

    def test_stage_debris_swept_after_grace(self, spark, tmp_path):
        import os
        import time

        t = _mk(spark, str(tmp_path / "t"))
        _write_files(spark, t, 1)
        stage = t.stage_dir()
        os.makedirs(stage + "/date=1970-01-01")
        with open(stage + "/date=1970-01-01/part-0.parquet", "w") as fh:
            fh.write("crash debris")
        old = time.time() - 2 * 86_400
        for p in (stage, stage + "/date=1970-01-01",
                  stage + "/date=1970-01-01/part-0.parquet"):
            os.utime(p, (old, old))
        t.gc(keep_versions=2, grace_seconds=0)
        assert not os.path.isdir(stage)

    def test_stage_with_fresh_file_survives_sweep(self, spark, tmp_path):
        import os
        import time

        t = _mk(spark, str(tmp_path / "t"))
        _write_files(spark, t, 1)
        stage = t.stage_dir()
        os.makedirs(stage + "/_temporary")
        with open(stage + "/_temporary/task-0", "w") as fh:
            fh.write("in flight")
        old = time.time() - 2 * 86_400
        os.utime(stage, (old, old))  # top dir stale, file fresh
        t.gc(keep_versions=2, grace_seconds=600)
        assert os.path.isdir(stage)  # recursive max mtime is fresh

    def test_header_carried_forward_and_unioned(self, spark, tmp_path):
        t = _mk(spark, str(tmp_path / "t"))
        t.commit(add=["f1"], header_fn=lambda prev: "a int")
        t.commit(add=["f2"])  # no header_fn: carried forward
        assert t.header() == "a int"
        t.commit(
            add=["f3"],
            header_fn=lambda prev: prev + ", b int",
        )
        assert t.header() == "a int, b int"
        # header survives a commit that EMPTIES the file list
        t.commit(remove=["f1", "f2", "f3"])
        assert t.files() == []
        assert t.header() == "a int, b int"
        # and files() never mistakes the header line for a path
        assert all(not f.startswith("#") for f in t.files() or [])

    def test_publish_touch_makes_grace_measure_publish_time(
        self, spark, tmp_path
    ):
        import os
        import time

        t = _mk(spark, str(tmp_path / "t"))
        _write_files(spark, t, 1)
        # stage a file whose WRITE mtime is ancient (long write job)
        stage = t.stage_dir()
        os.makedirs(stage)
        path = stage + "/part-x.parquet"
        with open(path, "w") as fh:
            fh.write("data")
        old = time.time() - 7200
        os.utime(path, (old, old))
        rels = t.publish_stage(stage)
        full = f"{t.root}/{rels[0]}"
        # publish stamped NOW: a concurrent gc's grace window protects it
        assert time.time() * 1000 - t.fs.mtime_ms(full) < 60_000


def test_header_fn_none_keeps_base_header(spark, tmp_path):
    """Round-10 review: the documented contract is 'header_fn returning
    None keeps the base header' — the code dropped it instead, which
    would silently strip a level's schema record from the new version."""
    t = _mk(spark, str(tmp_path / "t"))
    t.commit(add=["a"], header_fn=lambda prev: "x INT")
    assert t.header() == "x INT"
    t.commit(add=["b"], header_fn=lambda prev: None)  # "no change"
    assert t.header() == "x INT"
    # and an explicit new header still replaces it
    t.commit(add=["c"], header_fn=lambda prev: prev + ", y INT")
    assert t.header() == "x INT, y INT"


def test_gc_refuses_keep_versions_zero(spark, tmp_path):
    """Round-10 review: keep_versions=0 deleted every data file while
    pruning NO manifests — a current version listing deleted files."""
    import pytest

    t = _mk(spark, str(tmp_path / "t"))
    t.commit(add=["a"])
    with pytest.raises(ValueError, match="keep_versions"):
        t.gc(keep_versions=0)
    assert t.files() == ["a"]


def test_commit_retries_when_concurrent_gc_prunes_base_manifest(
    spark, tmp_path, monkeypatch
):
    """Round-10 review: a committer that read cur=N can find m-N pruned
    by a concurrent winner's gc before its _read_version lands — that is
    a lost-race signal and must rebase-and-retry, not crash."""
    t = _mk(spark, str(tmp_path / "t"))
    t.commit(add=["a"])  # v0
    orig = ManifestTable._read_version
    state = {"raced": False}

    def racing(self, version):
        if not state["raced"]:
            state["raced"] = True
            # the concurrent winner: two more commits + gc prune m-v0
            orig_commit_base = orig(self, version)
            t2 = _mk(spark, t.root)
            t2.commit(add=["b"])
            t2.commit(add=["c"])
            t2.gc(keep_versions=2, grace_seconds=0)
            assert version not in t2.versions()  # m-v0 really pruned
            raise IOError("simulated FileNotFoundException on m-v0")
        return orig(self, version)

    monkeypatch.setattr(ManifestTable, "_read_version", racing)
    v = t.commit(add=["d"])
    monkeypatch.setattr(ManifestTable, "_read_version", orig)
    assert v == 3
    assert t.files() == ["a", "b", "c", "d"]


def test_rename_no_overwrite_malformed_file_uri(spark, tmp_path):
    """ADVICE r10 (low): a file:// URI whose remainder has no path
    segment (file://localhost, bare file://) must fail with an explicit
    ValueError from the URI normalizer, not an opaque IndexError-ish
    crash inside the atomic-rename primitive."""
    import pytest

    t = _mk(spark, str(tmp_path / "turi"))
    for bad in ("file://localhost", "file://"):
        with pytest.raises(ValueError, match="unsupported file URI"):
            t.fs.rename_no_overwrite(bad, f"{t.root}/never-lands")
