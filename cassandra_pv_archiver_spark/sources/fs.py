"""Hadoop FileSystem facade for store metadata operations.

Every path operation the archive store needs (existence, child listing,
recursive delete, atomic-swap rename) goes through the JVM's
``org.apache.hadoop.fs.FileSystem`` — the same abstraction Spark itself
uses for reads/writes — so the store works unchanged on ``file:``,
``hdfs:``, ``s3a:``, ``abfs:`` etc. The reference ties bucket bookkeeping
to Cassandra tables (`ChannelMetaDataDAOImpl.java:2092-2123`); at 100 TB
on an object store the equivalents are directory-listing RPCs (one per
call, driver-side, O(#children) — never a recursive walk).

``replace`` emulates ``os.replace`` (delete-then-rename). On HDFS the
rename is atomic; on S3-family stores it is copy+delete — fine for the
store's swap targets because readers go through Spark jobs that list
before reading, but a production deployment wanting transactional swaps
should put the samples table in Delta/Iceberg instead (SURVEY.md §1.5
maps bucket bookkeeping onto Delta ACID); this facade keeps the engine
free of local-filesystem-only primitives without adding a table-format
dependency the test container lacks.
"""

from __future__ import annotations


class HadoopFS:
    """Thin driver-side wrapper over the Hadoop FileSystem for one root."""

    def __init__(self, spark, root: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self._is_local = self._fs.getUri().getScheme() == "file"

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def listdir(self, path: str) -> list[str]:
        """Child names of a directory (empty if it does not exist) — one
        listStatus RPC, no recursion."""
        p = self._Path(path)
        if not self._fs.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(p)]

    def delete(self, path: str) -> None:
        # no exists() pre-check: Hadoop delete returns false (never
        # throws) for a missing path, and the extra round-trip doubled
        # the RPC cost of every hot delete site (round-11 review)
        self._fs.delete(self._Path(path), True)

    def replace(self, src: str, dst: str) -> None:
        """os.replace semantics: atomically swap ``dst`` to ``src``'s
        content (delete-then-rename; atomic on HDFS, copy+delete on S3).

        NOTE: there is a window between delete and rename where ``dst``
        does not exist — concurrent readers of ``dst`` can observe a torn
        table. The archive store's reader-visible swap sites therefore go
        through :class:`~..sources.manifest.ManifestTable` (immutable data
        files + rename-committed manifest) instead; ``replace`` remains
        for single-writer single-reader scratch swaps only."""
        self.delete(dst)
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def rename_no_overwrite(self, src: str, dst: str) -> bool:
        """Atomically claim ``dst`` with ``src``'s content; return False
        (leaving ``src`` in place) if ``dst`` already exists — the
        optimistic-concurrency primitive the versioned-manifest commit
        protocol needs.

        On HDFS, ``FileSystem.rename`` has exactly these semantics. On
        the LOCAL filesystem it does NOT: Hadoop's RawLocalFileSystem
        delegates to ``File.renameTo`` → POSIX ``rename(2)``, which
        silently REPLACES an existing destination — two racing
        committers would both "succeed" and one committed version would
        vanish (a lost append; caught by the 4-writer stress test). The
        true atomic-exclusive primitive on POSIX is ``link(2)``, so for
        ``file:`` URIs we hard-link src onto dst (fails with EEXIST if
        dst exists — atomic in the kernel) and unlink src.

        DEPLOYMENT CAVEAT (round-10 review): on S3-family object stores
        ``FileSystem.rename`` is check-then-copy, NOT atomic-exclusive —
        two racing committers can both return True and one committed
        manifest version silently vanishes. HDFS and ``file:`` are the
        schemes this claim is safe on; an S3 deployment needs a real
        conditional-write commit (Iceberg's HadoopCatalog carries the
        identical caveat and points at a locking catalog for S3 — the
        same answer applies here: put the table in Delta/Iceberg with a
        proper catalog, per SURVEY.md §1.5)."""
        if self._is_local:
            def local(p: str) -> str:
                # strip scheme AND authority: file://host/a -> /a,
                # file:///a -> /a, file:/a -> /a (java.io.File would
                # read //host/a as the wrong path /host/a)
                if p.startswith("file://"):
                    rest = p[len("file://"):]
                    if rest.startswith("/"):
                        return rest
                    if "/" not in rest:
                        # authority with no path segment (file://host,
                        # bare file://) — fail explicitly rather than
                        # with an opaque ValueError from index()
                        raise ValueError(f"unsupported file URI: {p}")
                    return rest[rest.index("/"):]
                if p.startswith("file:"):
                    return p[len("file:"):]
                return p

            jpath = lambda p: self._jvm.java.io.File(local(p)).toPath()  # noqa: E731
            try:
                self._jvm.java.nio.file.Files.createLink(
                    jpath(dst), jpath(src)
                )
            except Exception as e:  # noqa: BLE001
                jexc = getattr(e, "java_exception", None)
                name = jexc.getClass().getName() if jexc is not None else ""
                if "FileAlreadyExistsException" in name:
                    return False
                raise
            self._fs.delete(self._Path(src), False)
            return True
        return bool(self._fs.rename(self._Path(src), self._Path(dst)))

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def write_text(self, path: str, content: str) -> None:
        """Create a small text file (overwrite)."""
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        """Read a small text file fully."""
        inp = self._fs.open(self._Path(path))
        try:
            # readAllBytes() needs Java 9+; Spark 4 runs on 17
            data = bytes(inp.readAllBytes())
        finally:
            inp.close()
        return data.decode("utf-8")

    def list_files_recursive(
        self, path: str, include_hidden: bool = False
    ) -> list[str]:
        """All data-file paths under ``path`` (skips _/. names unless
        ``include_hidden`` — the stage-debris gc sweep needs to age
        Spark's _temporary subtrees too), as paths relative to it. One
        listFiles(recursive) iterator — the single bulk-listing RPC
        pattern object stores optimize for."""
        return sorted(self.file_sizes(path, include_hidden))

    def file_sizes(
        self, path: str, include_hidden: bool = False
    ) -> dict[str, int]:
        """:meth:`list_files_recursive`'s files mapped to their lengths in
        bytes, from the same one listing (each listed status carries its
        length, so no per-file RPC)."""
        p = self._Path(path)
        if not self._fs.exists(p):
            return {}
        base = self._fs.getFileStatus(p).getPath().toString().rstrip("/")
        out = {}
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            rel = st.getPath().toString()[len(base) + 1 :]
            parts = rel.split("/")
            if not include_hidden and any(
                s.startswith(("_", ".")) for s in parts
            ):
                continue
            out[rel] = int(st.getLen())
        return out

    def touch(self, path: str) -> None:
        """Set ``path``'s modification time to NOW (one setTimes RPC).
        publish_stage stamps every moved file so ManifestTable.gc's
        grace window measures time-since-PUBLISH — rename/link preserves
        the original write mtime, which for a long-running write job can
        already be far older than the grace period the moment the file
        becomes visible."""
        import time

        self._fs.setTimes(self._Path(path), int(time.time() * 1000), -1)

    def mtime_ms(self, path: str) -> int:
        """Modification time of ``path`` in epoch milliseconds (one
        getFileStatus RPC) — the age signal ManifestTable.gc uses to
        tell a concurrent in-flight publish from a crashed orphan."""
        return int(
            self._fs.getFileStatus(self._Path(path)).getModificationTime()
        )
