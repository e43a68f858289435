"""Scheme-agnostic file operations via the JVM's Hadoop FileSystem.

Lake maintenance (generation pointers, manifests, the maintenance lock)
needs to list, read, write, and delete small control files next to the
lake.
``os``/``glob`` only work when the lake is on the driver's local disk; on
a cluster the lake lives on HDFS/S3/GCS.  The JVM running the session
already has the right ``FileSystem`` implementation for any path scheme,
so these helpers call it through the Py4J gateway — ``file://`` paths in
tests exercise exactly the code a cluster runs against ``s3a://``.

Only driver-side CONTROL-file traffic goes through here (marker files,
file listings of a handful of partition dirs per job); bulk data always
moves through Spark jobs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


class LakeFs:
    """Thin wrapper over ``org.apache.hadoop.fs.FileSystem`` for the
    scheme of ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark.sparkContext._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._Path(path))

    def uri(self, path: str) -> str:
        """The path's fully-QUALIFIED URI (scheme and authority filled in
        by the filesystem, e.g. '/tmp/x' -> 'file:/tmp/x') — for callers
        that relativize listing results (which are always qualified)
        against a root the user may have given as a plain path."""
        return str(self._fs.makeQualified(self._Path(path)).toUri())

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def list_files(self, d: str) -> list[str]:
        """Full URIs of the FILES directly under ``d`` ([] if absent);
        subdirectories (e.g. an in-flight ``_temporary``) are skipped —
        callers track committed part-files only."""
        p = self._Path(d)
        if not self._fs.exists(p):
            return []
        return sorted(
            str(st.getPath())
            for st in self._fs.listStatus(p)
            if st.isFile()
        )

    def list_dirs(self, d: str) -> list[str]:
        """Names (last path segment, not full URIs) of the DIRECTORIES
        directly under ``d`` ([] if absent) — partition-dir probes
        (``bucket=*``, ``slot_group=*``) and generation-dir listings for
        maintenance."""
        p = self._Path(d)
        if not self._fs.exists(p):
            return []
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(p)
            if st.isDirectory()
        )

    def content_signature(self, path: str) -> tuple:
        """Change-detection key for a file OR a directory of files:
        ``(name, mtime, length)`` of the path itself when it is a file,
        else of each direct child file plus the files ONE level down
        (hive ``col=`` subdirs — so a partitioned dim table's rewrite
        changes the signature).  Replaces ``os.path.getmtime`` cache
        keys — works on any scheme the session reaches (S3A reports
        real object mtimes; a synthetic dir entry alone would not
        change on rewrite, so the child listing is what keys a
        directory).  () when the path is absent.

        DOCUMENTED HAZARD (accepted): mtimes are millisecond-granular,
        so an in-place rewrite landing in the same millisecond with
        same-named same-length files, or changes buried deeper than one
        subdirectory level, serve a stale signature.  The lake's own
        writers never rewrite in place (generation dirs get fresh
        names), so this only affects hand-edited external inputs."""
        p = self._Path(path)
        if not self._fs.exists(p):
            return ()
        st = self._fs.getFileStatus(p)
        if st.isFile():
            return (
                (
                    st.getPath().getName(),
                    st.getModificationTime(),
                    st.getLen(),
                ),
            )
        entries = []
        for s in self._fs.listStatus(p):
            if s.isFile():
                entries.append(
                    (
                        s.getPath().getName(),
                        s.getModificationTime(),
                        s.getLen(),
                    )
                )
            else:
                dname = s.getPath().getName()
                for c in self._fs.listStatus(s.getPath()):
                    if c.isFile():
                        entries.append(
                            (
                                dname + "/" + c.getPath().getName(),
                                c.getModificationTime(),
                                c.getLen(),
                            )
                        )
        return tuple(sorted(entries))

    def delete(self, path: str) -> None:
        self._fs.delete(self._Path(path), False)

    def delete_recursive(self, path: str) -> None:
        self._fs.delete(self._Path(path), True)

    def rename(self, src: str, dst: str) -> None:
        """Directory swap for maintenance rewrites.  Atomic on HDFS/local;
        on S3A it is a copy-and-delete — callers must hold the documented
        single-writer maintenance window regardless of scheme."""
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"rename {src} -> {dst} failed")

    def write_text(self, path: str, text: str) -> None:
        """Atomic publish: write to a ``.tmp`` sibling, then rename into
        place.  A reader can never observe a truncated file — a crash
        mid-write leaves only the tmp, which the next writer discards.
        (rename is atomic on HDFS/local; on S3 the single-object PUT is
        already all-or-nothing.)"""
        tmp = self._Path(path + ".tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        dst = self._Path(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        if not self._fs.rename(tmp, dst):
            raise IOError(f"rename {tmp} -> {dst} failed")

    def create_exclusive(self, path: str, text: str) -> bool:
        """Create-if-absent: write ``text`` to ``path`` only if no file
        exists there; return whether this caller won.

        Atomicity by scheme: local paths use the kernel's O_CREAT|O_EXCL
        (truly atomic — Hadoop's RawLocalFileSystem ``create(...,
        overwrite=false)`` is an exists-then-create TOCTOU and would let
        two racing processes both win); HDFS uses the namenode's atomic
        exclusive create; S3A has no exclusive create at all — see
        ``lake/lock.py`` for what that means for the maintenance lock."""
        scheme = self._Path(path).toUri().getScheme()
        if scheme in (None, "file"):
            local = self._Path(path).toUri().getPath()
            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            try:
                os.write(fd, text.encode("utf-8"))
            finally:
                os.close(fd)
            return True
        try:
            out = self._fs.create(self._Path(path), False)
        except Exception as e:  # lost the race: FileAlreadyExists only
            if "AlreadyExists" in str(e):
                return False
            raise
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()


_SHARED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def shared_lake_fs(spark: SparkSession, root: str) -> LakeFs:
    """One :class:`LakeFs` per ``(session, root)``, for callers that
    only probe a path on every query construction: building a handle
    costs py4j class lookups (about 3 ms) that its calls do not.  The
    handle holds no state of its own, so sharing it is safe."""
    handles = _SHARED.setdefault(spark, {})
    if root not in handles:
        handles[root] = LakeFs(spark, root)
    return handles[root]
