"""Filesystem IO for table metadata via the Hadoop FileSystem API.

The LakeTable commit log must work wherever a 100 TB table lives — HDFS,
S3A, or a plain local path. Driver-side ``os.*`` calls only work on the
last of those, so all manifest reads/lists/commits route through the JVM's
``org.apache.hadoop.fs.FileSystem`` (the same abstraction Spark's own
committers use; reference PutIceberg relies on Iceberg's FileIO for the
identical reason). A plain ``/path`` resolves to the local filesystem, a
``file:///`` URI likewise, ``hdfs://`` / ``s3a://`` to their schemes —
no code change per store.

Local paths take a pure-Python fast path (``os.*``): metadata IO runs on
the driver's hot loop (one manifest read/write + a handful of exists/list
calls per streaming micro-batch), and each py4j round trip costs ~1-5 ms —
at thousands of micro-batches that's real fixed cost for zero benefit when
the store is the local disk. The Hadoop path is the contract; the local
path is the same contract executed without the JVM hop.

Atomicity contract for :meth:`rename_no_overwrite`: Hadoop rename fails
(returns false) when the destination exists — on HDFS this check-and-move
is atomic at the NameNode; on the local filesystem the fast path uses
``os.link`` (hard-link-then-unlink), which the POSIX spec makes atomic
and EEXIST-failing — strictly stronger than the JVM LocalFileSystem's
check-then-rename window. On S3A, rename is copy+delete (not atomic) —
single-writer or an external lock is required there, as for any
S3-without-catalog table format.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def join(*parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join breaks on them)."""
    out = parts[0].rstrip("/")
    for p in parts[1:]:
        out += "/" + p.strip("/")
    return out


def _local_path(path: str) -> str | None:
    """The os-level path when ``path`` is a bare local path, else None.

    ``file://`` URIs deliberately do NOT take the fast path: they route
    through Hadoop so the JVM branch stays exercised by the test suite
    (tests/test_laketable.py file:// case) — it's the branch a real
    hdfs:// / s3a:// deployment runs.
    """
    return path if "://" not in path else None


class FsIO:
    """Thin wrapper over ``FileSystem`` for small-metadata IO.

    Every method takes path strings (plain, file://, hdfs://, s3a://...).
    Local paths short-circuit to ``os.*``; remote schemes go through py4j.
    Not for bulk data — data files are written/read by Spark itself.
    """

    def __init__(self, spark: SparkSession, base: str):
        self._local = _local_path(base) is not None
        if not self._local:
            self._jvm = spark._jvm
            self._Path = self._jvm.org.apache.hadoop.fs.Path
            self._fs = self._Path(base).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )

    def exists(self, path: str) -> bool:
        if self._local:
            return os.path.exists(_local_path(path))
        return self._fs.exists(self._Path(path))

    def mkdirs(self, path: str) -> None:
        if self._local:
            os.makedirs(_local_path(path), exist_ok=True)
            return
        self._fs.mkdirs(self._Path(path))

    def delete(self, path: str) -> None:
        if self._local:
            p = _local_path(path)
            if os.path.isdir(p):
                import shutil

                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
            return
        self._fs.delete(self._Path(path), True)

    def list_names(self, path: str, recursive: bool = False) -> list[str]:
        """Basenames of a directory's children ([] when absent).

        ``recursive``: the paths, relative to ``path`` and ``/``-joined,
        of every file in the tree below it (directories are not listed)
        — one call for a whole partitioned write's output, which on a
        remote store is one ``listFiles`` walk instead of a listing per
        partition directory."""
        if self._local:
            p = _local_path(path)
            if not recursive:
                try:
                    return os.listdir(p)
                except FileNotFoundError:
                    return []
            return [
                os.path.relpath(os.path.join(d, f), p).replace(os.sep, "/")
                for d, _, files in os.walk(p)
                for f in files
            ]
        p = self._Path(path)
        if not self._fs.exists(p):
            return []
        if not recursive:
            return [st.getPath().getName() for st in self._fs.listStatus(p)]
        root = self._fs.makeQualified(p).toString().rstrip("/") + "/"
        out, it = [], self._fs.listFiles(p, True)
        while it.hasNext():
            out.append(it.next().getPath().toString()[len(root):])
        return out

    def read_text(self, path: str) -> str:
        if self._local:
            with open(_local_path(path), encoding="utf-8") as f:
                return f.read()
        stream = self._fs.open(self._Path(path))
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()

    def write_text(self, path: str, content: str, overwrite: bool = True) -> None:
        if self._local:
            p = _local_path(path)
            # "x" mode is the atomic no-overwrite create (no check/act gap)
            with open(p, "w" if overwrite else "x", encoding="utf-8") as f:
                f.write(content)
            return
        out = self._fs.create(self._Path(path), overwrite)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()

    def rename_dir(self, src: str, dst: str) -> None:
        """Move a DIRECTORY src→dst (dst must not exist). Directories
        cannot take the hard-link path of :meth:`rename_no_overwrite`;
        locally this is ``os.rename`` (atomic within a filesystem),
        remotely the same Hadoop rename — callers own single-writer
        discipline (maintenance ops: index compaction)."""
        if self._local:
            os.rename(_local_path(src), _local_path(dst))
            return
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise OSError(f"rename_dir failed: {src} -> {dst}")

    def rename_no_overwrite(self, src: str, dst: str) -> bool:
        """Move src→dst; False when dst already exists (commit race lost)."""
        if self._local:
            s, d = _local_path(src), _local_path(dst)
            try:
                os.link(s, d)  # atomic, EEXIST when dst present (POSIX)
            except FileExistsError:
                return False
            os.unlink(s)
            return True
        return bool(self._fs.rename(self._Path(src), self._Path(dst)))
