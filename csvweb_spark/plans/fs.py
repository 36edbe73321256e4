"""Filesystem abstraction for the lineage commit protocol.

Round-2 lineage bookkeeping was driver-local `os.listdir`/`open` - correct
in-sandbox, but a table at `hdfs://...` or `s3a://...` on a real cluster
would be invisible to it. This module routes every metadata operation the
commit protocol needs (list, stat, read/write small text files, atomic
rename, parquet-footer access) through Hadoop's FileSystem API via the
session JVM when the path carries a scheme, and through plain `os` when it
does not (tests, local runs - no py4j round-trips on the hot path).

`file://` deliberately routes through Hadoop: it exercises the exact same
code path as hdfs/s3a (Hadoop's LocalFileSystem), which is how the
in-sandbox tests prove the protocol is cluster-ready.

Parquet footers on remote filesystems are read through a small Python file
adapter over FSDataInputStream (positioned reads); pyarrow only touches
the footer (KBs, a handful of py4j calls), never data pages.
"""

from __future__ import annotations

import json
import os
import re
from typing import Optional

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


class LocalFS:
    """Plain-`os` implementation for scheme-less paths."""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        return os.listdir(p)

    def makedirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def read_json(self, p: str) -> dict:
        with open(p) as f:
            return json.load(f)

    def write_text_atomic(self, p: str, text: str, tmp: str) -> None:
        # NOTE divergent overwrite semantics (documented, round-3 ADVICE):
        # LocalFS is last-write-wins (os.replace overwrites - which the
        # turtle/ntriples prefix sidecars rely on when a sink is
        # re-written), while HadoopFS is first-commit-wins (rename never
        # overwrites; see below). Manifest commits are safe under EITHER
        # because lineage run_ids are unique (timestamp + uuid suffix), so
        # the same target name implies the same content.
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, p)

    def write_text_exclusive(self, p: str, text: str, tmp: str) -> None:
        """FIRST-COMMIT-WINS create (round-6, r5 ADVICE on
        _claim_owner): write tmp, then hard-link it to `p` - os.link
        fails atomically if `p` exists, so of any number of concurrent
        creators exactly one wins and the rest keep the winner's
        content. Callers must read `p` back to learn who won. Unlike
        write_text_atomic (os.replace, last-write-wins), this is safe
        for ownership stamps."""
        with open(tmp, "w") as f:
            f.write(text)
        try:
            os.link(tmp, p)
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)

    def parquet_source(self, p: str):
        """Something pyarrow.parquet.ParquetFile accepts."""
        return p

    def rmtree(self, p: str) -> None:
        """Recursive delete; missing paths are a no-op (idempotent
        cleanup - compaction may retry after a crash). Real deletion
        failures (permissions, open handles) RAISE - swallowing them
        would let stale delta dirs shadow compacted state forever."""
        import shutil
        try:
            shutil.rmtree(p)
        except FileNotFoundError:
            pass


class _HadoopFooterFile:
    """Minimal Python file object over FSDataInputStream - seek/tell/read
    only, enough for pyarrow's footer parsing. Reads are positioned
    (readFully), so no JVM-side seek state to manage."""

    def __init__(self, jvm, fs, jpath):
        self._jvm = jvm
        self._in = fs.open(jpath)
        self._size = fs.getFileStatus(jpath).getLen()
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        else:
            self._pos = self._size + offset
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = max(0, min(n, self._size - self._pos))
        if n == 0:
            return b""
        self._in.seek(self._pos)
        # commons-io ships with Spark; byte[] returns auto-convert to bytes
        data = bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(
            self._in, n))
        self._pos += n
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    def flush(self) -> None:
        pass

    def close(self) -> None:
        if not self.closed:
            self._in.close()
            self.closed = True


class HadoopFS:
    """Hadoop FileSystem-backed implementation for scheme'd paths
    (hdfs://, s3a://, file://, ...). All calls go through the active
    session's JVM; only commit-protocol METADATA moves through py4j -
    data files are still written/read by executors."""

    def __init__(self, spark, path: str):
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration())

    def _p(self, p: str):
        return self._Path(p)

    def join(self, *parts: str) -> str:
        out = parts[0].rstrip("/")
        for part in parts[1:]:
            out += "/" + part.strip("/")
        return out

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._p(p)))

    def isdir(self, p: str) -> bool:
        jp = self._p(p)
        return bool(self._fs.exists(jp)
                    and self._fs.getFileStatus(jp).isDirectory())

    def listdir(self, p: str) -> list[str]:
        return [s.getPath().getName()
                for s in self._fs.listStatus(self._p(p))]

    def makedirs(self, p: str) -> None:
        self._fs.mkdirs(self._p(p))

    def rmtree(self, p: str) -> None:
        """Recursive delete via FileSystem.delete(path, recursive=True);
        missing paths are a no-op (idempotent cleanup). delete() returns
        False for a path that vanished between the exists probe and the
        call (concurrent cleanup) - also a no-op; other failures raise
        from the JVM side."""
        jp = self._p(p)
        if self._fs.exists(jp):
            self._fs.delete(jp, True)

    def read_json(self, p: str) -> dict:
        stream = self._fs.open(self._p(p))
        try:
            data = bytes(self._jvm.org.apache.commons.io.IOUtils
                         .toByteArray(stream))
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))

    def write_text_atomic(self, p: str, text: str, tmp: str) -> None:
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        # HDFS rename does not overwrite, and delete-then-rename would
        # open a crash window with NO committed manifest on disk (a death
        # between the two calls un-commits partitions -> a later resume
        # re-writes them -> duplicated rows). Manifest names embed run_id,
        # so an existing target means the SAME run already committed:
        # keep the committed file (first-commit-wins is idempotent) and
        # drop the temp - the target is never uncovered.
        if self._fs.exists(self._p(p)):
            self._fs.delete(self._p(tmp), False)
            return
        if self._fs.rename(self._p(tmp), self._p(p)):
            return
        # rename returns false instead of raising. When the target
        # appeared after the exists probe, another committer won the race
        # (first-commit-wins, as above); otherwise the commit failed.
        # Either way the tmp file must not stay beside the manifests.
        self._fs.delete(self._p(tmp), False)
        if not self._fs.exists(self._p(p)):
            raise IOError(f"rename {tmp} -> {p} failed")

    def write_text_exclusive(self, p: str, text: str, tmp: str) -> None:
        """First-commit-wins create (see LocalFS): HDFS rename never
        overwrites, so the existing write_text_atomic semantics already
        are first-commit-wins - delegate."""
        self.write_text_atomic(p, text, tmp)

    def parquet_source(self, p: str):
        import pyarrow as pa
        return pa.PythonFile(
            _HadoopFooterFile(self._jvm, self._fs, self._p(p)), mode="r")


def fs_for(path: str, spark=None):
    """Pick the filesystem implementation for `path`. Scheme'd paths need
    a live SparkSession (for the JVM-side Hadoop FileSystem); plain paths
    never touch py4j."""
    if _SCHEME_RE.match(path):
        if spark is None:
            from pyspark.sql import SparkSession
            spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"path {path!r} has a filesystem scheme but no active "
                f"SparkSession provides a JVM to reach it")
        return HadoopFS(spark, path)
    return LocalFS()


def strip_scheme_authority(path: str) -> Optional[str]:
    """file://-local part of a path, or None for non-file schemes."""
    m = re.match(r"^file://(/.*)$", path)
    return m.group(1) if m else None
