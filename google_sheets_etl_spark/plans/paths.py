"""Table paths, and the small files the engine keeps beside its tables.

A table path is a plain local path, a ``file:`` URI, or a URI of
another scheme (``hdfs://``, ``s3a://``). Spark reads and writes all
three; the engine's own small files (a state table's pointer, schema
sidecars and driver-written versions, the load pass's commit
manifests) go through ``SmallFiles``,
which uses POSIX calls for local paths and the Hadoop FileSystem API
for any other scheme. The POSIX calls need a filesystem path, not the
URI string (``open("file:///t/_LATEST")`` would land in a relative
``file:`` directory under the working directory).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse


def local_path(path: str) -> str | None:
    """The filesystem path of a local table path or ``file:`` URI;
    None for any other scheme."""
    if path.startswith("file:"):
        # no unquoting: Hadoop's Path takes the URI's path literally
        return urlparse(path).path
    return None if "://" in path else path


class SmallFiles:
    """Small files under the directory ``root``, named relative to it.

    ``local`` is the root's filesystem path (``local_path(root)``);
    when it is None every call goes through the Hadoop FileSystem API,
    so the files live wherever the tables do. A write goes to a
    temporary file renamed onto the name: atomic on POSIX
    (``os.replace``) and on HDFS; an S3 rename is a copy and a delete,
    the same caveat Delta has without a LogStore."""

    def __init__(self, spark, root: str, local: str | None):
        self.spark = spark
        self.root = root
        self.local = local

    def _hadoop(self, name: str = ""):
        """(Path, FileSystem) of ``name`` under the root."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.root + ("/" + name if name else ""))
        return p, p.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def read_text(self, name: str) -> str | None:
        """The file's text, or None when it does not exist."""
        if self.local is not None:
            try:
                with open(os.path.join(self.local, name)) as f:
                    return f.read()
            except FileNotFoundError:
                return None
        p, fs = self._hadoop(name)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def read_bytes(self, name: str) -> bytes | None:
        """The file's bytes, or None when it does not exist."""
        if self.local is not None:
            try:
                with open(os.path.join(self.local, name), "rb") as f:
                    return f.read()
            except FileNotFoundError:
                return None
        p, fs = self._hadoop(name)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            return bytes(self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()

    def write_text(self, name: str, text: str) -> None:
        """Write ``name`` through ``name + ".tmp"`` and a rename that
        replaces an existing ``name`` in one step: a crash leaves
        either the old file or the new one, never neither."""
        if self.local is not None:
            dst = os.path.join(self.local, name)
            with open(dst + ".tmp", "w") as f:
                f.write(text)
            os.replace(dst + ".tmp", dst)
            return
        tmp, fs = self._hadoop(name + ".tmp")
        dst, _ = self._hadoop(name)
        self._create(fs, tmp, text.encode())
        self._rename_over(tmp, dst)

    def write_bytes(self, name: str, data: bytes) -> None:
        """Write ``name`` in place, creating its parent directories.
        Not atomic: for files that a later atomic write publishes (a
        state table's data files, published by its pointer)."""
        if self.local is not None:
            dst = os.path.join(self.local, name)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            with open(dst, "wb") as f:
                f.write(data)
            return
        p, fs = self._hadoop(name)
        self._create(fs, p, data)

    @staticmethod
    def _create(fs, p, data: bytes) -> None:
        """Hadoop ``fs.create`` (parents included) of ``p`` holding
        ``data``, replacing any file there."""
        out = fs.create(p, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def _rename_over(self, src, dst) -> None:
        """Hadoop rename of ``src`` onto ``dst`` that replaces an
        existing ``dst`` (``FileContext.rename`` with ``OVERWRITE``;
        ``FileSystem.rename`` refuses an existing destination)."""
        jvm = self.spark._jvm
        hfs = jvm.org.apache.hadoop.fs
        opts = self.spark.sparkContext._gateway.new_array(hfs.Options.Rename, 1)
        opts[0] = hfs.Options.Rename.OVERWRITE
        conf = self.spark._jsc.hadoopConfiguration()
        hfs.FileContext.getFileContext(dst.toUri(), conf).rename(src, dst, opts)

    def listdir(self) -> list[str]:
        """Names directly under the root; empty when it does not exist."""
        if self.local is not None:
            return os.listdir(self.local) if os.path.isdir(self.local) else []
        p, fs = self._hadoop()
        if not fs.exists(p):
            return []
        return [st.getPath().getName() for st in fs.listStatus(p)]

    def delete(self, name: str) -> None:
        """Remove a file or a whole directory; a missing one is no error."""
        if self.local is not None:
            target = os.path.join(self.local, name)
            if os.path.isdir(target):
                shutil.rmtree(target, ignore_errors=True)
            elif os.path.exists(target):
                os.remove(target)
            return
        p, fs = self._hadoop(name)
        fs.delete(p, True)

    def mkdirs(self) -> None:
        """Create the root (and its parents) when missing."""
        if self.local is not None:
            os.makedirs(self.local, exist_ok=True)
            return
        p, fs = self._hadoop()
        fs.mkdirs(p)
