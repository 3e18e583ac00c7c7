"""Table paths: which ones the POSIX calls may touch, and where.

A table path is a plain local path, a ``file:`` URI, or a URI of
another scheme (``hdfs://``, ``s3a://``). Spark reads and writes all
three; the tables' own pointer, sidecar, GC and footer code uses POSIX
calls for local tables, and those need a filesystem path, not the URI
string (``open("file:///t/_LATEST")`` would land in a relative
``file:`` directory under the working directory).
"""

from __future__ import annotations

from urllib.parse import urlparse


def local_path(path: str) -> str | None:
    """The filesystem path of a local table path or ``file:`` URI;
    None for any other scheme."""
    if path.startswith("file:"):
        # no unquoting: Hadoop's Path takes the URI's path literally
        return urlparse(path).path
    return None if "://" in path else path
