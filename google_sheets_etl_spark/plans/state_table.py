"""Versioned-parquet state tables with MERGE-style upserts (U1/U2/U7).

The reference keeps engine state in two small RDBMS tables with
``INSERT ... ON DUPLICATE KEY UPDATE`` upserts and idempotent DDL
(``src/DatabaseAgentMysql.php:92-149,213-230``). The Spark-native
equivalent would be Delta ``MERGE``; Delta is not available in this
environment, so this module implements the minimal ACID contract the
engine needs over plain parquet:

- **Snapshot versioning**: every write lands in a fresh
  ``_v{n}/`` directory; readers resolve the current snapshot through a
  single pointer file (``_LATEST``) whose update is an atomic rename
  (POSIX ``os.replace`` locally; Hadoop FileSystem rename on
  hdfs:// — atomic there too; s3a rename is copy+delete, the same
  caveat Delta has without a LogStore). Readers therefore always see
  a complete snapshot —
  never a partially-written one (U6 atomicity for a single table).
- **MERGE upsert**: ``upsert(updates, keys)`` = matched rows take the
  update's values, unmatched current rows are kept, brand-new keys are
  inserted — expressed as ``current ANTI JOIN updates  UNION  updates``
  (both inputs re-selected to the unioned column set → additive schema
  evolution for free, U7).
- **Idempotent create** (U7): ``create_if_not_exists`` seeds version 0
  with an empty snapshot; calling twice never loses data
  (``DatabaseAgent.php:120-124``).

These tables hold *metadata* (one row per spreadsheet / per job —
≤10^6 rows even at 100 TB of sheet data), so full-snapshot rewrite per
upsert is the right trade: tiny writes, zero read amplification, and
the anti-join side is always broadcast-size. Data-plane tables never
use this class (see ``target_table.py``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LATEST = "_LATEST"
_KEEP_VERSIONS = 3


class StateTable:
    def __init__(self, spark: SparkSession, path: str, schema: StructType):
        self.spark = spark
        self.path = path
        self.schema = schema

    # -- snapshot plumbing -------------------------------------------------
    #
    # Local paths use POSIX primitives (open/os.replace — atomic rename
    # guaranteed); any URI-scheme path (hdfs://, s3a://) goes through
    # the Hadoop FileSystem API so the table works off-box. HDFS rename
    # is atomic; S3 rename is copy+delete — the same caveat Delta has
    # without a LogStore, documented rather than hidden.

    def _is_local(self) -> bool:
        scheme = self.path.split("://", 1)[0] if "://" in self.path else ""
        return scheme in ("", "file")

    def _hfs(self):
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return jvm, p.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def _pointer_path(self) -> str:
        return os.path.join(self.path, _LATEST)

    def current_version(self) -> int | None:
        if self._is_local():
            try:
                with open(self._pointer_path()) as f:
                    return int(f.read().strip())
            except (FileNotFoundError, ValueError):
                return None
        jvm, fs = self._hfs()
        ptr = jvm.org.apache.hadoop.fs.Path(self.path + "/" + _LATEST)
        if not fs.exists(ptr):
            return None
        stream = fs.open(ptr)
        try:
            buf = bytearray()
            b = stream.read()
            while b != -1 and len(buf) < 32:  # pointer is a tiny int
                buf.append(b)
                b = stream.read()
        finally:
            stream.close()
        try:
            return int(bytes(buf).decode().strip())
        except ValueError:
            return None

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"_v{v}")

    def _flip_pointer(self, v: int) -> None:
        if self._is_local():
            tmp = self._pointer_path() + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(v))
            os.replace(tmp, self._pointer_path())  # atomic on POSIX
            return
        jvm, fs = self._hfs()
        tmp = jvm.org.apache.hadoop.fs.Path(self.path + "/" + _LATEST + ".tmp")
        dst = jvm.org.apache.hadoop.fs.Path(self.path + "/" + _LATEST)
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(str(v).encode()))
        finally:
            out.close()
        fs.delete(dst, False)  # rename-onto refuses an existing dst
        fs.rename(tmp, dst)

    def _commit(self, df: DataFrame) -> None:
        """Write the next snapshot, then atomically flip the pointer.

        ``df`` may read this table lazily (an upsert's current rows, an
        overwrite of a frame derived from ``read()``): the write goes to
        a new ``_v{n+1}`` directory while the plan reads ``_v{n}`` or
        older, and ``_gc`` runs only after the write and deletes only
        versions at or below ``latest - _KEEP_VERSIONS``. So a snapshot
        read before a commit can feed each of the next
        ``_KEEP_VERSIONS`` commits, and needs no materialization first."""
        v = (self.current_version() or 0) + 1
        df.write.mode("overwrite").parquet(self._version_dir(v))
        self._flip_pointer(v)
        self._gc(v)

    def _gc(self, latest: int) -> None:
        if self._is_local():
            names = os.listdir(self.path)
        else:
            jvm, fs = self._hfs()
            root = jvm.org.apache.hadoop.fs.Path(self.path)
            names = [st.getPath().getName() for st in fs.listStatus(root)]
        for name in names:
            if name.startswith("_v"):
                try:
                    v = int(name[2:])
                except ValueError:
                    continue
                if v <= latest - _KEEP_VERSIONS:
                    if self._is_local():
                        shutil.rmtree(
                            os.path.join(self.path, name), ignore_errors=True
                        )
                    else:
                        jvm, fs = self._hfs()
                        fs.delete(
                            jvm.org.apache.hadoop.fs.Path(
                                self.path + "/" + name
                            ),
                            True,
                        )

    # -- public API --------------------------------------------------------

    def exists(self) -> bool:
        return self.current_version() is not None

    def create_if_not_exists(self) -> None:
        """U7: idempotent DDL (``DatabaseAgentMysql.php:92-127``)."""
        if self.exists():
            return
        if self._is_local():
            os.makedirs(self.path, exist_ok=True)
        else:
            jvm, fs = self._hfs()
            fs.mkdirs(jvm.org.apache.hadoop.fs.Path(self.path))
        empty = self.spark.createDataFrame([], self.schema)
        self._commit(empty)

    def read(self) -> DataFrame:
        v = self.current_version()
        if v is None:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.parquet(self._version_dir(v))

    def upsert(self, updates: DataFrame, keys: list[str]) -> None:
        """MERGE: update matched, keep unmatched, insert new (U1/U2).

        Column union across current/updates gives additive schema
        evolution (new columns null-padded on old rows) — the parquet
        analogue of the reference's swallowed ``ADD COLUMN`` (U7).
        """
        current = self.read()
        all_cols = list(dict.fromkeys(current.columns + updates.columns))

        def conform(df: DataFrame) -> DataFrame:
            cols = [
                F.col(c) if c in df.columns else F.lit(None).alias(c) for c in all_cols
            ]
            return df.select(*cols)

        kept = current.join(F.broadcast(updates.select(*keys)), on=keys, how="left_anti")
        self._commit(conform(kept).unionByName(conform(updates)))

    def overwrite(self, df: DataFrame) -> None:
        self._commit(df)
