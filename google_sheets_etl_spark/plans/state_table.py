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
- **Schema sidecar**: a snapshot is its parquet data plus
  ``_v{n}/_schema.json``, the written frame's schema, put there after
  the data and before the pointer flip (Spark's reader skips
  ``_``-prefixed files). ``read()`` hands that schema to the parquet
  reader, so it infers nothing and starts no Spark job. A snapshot
  written before sidecars existed is read by inference; the table's
  next commit writes a sidecar.
- **MERGE upsert**: ``upsert(updates, keys)`` = matched rows take the
  update's values, unmatched current rows are kept, brand-new keys are
  inserted — expressed as ``current ANTI JOIN updates  UNION  updates``
  (both inputs re-selected to the unioned column set → additive schema
  evolution for free, U7; the unioned columns are the committed
  frame's schema, so the sidecar carries them).
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

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame
from .paths import local_path

_LATEST = "_LATEST"
_SCHEMA = "_schema.json"
_KEEP_VERSIONS = 3


class StateTable:
    def __init__(self, spark: SparkSession, path: str, schema: StructType | str):
        self.spark = spark
        self.path = path
        self.schema = schema
        self._local = local_path(path)  # None off-box

    # -- snapshot plumbing -------------------------------------------------
    #
    # Local paths use POSIX primitives (open/os.replace — atomic rename
    # guaranteed); any other URI scheme (hdfs://, s3a://) goes through
    # the Hadoop FileSystem API so the table works off-box. HDFS rename
    # is atomic; S3 rename is copy+delete — the same caveat Delta has
    # without a LogStore, documented rather than hidden.

    def _hfs(self):
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return jvm, p.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def _read_text(self, name: str) -> str | None:
        """A small file under the table root (the pointer, a schema
        sidecar), or None when it does not exist."""
        if self._local is not None:
            try:
                with open(os.path.join(self._local, name)) as f:
                    return f.read()
            except FileNotFoundError:
                return None
        jvm, fs = self._hfs()
        p = jvm.org.apache.hadoop.fs.Path(self.path + "/" + name)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def _write_text(self, name: str, text: str) -> None:
        """Write a small file under the table root through a temporary
        file and a rename onto ``name``."""
        if self._local is not None:
            dst = os.path.join(self._local, name)
            with open(dst + ".tmp", "w") as f:
                f.write(text)
            os.replace(dst + ".tmp", dst)  # atomic on POSIX
            return
        jvm, fs = self._hfs()
        tmp = jvm.org.apache.hadoop.fs.Path(self.path + "/" + name + ".tmp")
        dst = jvm.org.apache.hadoop.fs.Path(self.path + "/" + name)
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode()))
        finally:
            out.close()
        fs.delete(dst, False)  # rename-onto refuses an existing dst
        fs.rename(tmp, dst)

    def current_version(self) -> int | None:
        try:
            return int((self._read_text(_LATEST) or "").strip())
        except ValueError:
            return None

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"_v{v}")

    def _commit(self, df: DataFrame) -> None:
        """Write the next snapshot and its schema sidecar, then
        atomically flip the pointer.

        ``df`` may read this table lazily (an upsert's current rows, an
        overwrite of a frame derived from ``read()``): the write goes to
        a new ``_v{n+1}`` directory while the plan reads ``_v{n}`` or
        older, and ``_gc`` runs only after the write and deletes only
        versions at or below ``latest - _KEEP_VERSIONS``. So a snapshot
        read before a commit can feed each of the next
        ``_KEEP_VERSIONS`` commits, and needs no materialization first."""
        v = (self.current_version() or 0) + 1
        df.write.mode("overwrite").parquet(self._version_dir(v))
        self._write_text(f"_v{v}/{_SCHEMA}", df.schema.json())
        self._write_text(_LATEST, str(v))
        self._gc(v)

    def _gc(self, latest: int) -> None:
        if self._local is not None:
            names = os.listdir(self._local)
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
                    if self._local is not None:
                        shutil.rmtree(
                            os.path.join(self._local, name), ignore_errors=True
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
        if self._local is not None:
            os.makedirs(self._local, exist_ok=True)
        else:
            jvm, fs = self._hfs()
            fs.mkdirs(jvm.org.apache.hadoop.fs.Path(self.path))
        self._commit(local_frame(self.spark, [], self.schema))

    def read(self) -> DataFrame:
        """The current snapshot, read with its sidecar schema, so no
        Spark job infers it from parquet footers. A snapshot written
        before sidecars existed falls back to inference; the table's
        next commit writes one."""
        v = self.current_version()
        if v is None:
            return local_frame(self.spark, [], self.schema)
        sidecar = self._read_text(f"_v{v}/{_SCHEMA}")
        reader = self.spark.read
        if sidecar is not None:
            reader = reader.schema(StructType.fromJson(json.loads(sidecar)))
        return reader.parquet(self._version_dir(v))

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
