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
  that replaces the old pointer in one step (POSIX ``os.replace``
  locally; Hadoop ``FileContext`` rename with ``OVERWRITE`` on
  hdfs:// — atomic there too; s3a rename is copy+delete, the same
  caveat Delta has without a LogStore; both through
  ``paths.SmallFiles``). Readers therefore always see a complete
  snapshot — never a partially-written one (U6 atomicity for a single
  table). Whatever a crashed commit left in the next version's
  directory is deleted before that version is written.
- **Driver-written versions**: a ``pyarrow.Table`` commit (create,
  an Arrow upsert or overwrite) is serialized on the driver into one
  parquet file and written through ``paths.SmallFiles``: no Spark job.
  A DataFrame commit is a Spark write. Both kinds of version read
  alike, so a table may mix them.
- **Schema sidecar**: a snapshot is its parquet data plus
  ``_v{n}/_schema.json``, the written frame's schema (for an Arrow
  commit, the schema ``createDataFrame`` would give it), put there after
  the data and before the pointer flip (Spark's reader skips
  ``_``-prefixed files). ``read()`` hands that schema to the parquet
  reader, so it infers nothing and starts no Spark job. A snapshot
  written before sidecars existed is read by inference; the table's
  next commit writes a sidecar.
- **Driver snapshots**: ``snapshot()`` is the current version's rows
  as a ``pyarrow.Table`` with the Arrow schema of its sidecar, cached
  per version. The pointer is read on every call, so another object's
  or process's commit is seen; the table's own Arrow commits fill the
  cache with the table they wrote, and any other version is loaded
  once, by ``pyarrow.parquet`` when it has a sidecar (no Spark job)
  and by Spark otherwise. The sync loop's metadata questions are
  answered from these snapshots with Arrow compute and start no Spark
  job; the driver holds one Arrow copy of each accounting table.
- **MERGE upsert**: ``upsert(updates, keys)`` = matched rows take the
  update's values, unmatched current rows are kept, brand-new keys are
  inserted — expressed as ``current ANTI JOIN updates  UNION  updates``
  (both inputs conformed to the unioned column set → additive schema
  evolution for free, U7; the unioned columns are the committed
  frame's schema, so the sidecar carries them). A ``pyarrow.Table``
  of updates merges on the driver against ``snapshot()`` (an Arrow
  left-anti join and a concat with column promotion) and is written
  by the driver, so it starts no Spark job; a DataFrame merges and is
  written in Spark, which the data-scale ANN/HNSW index tables use.
- **Idempotent create** (U7): ``create_if_not_exists`` seeds version 0
  with an empty snapshot; calling twice never loses data
  (``DatabaseAgent.php:120-124``).

These tables hold *metadata* (one row per spreadsheet / per job —
≤10^6 rows even at 100 TB of sheet data), so full-snapshot rewrite per
upsert is the right trade: tiny writes, zero read amplification, a
driver-sized Arrow copy, and an anti-join side that is always
broadcast-size. Data-plane tables never use this class (see
``target_table.py``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..session import local_frame
from .paths import SmallFiles, local_path

_LATEST = "_LATEST"
_SCHEMA = "_schema.json"
_KEEP_VERSIONS = 3


def _read_type(t: DataType) -> DataType:
    """The type Spark's parquet reader gives a column written as ``t``:
    nullable at every level."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _read_type(f.dataType), True, f.metadata)
                           for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_read_type(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_read_type(t.keyType), _read_type(t.valueType), True)
    return t


def _snapshot_schema(schema: StructType) -> pa.Schema:
    """The Arrow schema of a snapshot whose sidecar is ``schema``: what
    ``read().toArrow()`` gives."""
    return to_arrow_schema(_read_type(schema))


class StateTable:
    def __init__(self, spark: SparkSession, path: str, schema: StructType | str):
        self.spark = spark
        self.path = path
        self.schema = DataType.fromDDL(schema) if isinstance(schema, str) else schema
        self._local = local_path(path)  # None off-box
        self._snapshot: tuple[int, pa.Table] | None = None  # (version, rows)

    # -- snapshot plumbing -------------------------------------------------

    @property
    def _files(self) -> SmallFiles:
        """The pointer, sidecars and version directories: POSIX calls
        locally, the Hadoop FileSystem API off-box (``paths.SmallFiles``)."""
        return SmallFiles(self.spark, self.path, self._local)

    def current_version(self) -> int | None:
        try:
            return int((self._files.read_text(_LATEST) or "").strip())
        except ValueError:
            return None

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"_v{v}")

    def _commit(self, data: DataFrame | pa.Table) -> None:
        """Write the next snapshot and its schema sidecar, then
        atomically flip the pointer. An Arrow ``data`` is written on the
        driver as one parquet file, with no Spark job, and becomes the
        cached snapshot of the new version; a DataFrame is written by
        Spark.

        ``data`` may read this table lazily (an upsert's current rows,
        an overwrite of a frame derived from ``read()``): the write goes
        to a new ``_v{n+1}`` directory while the plan reads ``_v{n}`` or
        older, and ``_gc`` runs only after the write and deletes only
        versions at or below ``latest - _KEEP_VERSIONS``. So a snapshot
        read before a commit can feed each of the next
        ``_KEEP_VERSIONS`` commits, and needs no materialization first."""
        v = (self.current_version() or 0) + 1
        snapshot = None
        if isinstance(data, pa.Table):
            arrow = data.combine_chunks()
            schema = from_arrow_schema(arrow.schema)  # what createDataFrame(arrow) gives
            buf = pa.BufferOutputStream()
            pq.write_table(arrow, buf)
            # a crashed commit's leftovers would become rows of this version
            self._files.delete(f"_v{v}")
            self._files.write_bytes(f"_v{v}/part-00000.parquet", buf.getvalue().to_pybytes())
            snapshot = (v, arrow.cast(_snapshot_schema(schema)))
        else:
            data.write.mode("overwrite").parquet(self._version_dir(v))
            schema = data.schema
        self._files.write_text(f"_v{v}/{_SCHEMA}", schema.json())
        self._files.write_text(_LATEST, str(v))
        self._snapshot = snapshot
        self._gc(v)

    def _gc(self, latest: int) -> None:
        for name in self._files.listdir():
            if name.startswith("_v"):
                try:
                    v = int(name[2:])
                except ValueError:
                    continue
                if v <= latest - _KEEP_VERSIONS:
                    self._files.delete(name)

    def _read_version(self, v: int | None) -> DataFrame:
        if v is None:
            return local_frame(self.spark, [], self.schema)
        sidecar = self._files.read_text(f"_v{v}/{_SCHEMA}")
        reader = self.spark.read
        if sidecar is not None:
            reader = reader.schema(StructType.fromJson(json.loads(sidecar)))
        return reader.parquet(self._version_dir(v))

    # -- public API --------------------------------------------------------

    def exists(self) -> bool:
        return self.current_version() is not None

    def create_if_not_exists(self) -> None:
        """U7: idempotent DDL (``DatabaseAgentMysql.php:92-127``)."""
        if self.exists():
            return
        self._files.mkdirs()
        self._commit(to_arrow_schema(self.schema).empty_table())

    def read(self) -> DataFrame:
        """The current snapshot, read with its sidecar schema, so no
        Spark job infers it from parquet footers. A snapshot written
        before sidecars existed falls back to inference; the table's
        next commit writes one."""
        return self._read_version(self.current_version())

    def snapshot(self) -> pa.Table:
        """The current snapshot's rows on the driver, as the
        ``pyarrow.Table`` ``read().toArrow()`` gives. The pointer is
        read on every call, so another object's or process's commit is
        seen; the rows are cached per version. The table's own Arrow
        commits fill the cache with what they wrote; any other version
        with a sidecar is read by the driver, with no Spark job."""
        v = self.current_version()
        if v is None:
            return _snapshot_schema(self.schema).empty_table()
        if self._snapshot is None or self._snapshot[0] != v:
            self._snapshot = (v, self._load_version(v))
        return self._snapshot[1]

    def _load_version(self, v: int) -> pa.Table:
        """Version ``v``'s rows on the driver. A version with a sidecar
        is read by ``pyarrow.parquet``: its data files are the names
        Spark's reader sees (not ``_``- or ``.``-prefixed), read in
        place locally and through ``SmallFiles.read_bytes`` off-box. A
        version without one is read by Spark."""
        sidecar = self._files.read_text(f"_v{v}/{_SCHEMA}")
        if sidecar is None:
            df = self._read_version(v)
            return df.toArrow().cast(_snapshot_schema(df.schema))
        schema = _snapshot_schema(StructType.fromJson(json.loads(sidecar)))
        files = SmallFiles(self.spark, self._version_dir(v), None if self._local is None
                           else os.path.join(self._local, f"_v{v}"))
        parts = [
            pq.read_table(pa.BufferReader(files.read_bytes(name))).select(schema.names)
            for name in sorted(files.listdir()) if not name.startswith(("_", "."))
        ]
        return pa.concat_tables([p.cast(schema) for p in parts]) if parts else schema.empty_table()

    def upsert(self, updates: DataFrame | pa.Table, keys: list[str]) -> None:
        """MERGE: update matched, keep unmatched, insert new (U1/U2).

        Column union across current/updates gives additive schema
        evolution (new columns null-padded on old rows) — the parquet
        analogue of the reference's swallowed ``ADD COLUMN`` (U7).

        Arrow ``updates`` merge on the driver against ``snapshot()``;
        a DataFrame merges in Spark (the data-scale index tables)."""
        if isinstance(updates, pa.Table):
            current = self.snapshot()
            # the anti join runs on the keys and row numbers only: Arrow's
            # hash join takes no list-typed non-key column
            rows = current.select(keys).append_column(
                "__row", pa.array(np.arange(current.num_rows)))
            kept_rows = rows.join(updates.select(keys), keys, join_type="left anti")["__row"]
            kept = current.take(kept_rows.sort())
            self._commit(pa.concat_tables([kept, updates], promote_options="permissive"))
            return
        current = self.read()
        all_cols = list(dict.fromkeys(current.columns + updates.columns))

        def conform(df: DataFrame) -> DataFrame:
            cols = [
                F.col(c) if c in df.columns else F.lit(None).alias(c) for c in all_cols
            ]
            return df.select(*cols)

        kept = current.join(F.broadcast(updates.select(*keys)), on=keys, how="left_anti")
        self._commit(conform(kept).unionByName(conform(updates)))

    def overwrite(self, data: DataFrame | pa.Table) -> None:
        self._commit(data)
