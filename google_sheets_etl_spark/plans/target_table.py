"""Target (data-plane) tables: partitioned parquet with per-job
overwrite (U4/U5) and additive schema evolution (U7).

The reference loads each (spreadsheet, sheet) job with
``DELETE FROM target WHERE _origin_etl_job_id = ?`` followed by chunked
inserts, inside one transaction (``src/DatabaseAgentMysql.php:254-292``).
The Spark-native equivalent: a parquet table **partitioned by**
``_origin_etl_job_id`` written with *dynamic partition overwrite* —
``INSERT OVERWRITE`` replaces exactly the partitions present in the
incoming DataFrame and leaves every other job's data untouched. One
job's refresh is therefore O(that sheet), not O(table), at any scale,
and the partition column gives partition pruning to every downstream
query that filters by job.

Schema evolution (U7): parquet allows per-file schemas, so the table's
logical schema is kept beside its data, as Delta Lake keeps it in its
log and ``StateTable`` in ``_schema.json``: ``<table>/_schema.json``
holds the UNION of every column any write has brought, in first-seen
order, minus the partition column. Each write records the union of the
old sidecar and its own columns *before* its data lands, and
``read()`` hands it to the parquet reader, so a read infers nothing
from file footers and starts no Spark job (the partition column is
still inferred from the paths, as ``int``). A job that gained columns
widens the table, old rows null-padded; a column no job writes any
more stays in it, all-NULL — the analogue of additive ``ADD COLUMN``
with "already exists" swallowed, which never drops a column
(``DatabaseAgentMysql.php:158-178``). A crash between the sidecar and
the data leaves at worst an all-NULL column, never a column the read
cannot see. A table with data but no sidecar (written before sidecars
existed) is read with ``mergeSchema=true``, and its next write seeds
the sidecar from that read. The sidecar goes through
``paths.SmallFiles``, so it lives wherever the table does.

Atomicity note (U6, SURVEY.md §7.4): a parquet dynamic overwrite is not
a single atomic commit like Delta's. The engine compensates at the
orchestration layer (``etl.py``): the data write is idempotent (re-run
replaces the same partition) and accounting commits *last*, so a crash
between the two re-does a cheap, hash-short-circuited load instead of
corrupting state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .paths import SmallFiles, local_path

PARTITION_COL = "_origin_etl_job_id"
ROWID_COL = "_rowid"
_SCHEMA = "_schema.json"


class TargetTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._local = local_path(path)  # None off-box

    @property
    def _files(self) -> SmallFiles:
        """The schema sidecar: POSIX calls locally, the Hadoop
        FileSystem API off-box (``paths.SmallFiles``)."""
        return SmallFiles(self.spark, self.path, self._local)

    def _schema(self) -> StructType | None:
        """The sidecar's schema; None when the table has none."""
        text = self._files.read_text(_SCHEMA)
        return None if text is None else StructType.fromJson(json.loads(text))

    def _hadoop_fs(self):
        """(Path, FileSystem) for this table — the Hadoop API resolves
        any scheme (file://, hdfs://, s3a://); ``os.path`` would make
        every non-local table look absent (and _rowid numbering would
        silently restart at 0, breaking the never-reuse key contract —
        the same failure class the streaming sink's existence check
        already guards)."""
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return hpath, fs

    def exists(self) -> bool:
        """True when the table holds DATA: partition dirs are named
        ``_origin_etl_job_id=N`` (leading underscore — a bare "not
        hidden" listing misses them). A ``_SUCCESS``-only directory
        (the footprint of an empty first write) does NOT count — a
        read of it cannot infer a schema and would crash every
        subsequent load. Hadoop FileSystem listing: scheme-agnostic."""
        hpath, fs = self._hadoop_fs()
        if not fs.exists(hpath) or not fs.getFileStatus(hpath).isDirectory():
            return False
        for st in fs.listStatus(hpath):
            n = st.getPath().getName()
            if n == "_temporary":
                continue
            if "=" in n or (
                n.endswith(".parquet") and not n.startswith((".", "_"))
            ):
                return True
        return False

    def overwrite_job_partition(self, data: DataFrame) -> None:
        """U4+U5: replace exactly the ``_origin_etl_job_id`` partitions
        present in ``data``. The dynamic-overwrite mode is a PER-WRITE
        option, not an assumed session conf — under a vanilla session a
        plain ``mode=overwrite`` + ``partitionBy`` would silently drop
        every other job's partitions. ``data`` arrives complete: the
        engine numbers ``_rowid`` (when on) past :meth:`max_rowid`."""
        if PARTITION_COL not in data.columns:
            raise ValueError(f"data must carry {PARTITION_COL}")
        self._widen(data.schema)
        (
            data.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PARTITION_COL)
            .parquet(self.path)
        )

    def _widen(self, schema: StructType) -> None:
        """Record the union of the sidecar and ``schema``'s columns
        (old columns first, the partition column left out) before a
        write lands. A table with data but no sidecar takes its old
        columns from a ``mergeSchema`` read, once."""
        old = self._schema()
        if old is None and self.exists():
            old = self.read().schema
        fields = {f.name: f for f in (old.fields if old is not None else [])}
        for f in schema.fields:
            fields.setdefault(f.name, f)
        fields.pop(PARTITION_COL, None)
        union = StructType(list(fields.values()))
        if union != old:
            self._files.mkdirs()
            self._files.write_text(_SCHEMA, union.json())

    def max_rowid(self) -> int:
        """The table's largest ``_rowid``, 0 when it has no data or no
        ``_rowid`` column. New rows continue past it, like MySQL's
        auto-increment surrogate key (``DatabaseAgentMysql.php:159``)
        never reusing the ids of a replaced job's rows."""
        if not self.exists():
            return 0
        # metadata-scale fast path: parquet FOOTER statistics (exact for
        # int64), so a tiny incremental load never scans a 100 TB
        # table's data pages for one number
        best = self._rowid_max_from_footers()
        if best is None:
            existing = self.read()
            best = 0
            if ROWID_COL in existing.columns:
                best = existing.agg(F.coalesce(F.max(ROWID_COL), F.lit(0))).first()[0]
        return int(best)

    def _rowid_max_from_footers(self) -> int | None:
        """max(_rowid) from parquet footer statistics — one footer read
        per file, zero data pages. None when any file lacks usable
        stats (caller falls back to the full aggregate) or no file
        carries the column (legacy pre-rowid table → base 0)."""
        root = local_path(self.path)
        if root is None:
            # pyarrow footer reads below are local-fs; a remote table
            # takes the exact Spark aggregate fallback (still cheap —
            # column-pruned scan of one int64 column)
            return None
        try:
            import pyarrow.parquet as pq

            # manual walk, NOT pyarrow.dataset: the partition dirs are
            # named _origin_etl_job_id=N and dataset discovery treats
            # underscore-prefixed paths as hidden, silently yielding
            # zero fragments
            files = []
            for d, _dirs, names in os.walk(root):
                files += [
                    os.path.join(d, n)
                    for n in names
                    if n.endswith(".parquet") and not n.startswith((".", "_"))
                ]
            best: int | None = None
            saw_column = False
            for fpath in files:
                pf = pq.ParquetFile(fpath)
                for g in range(pf.metadata.num_row_groups):
                    rg = pf.metadata.row_group(g)
                    for i in range(rg.num_columns):
                        c = rg.column(i)
                        if c.path_in_schema.split(".")[0] != ROWID_COL:
                            continue
                        saw_column = True
                        if c.statistics is None or c.statistics.max is None:
                            return None  # unreliable → exact fallback
                        v = int(c.statistics.max)
                        best = v if best is None or v > best else best
            if not saw_column:
                return 0  # pre-rowid table (or no data files): base 0
            return best
        except Exception:
            return None

    def delete_job_partition(self, job_id: int) -> None:
        """The DELETE half of U4 for an EMPTY reload: dynamic overwrite
        replaces only partitions present in the incoming frame, so a
        sheet whose data rows were all deleted would otherwise keep
        serving its stale partition forever (with accounting happily
        hash-short-circuiting every later run). The reference's
        ``DELETE FROM target WHERE _origin_etl_job_id = ?`` has no
        incoming-rows precondition — neither does this. Hadoop
        FileSystem recursive delete: scheme-agnostic (file/hdfs/s3a),
        same semantics everywhere."""
        hpath, fs = self._hadoop_fs()
        pdir = self.spark._jvm.org.apache.hadoop.fs.Path(
            hpath, f"{PARTITION_COL}={job_id}"
        )
        if fs.exists(pdir):
            fs.delete(pdir, True)

    def read(self) -> DataFrame:
        """Every job's rows under the sidecar schema, with no Spark job;
        a table without a sidecar is read by merging its file footers."""
        schema = self._schema()
        if schema is None:
            return self.spark.read.option("mergeSchema", "true").parquet(self.path)
        return self.spark.read.schema(schema).parquet(self.path)
