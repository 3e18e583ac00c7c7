"""SparkSession factory tuned for the test harness and for scale.

Local testing runs a single JVM (``local[N]``); the configuration is
chosen so the same code is correct on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static ``shuffle.partitions`` is only a hint; AQE right-sizes it.
- ``partitionOverwriteMode=dynamic`` — the load path (U4, SURVEY.md
  §2.5) replaces exactly one ``_origin_etl_job_id`` partition per job;
  dynamic overwrite makes that a metadata-scoped operation instead of a
  full-table rewrite.
- Arrow enabled — every Python-side exchange (Pandas UDFs in the
  multimodal/text operators) is Arrow-batched, never row-at-a-time.
- Python workers fork from ``google_sheets_etl_spark.worker_daemon``:
  stock ``pyspark.daemon`` except that a task's ``invalidate_caches``
  no longer re-reads an unchanged ``pyspark.zip`` 16 times, ~0.1 s of
  fixed cost per Python task on CPython 3.11.

``local_frame`` is the one way the sync loop turns driver data (rows,
or an Arrow table such as a state table's snapshot) into a DataFrame:
an Arrow table handed to the JVM, so evaluating the frame runs no
Python worker.

``overlap`` is the one way the engine runs driver-side work on helper
threads: every job such a thread starts carries the caller's job
group, description and local properties.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType, _make_type_verifier


def _env_positive_int(name: str) -> int | None:
    """A positive-integer env override, or None when absent/garbage —
    a non-numeric value must fall back, not crash session build."""
    raw = os.environ.get(name, "")
    return int(raw) if raw.isdigit() and int(raw) >= 1 else None


def derive_shuffle_partitions(cpus: int) -> int:
    """Scale-parameterised, never a hard-coded cluster constant:
    production sets SPARK_GRAFT_SHUFFLE_PARTITIONS from input size
    (target 100-500 MB per post-shuffle partition, guide §2.2); the
    local default stays the core count so the harness bench is
    comparable across rounds."""
    return _env_positive_int("SPARK_GRAFT_SHUFFLE_PARTITIONS") or cpus


def get_spark(app_name: str = "sheets-etl-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # full sanitation, not just for the partition count: a non-numeric
    # or zero value interpolated into master=local[...] would crash
    # session construction after the guard "tolerated" it
    if not cpus.isdigit() or int(cpus) < 1:
        cpus = "32"
    if shuffle_partitions is None:
        shuffle_partitions = derive_shuffle_partitions(int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the gsheets Python DataSource prunes sheet partitions via
        # pushFilters; the capability is opt-in in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        # footer-stats MIN/MAX/COUNT answering (no data scan) for
        # pure aggregates; only triggers on the V2 parquet path —
        # inert under the default V1 reader, certified by the
        # aggregate-pushdown plan test
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert in loaders
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # workers fork from a daemon whose zip importers skip the
        # per-task re-read of an unchanged pyspark.zip (worker_daemon.py)
        .config("spark.python.daemon.module", "google_sheets_etl_spark.worker_daemon")
    )
    # AQE coalesces DOWN from initialPartitionNum toward the advisory
    # byte size, so the EFFECTIVE reduce count tracks the data volume
    # of each exchange; the static hint is only the top of the adaptive
    # range. Production sets this env to the derived count (input bytes
    # / 100-500 MB per partition, guide §2.2). Deliberately NOT set by
    # default: Spark then derives it from shuffle.partitions dynamically
    # (including runtime conf.set, which partition-sensitivity tests
    # rely on), and a measured local A/B (suffix_dedup_spans 7.69 →
    # 12.6 s at initial=128) shows a high initial count only adds
    # tiny-shuffle-block overhead at harness scale.
    env_ip = _env_positive_int("SPARK_GRAFT_INITIAL_PARTITIONS")
    if env_ip is not None:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(env_ip),
        )
    return builder.getOrCreate()


def arrow_rows(rows, schema: StructType | str):
    """A ``pyarrow.Table`` of driver-held ``rows`` (tuples in
    ``schema``'s column order; ``schema`` a ``StructType`` or a DDL
    string), built column by column against ``to_arrow_schema(schema)``.

    Each row is verified against the schema first, as
    ``createDataFrame``'s ``verifySchema`` does: a row of the wrong
    arity raises ``ValueError``, a wrongly typed cell ``TypeError``
    (Arrow alone would truncate a float into a long column, or split a
    string into an array column)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow = to_arrow_schema(schema)
    return pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )


def local_frame(spark: SparkSession, rows, schema: StructType | str | None = None) -> DataFrame:
    """A DataFrame of driver-held data: a ``pyarrow.Table`` (its own
    schema when ``schema`` is None), or ``rows`` built by
    ``arrow_rows(rows, schema)``.

    ``spark.createDataFrame(list, schema)`` parallelizes the list as a
    Python RDD, so every job that evaluates the frame sends its
    ``defaultParallelism`` tasks through Python workers.
    ``createDataFrame`` hands an Arrow table to the JVM instead, which
    makes the frame with no Python worker."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        rows = arrow_rows(rows, schema)
    return spark.createDataFrame(rows, schema)


@contextmanager
def overlap(spark: SparkSession, width: int):
    """Overlap independent driver-side work on ``width`` helper threads
    (Spark actions are sequential only because the driver calls them
    sequentially). Yields ``submit(fn, *args) -> Future``;
    leaving the block waits for every submitted call.

    ``submit`` wraps ``fn`` with ``inheritable_thread_target(spark)``
    on the submitting thread, so a job ``fn`` starts carries the
    submitter's job group, description and local properties as they
    are at submission (a plain pool thread starts with none of them).
    Nested use inherits the same way: a submitted call may open its
    own ``overlap``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=width) as pool:

        def submit(fn, *args):
            inherit = inheritable_thread_target(spark)
            # without pinned threads (PYSPARK_PIN_THREAD=false) the
            # wrapper is the session itself: local properties are not
            # per-thread there, so there is nothing to carry
            if inherit is not spark:
                fn = inherit(fn)
            return pool.submit(fn, *args)

        yield submit
