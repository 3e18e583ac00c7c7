"""Query registry — reference_ops section (split from the former
queries.py; see queries/__init__.py for the package map
and _core for shared helpers)."""

from ._core import *  # noqa: F401,F403 — shared registry/helpers
from ._core import _resolve_events_unit, _ts_to_micros_col  # noqa: E501

@q(
    "watermark_tuple_max",
    """SELECT o_orderdate AS wm_modified, o_orderkey AS wm_id
       FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1""",
)
def watermark_tuple_max(spark: SparkSession, sf: str) -> DataFrame:
    """A1: greatest (modified, id) tuple — ``max(struct)`` partial agg,
    no sort, no LIMIT shuffle (DatabaseAgentMysql.php:24-35)."""
    return (
        t(spark, sf, "orders")
        .select(F.max(F.struct("o_orderdate", "o_orderkey")).alias("wm"))
        .select(
            F.col("wm.o_orderdate").alias("wm_modified"),
            F.col("wm.o_orderkey").alias("wm_id"),
        )
    )


@q(
    "staleness_min_by",
    """SELECT user_id AS oldest_user, event_id AS oldest_event
       FROM events ORDER BY ts ASC, event_id ASC LIMIT 1""",
)
def staleness_min_by(spark: SparkSession, sf: str) -> DataFrame:
    """A2: min-by with deterministic tie-break (DatabaseAgentMysql.php:38-49)."""
    return (
        t(spark, sf, "events")
        .select(F.min(F.struct("ts", "event_id", "user_id")).alias("m"))
        .select(
            F.col("m.user_id").alias("oldest_user"),
            F.col("m.event_id").alias("oldest_event"),
        )
    )


@q(
    "change_filter_anti_join",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def change_filter_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J2+J3: the change filter's left-anti shape (DatabaseAgentMysql.php:52-87)
    — customers with no orders, as jobs with no up-to-date load."""
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@q(
    "uptodate_semi_join",
    """SELECT c_custkey, c_mktsegment FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
)
def uptodate_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """J2 (SQL half): the semi-join shape."""
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@q(
    "fk_lookup_join",
    """SELECT n_name, COUNT(*) AS n_customers,
              ROUND(SUM(c_acctbal), 2) AS acctbal_sum
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name""",
)
def fk_lookup_join(spark: SparkSession, sf: str) -> DataFrame:
    """J1: FK lookup against a small dim — broadcast hash join
    (DatabaseAgentMysql.php:198-205)."""
    c, n = t(spark, sf, "customer"), t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("acctbal_sum"),
        )
    )


@q(
    "projection_nullpad",
    """SELECT doc_id, (string_split(text, ' '))[50] AS token_50 FROM documents""",
)
def projection_nullpad(spark: SparkSession, sf: str) -> DataFrame:
    """T3: positional projection with null-pad past the row end
    (RowsOfColumns.php:76 ``?? null`` ≡ try_element_at)."""
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.try_element_at(words_of(F.col("text")), F.lit(50)).alias("token_50"),
    )


@q(
    "offset_skip_reindex",
    """SELECT source, doc_id, rn - 3 AS origin_row FROM (
         SELECT source, doc_id,
                ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         FROM documents) WHERE rn > 2""",
)
def offset_skip_reindex(spark: SparkSession, sf: str) -> DataFrame:
    """T4: skip leading rows per group, re-index survivors from 0
    (RowsOfColumns.php:73 array_slice semantics, per-source)."""
    d = t(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") > 2)
        .select("source", "doc_id", (F.col("rn") - 3).cast("long").alias("origin_row"))
    )


@q(
    "content_fingerprint",
    """SELECT doc_id, sha256(text) AS fp FROM documents""",
)
def content_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """A3: per-document sha256 content hash (GoogleSheetsAgent.php:167)."""
    return t(spark, sf, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("fp")
    )


@q(
    "topk_orders",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
)
def topk_orders(spark: SparkSession, sf: str) -> DataFrame:
    """A1 generalized to top-k with tie-break — TakeOrderedAndProject,
    no global sort."""
    return (
        t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@q(
    "term_doc_freq",
    """SELECT term, COUNT(*) AS df
       FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
             FROM documents)
       GROUP BY term
       ORDER BY df DESC, term ASC LIMIT 50""",
)
def term_doc_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 terms by document frequency — the explode→agg→top-k
    shape: per-doc distinct terms (map-side, bounds the explosion),
    one shuffle on the term, TakeOrderedAndProject for the top-k.
    At 100 TB the per-doc distinct is what keeps the exploded row
    count at Σ|vocab(doc)| instead of Σ|tokens(doc)|."""
    return (
        t(spark, sf, "documents")
        .select(
            F.explode(F.array_distinct(words_of(F.col("text")))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(50)
    )


@q(
    "price_percentiles_by_status",
    """SELECT o_orderstatus,
              ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
              ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
       FROM orders GROUP BY o_orderstatus""",
)
def price_percentiles_by_status(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (ordered-set aggregate). Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the continuous
    interpolation definition — verified digit-identical. At scale the
    approximate twin is ``percentile_approx`` (t-digest sketch, no
    per-group sort buffer); exact is kept here for the oracle."""
    return (
        t(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
    )


@q(
    "q17_small_quantity_revenue",
    """SELECT ROUND(SUM(l_extendedprice), 2) AS small_qty_revenue
       FROM lineitem l
       JOIN (SELECT l_partkey AS pk, 0.5 * AVG(l_quantity) AS half_avg
             FROM lineitem GROUP BY l_partkey) a
         ON l.l_partkey = a.pk
       WHERE l.l_quantity < a.half_avg""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate decorrelated into a
    grouped subquery + self-join on the group key — both sides
    partition identically, so the join reuses the aggregation's
    exchange instead of shuffling twice."""
    li = t(spark, sf, "lineitem")
    avg_q = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(avg_q, li.l_partkey == avg_q.pk)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("small_qty_revenue"))
    )


@q(
    "etl_lifecycle_target",
    """SELECT * FROM (VALUES
         (CAST(0 AS BIGINT), 'alice', '31', CAST(1 AS BIGINT)),
         (CAST(1 AS BIGINT), 'bob',  NULL, CAST(1 AS BIGINT))
       ) AS t(_origin_row, person, age, _origin_etl_job_id)""",
    unbenched="3-pass engine-orchestration check on a 2-row fixture",
)
def etl_lifecycle_target(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL incremental-ETL lifecycle (U1-U8, O1-O3), driver-
    checkable: three passes over an in-memory source — initial load,
    a metadata-only touch (hash short-circuit U3: accounting advances,
    no data rewrite), and a one-cell change (partition-scoped overwrite
    U4: the job's rows are replaced, row count stable). Returns the
    final target table; the oracle is the literal expected relation
    (alice's age updated to 31, bob's missing cell null-padded,
    provenance stamped). sf-independent by construction."""
    import tempfile

    from ..config import EtlJob
    from ..etl import SheetsEtlEngine
    from ..sources import FixtureSheetSource, SpreadsheetMeta

    src = FixtureSheetSource()
    rows_v1 = [["Name", "Age"], ["alice", "30"], ["bob"]]
    src.put_sheet(SpreadsheetMeta("ss-life", "2026-01-01T00:00:00Z", "L"), "S", rows_v1)
    eng = SheetsEtlEngine(spark, tempfile.mkdtemp(prefix="wh_"), src)
    eng.set_up_accounting()
    jobs = [EtlJob("ss-life", "S", "people", {"person": "Name", "age": "Age"})]

    eng.find_updated_spreadsheets()
    r1 = eng.load_updated_spreadsheets(jobs)
    assert r1 and not r1[0].skipped_unchanged and r1[0].rows_loaded == 2

    # touch: new modifiedTime, identical bytes -> hash short-circuit
    src.put_sheet(SpreadsheetMeta("ss-life", "2026-01-02T00:00:00Z", "L"), "S", rows_v1)
    eng.find_updated_spreadsheets()
    r2 = eng.load_updated_spreadsheets(jobs)
    assert r2 and r2[0].skipped_unchanged and r2[0].rows_loaded == 0

    # real change: one cell -> partition-scoped reload of this job only
    src.put_sheet(
        SpreadsheetMeta("ss-life", "2026-01-03T00:00:00Z", "L"), "S",
        [["Name", "Age"], ["alice", "31"], ["bob"]],
    )
    eng.find_updated_spreadsheets()
    r3 = eng.load_updated_spreadsheets(jobs)
    assert r3 and not r3[0].skipped_unchanged

    return eng.target("people").read().select(
        "_origin_row", "person", "age", "_origin_etl_job_id"
    )


@q(
    "compaction_lifecycle",
    """SELECT lang, COUNT(*) AS n_rows,
              CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       FROM documents GROUP BY lang""",
    unbenched="multi-pass table-rewrite lifecycle check",
)
def compaction_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction maintenance pass (plans/compaction.py),
    driver-checkable end-to-end: fragment a partitioned copy of
    ``documents`` (3 appends x 4-way repartition per victim lang),
    keep one partition healthy (single file), compact, and assert the
    three invariants in-function — victims collapse to one file,
    the healthy partition's files are untouched byte-for-byte (names
    AND mtimes), and table content is row-identical. The returned
    aggregate over the COMPACTED table equals the same aggregate over
    the source relation — which is the oracle, so the driver certifies
    content preservation independently of the in-function asserts."""
    import tempfile

    from ..plans.compaction import compact_partitions, partition_file_stats

    base = t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    # metadata-scale collect: one row per language (5 in this corpus)
    langs = sorted(r[0] for r in base.select("lang").distinct().collect())
    healthy_lang, victim_langs = langs[0], langs[1:]
    path = tempfile.mkdtemp(prefix="compact_")

    (
        base.filter(F.col("lang") == healthy_lang).repartition(1)
        .write.mode("append").partitionBy("lang").parquet(path)
    )
    for i in range(3):  # fragment: up to 12 small files per victim lang
        (
            base.filter(
                (F.col("lang") != healthy_lang) & (F.col("doc_id") % 3 == i)
            )
            .repartition(4)
            .write.mode("append").partitionBy("lang").parquet(path)
        )

    import os

    before = {n: (nf, tot) for n, nf, tot in partition_file_stats(path)}
    healthy_dir = os.path.join(path, f"lang={healthy_lang}")
    healthy_before = sorted(
        (f, os.path.getmtime(os.path.join(healthy_dir, f)))
        for f in os.listdir(healthy_dir) if f.endswith(".parquet")
    )
    assert all(before[f"lang={v}"][0] > 4 for v in victim_langs)

    victims = compact_partitions(
        spark, path, "lang", max_files=4, small_bytes=128 * 1024 * 1024
    )
    assert sorted(victims) == victim_langs, (victims, victim_langs)

    after = {n: (nf, tot) for n, nf, tot in partition_file_stats(path)}
    assert all(after[f"lang={v}"][0] == 1 for v in victim_langs), after
    healthy_after = sorted(
        (f, os.path.getmtime(os.path.join(healthy_dir, f)))
        for f in os.listdir(healthy_dir) if f.endswith(".parquet")
    )
    assert healthy_after == healthy_before  # untouched, not rewritten

    # partitionBy moves lang to the end of the read schema; exceptAll
    # is positional, so re-project to the source column order
    compacted = spark.read.parquet(path).select(*base.columns)
    assert compacted.exceptAll(base).count() == 0
    assert base.exceptAll(compacted).count() == 0
    return compacted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
    )


@q(
    "streaming_upsert_latest_wins",
    """SELECT doc_id, lang,
              CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
                AS version,
              n_chars + CASE WHEN doc_id % 3 = 0 THEN 1000 ELSE 0 END
                AS payload
       FROM documents""",
    unbenched="multi-pass table-rewrite lifecycle check",
)
def streaming_upsert_latest_wins(spark: SparkSession, sf: str) -> DataFrame:
    """The foreachBatch MERGE sink (streaming/upsert_sink.py),
    driver-checkable: batch 1 inserts every document at version 1;
    batch 1 is RE-DELIVERED (the at-least-once crash case — state must
    not change); batch 2 upserts every third key at version 2 with a
    new payload. Final table state is exactly latest-wins per key —
    the oracle computes that end state directly from the source
    relation, certifying idempotent redelivery + key-level MERGE on
    top of partition-scoped parquet rewrites."""
    import tempfile

    from ..streaming.upsert_sink import upsert_batch

    docs = t(spark, sf, "documents")
    batch1 = docs.select(
        "doc_id",
        "lang",
        F.lit(1).cast("long").alias("version"),
        F.col("n_chars").alias("payload"),
    )
    batch2 = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        "lang",
        F.lit(2).cast("long").alias("version"),
        (F.col("n_chars") + 1000).alias("payload"),
    )
    path = tempfile.mkdtemp(prefix="upsert_")
    args = dict(
        table_path=path, key_cols=["doc_id"],
        partition_col="lang", seq_col="version",
    )
    upsert_batch(spark, batch1, **args)
    state1 = spark.read.parquet(path)
    n1 = state1.count()
    upsert_batch(spark, batch1, **args)  # redelivery: must be a no-op
    state1b = spark.read.parquet(path)
    assert state1b.count() == n1
    assert state1b.exceptAll(
        batch1.select(*state1b.columns)
    ).count() == 0
    upsert_batch(spark, batch2, **args)
    return spark.read.parquet(path).select(
        "doc_id", "lang", "version", "payload"
    )


_STREAM_SEQ = [0]  # memory-sink names must be unique per session


def _events_stream_adaptive(
    spark: SparkSession, sf: str, glob: str = "events.parquet",
    src_dir: str | None = None, max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The streaming twin of ``t()``'s adaptive events read: sniff the
    ts unit from the parquet footer and pick the matching readStream
    schema + conversion, so a data regeneration (ns ↔ µs ↔ ms) changes
    nothing downstream. ``src_dir`` overrides the streamed directory
    (the sniff still reads the canonical ``{sf}/events.parquet``
    footer — copies share it)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampNTZType,
    )

    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    try:
        # stateful streaming ops build one state store per shuffle
        # partition per micro-batch: a vanilla session's 200 partitions
        # cost ~170 empty state stores per batch at gate scale (same
        # right-sizing t() applies; fresh checkpoints pin it per query)
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 64:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    path = f"{sf}/events.parquet"
    unit = _resolve_events_unit(spark, path)
    if unit in ("us", "ms"):
        # annotated logical type: let the batch footer dictate the exact
        # Spark type (TIMESTAMP vs TIMESTAMP_NTZ), then normalize NTZ →
        # TIMESTAMP exactly as t() does under the UTC pin
        batch_fields = {f.name: f for f in spark.read.parquet(path).schema.fields}
        raw_schema = StructType(
            [batch_fields[n]
             for n in ("event_id", "ts", "user_id", "event_type", "value")]
        )
        conv = (
            (lambda df: df.withColumn("ts", F.col("ts").cast("timestamp")))
            if isinstance(raw_schema["ts"].dataType, TimestampNTZType)
            else (lambda df: df)
        )
    else:
        raw_schema = StructType([
            StructField("event_id", LongType()),
            StructField("ts", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ])
        conv = lambda df: df.withColumn("ts", _ts_to_micros_col(unit))  # noqa: E731
    import os

    reader = spark.readStream.schema(raw_schema).format("parquet")
    if max_files_per_trigger is not None:
        # availableNow honors source read limits: N files → ceil(N/k)
        # micro-batches, exercising CROSS-batch state, not one big batch
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # pathGlobFilter matches LEAF file names — applying it to a
    # directory-of-parts layout (part-*.parquet inside events.parquet/)
    # would silently list ZERO files. Only the shared sf dir needs the
    # filter (to exclude sibling tables); a caller-owned src_dir holds
    # nothing but event data, and a directory layout is streamed by
    # loading the directory itself.
    if src_dir is not None:
        return conv(reader.load(src_dir))
    if os.path.isdir(path):
        return conv(reader.load(path))
    return conv(reader.option("pathGlobFilter", glob).load(sf))


def _drain_to_memory(df: DataFrame, prefix: str, mode: str) -> DataFrame:
    """availableNow drain of a streaming frame into a uniquely-named
    memory sink; returns the sink table (batch-queryable)."""
    import tempfile

    _STREAM_SEQ[0] += 1
    name = f"{prefix}_{_STREAM_SEQ[0]}"
    handle = (
        df.writeStream.outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_"))
        .format("memory")
        .queryName(name)
        .start()
    )
    handle.awaitTermination()
    return df.sparkSession.table(name)


@q(
    "streaming_hourly_counts",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
              COUNT(*) AS n
       FROM events GROUP BY 1, 2""",
    unbenched="streaming check; its batch twin events_hourly is benched",
)
def streaming_hourly_counts(spark: SparkSession, sf: str) -> DataFrame:
    """The REAL Structured Streaming path, oracle-checked: file-source
    readStream over the events parquet → watermark → tumbling-window
    counts → availableNow drain into a memory sink. With the full file
    set available, the final streaming state equals the batch
    aggregation, so the exact batch SQL is a valid oracle — the
    streaming engine (state store, watermarks, incremental triggers)
    is what's under test, not different semantics."""
    from ..streaming.events_stream import windowed_counts

    stream = _events_stream_adaptive(spark, sf)
    return _drain_to_memory(windowed_counts(stream), "stream_hourly", "complete")


@q(
    "streaming_sessionize_stateful",
    """WITH marked AS (
         SELECT user_id,
                CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                     OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions
       FROM marked GROUP BY user_id""",
    unbenched="streaming check: micro-batch machinery, not throughput",
)
def streaming_sessionize_stateful(spark: SparkSession, sf: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator, driver-certified:
    ``applyInPandasWithState`` gap-sessionization (streaming/
    events_stream.py — per-user (last_us, n_sessions) state, the
    smallest state that computes gap sessions) drained availableNow.
    Update mode re-emits a user on every batch that touches them, so
    the batch-side ``max`` per user reads the FINAL state; with the
    whole file set available that equals the batch window
    sessionization — the same oracle as ``events_sessionize``, now
    certifying the state-store path."""
    from ..streaming.events_stream import sessionize_stream

    stream = _events_stream_adaptive(spark, sf)
    sink = _drain_to_memory(
        sessionize_stream(stream, gap_s=1800), "stream_sess", "update"
    )
    return sink.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions")
    )


@q(
    "streaming_dedup_watermark",
    """SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type""",
    unbenched="streaming check: micro-batch machinery, not throughput",
)
def streaming_dedup_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` end-to-end, driver-certified:
    the source directory holds TWO copies of the events file (every
    record delivered twice — the at-least-once ingest case), the
    stream dedups on event_id within the watermark horizon, and the
    drained sink must hold each event exactly once — the oracle is the
    plain per-type count over the single-copy relation.
    ``maxFilesPerTrigger=1`` forces the two copies through SEPARATE
    micro-batches, so the duplicate suppression crosses a state-store
    checkpoint boundary (order-insensitive: whichever copy lands first
    is kept, identical rows either way). State is one entry per key
    inside the horizon, never stream-length."""
    import shutil
    import tempfile

    from ..streaming.events_stream import dedup_stream

    src = tempfile.mkdtemp(prefix="dup_src_")
    import os as _os

    for copy in ("a", "b"):
        source, dest = f"{sf}/events.parquet", f"{src}/events_{copy}.parquet"
        # events.parquet may be a single file OR a directory of parts
        # (both layouts are first-class for the adaptive reader)
        if _os.path.isdir(source):
            shutil.copytree(source, dest)
        else:
            shutil.copy(source, dest)
    stream = _events_stream_adaptive(
        spark, sf, glob="events_*.parquet", src_dir=src,
        max_files_per_trigger=1,
    )
    deduped = dedup_stream(stream, key_cols=["event_id"])
    sink = _drain_to_memory(deduped, "stream_dedup", "append")
    return sink.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@q(
    "streaming_interval_join",
    """SELECT r.event_id AS err_event_id, COUNT(*) AS n_clicks
       FROM events l JOIN events r
         ON l.user_id = r.user_id
        AND l.event_type = 'click' AND r.event_type = 'error'
        AND l.ts >= r.ts AND l.ts <= r.ts + INTERVAL 1 HOUR
       GROUP BY r.event_id""",
    unbenched="streaming check: micro-batch machinery, not throughput",
)
def streaming_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM-STREAM interval join, driver-certified: clicks and
    errors are two watermarked streams; the join predicate bounds the
    event-time distance (click within 1 h after the error), which lets
    the engine expire join state past ``watermark + interval`` — the
    only way a stream-stream join is viable on unbounded input. The
    drained pair stream is then batch-aggregated; the oracle is the
    SAME SQL as the batch ``range_join_clicks_after_error``, so the
    streaming join is certified against the batch range-join
    semantics."""
    base = _events_stream_adaptive(spark, sf)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "2 hours")
    )
    errors = (
        base.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_event_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    pairs = clicks.join(
        errors,
        F.expr(
            "c_user = e_user AND c_ts >= e_ts "
            "AND c_ts <= e_ts + INTERVAL 1 HOUR"
        ),
    )
    sink = _drain_to_memory(pairs, "stream_ij", "append")
    return sink.groupBy("err_event_id").agg(
        F.count(F.lit(1)).alias("n_clicks")
    )


@q(
    "streaming_interval_join_left",
    """WITH e AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'error'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
       SELECT e.event_id AS err_event_id,
              CAST(SUM(CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
                   AS BIGINT) AS n_clicks
       FROM e LEFT JOIN c
         ON e.user_id = c.user_id
        AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR
       GROUP BY 1""",
    unbenched="streaming check: micro-batch machinery, not throughput",
)
def streaming_interval_join_left(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the semantics the
    inner row can't certify: an error with NO click within the hour
    must still emit (null click side), and a streaming engine can
    only do that once the JOIN watermark (min of both streams') has
    passed the error's whole match window — null-side emission IS
    watermark eviction. End-of-stream tail rows are the classic
    silent-loss trap: state pending when the source drains would
    never emit, so the fixture appends two far-future SENTINEL files
    (non-joining user −1, processed as their own trailing
    micro-batches via maxFilesPerTrigger=1) that push the watermark
    past every real window before the drain ends; sentinels filter
    out of the result by id. Certified against the batch LEFT range
    join: matched errors carry their click counts, unmatched carry
    n_clicks = 0 — both paths, not just the happy one."""
    import datetime
    import shutil
    import tempfile

    import os as _os

    src = tempfile.mkdtemp(prefix="sij_src_")
    canonical = f"{sf}/events.parquet"
    if _os.path.isdir(canonical):
        shutil.copytree(canonical, f"{src}/a_events.parquet")
    else:
        shutil.copy(canonical, f"{src}/a_events.parquet")
    # sentinels must carry the CANONICAL file's physical arrow schema
    # (the adaptive reader's schema comes from that footer) AND land
    # as single parquet FILES — a Spark-written directory next to a
    # plain-file copy breaks the file source's listing (observed: only
    # the first batch ran), so write through pyarrow directly
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(canonical)
    pa_schema = tbl.schema
    mx = max(
        v for v in tbl.column("ts").to_pylist() if v is not None
    )
    for i, days in enumerate((10, 20)):
        if isinstance(mx, (int,)):
            # integer epoch column: unit-agnostic upper bound (ns)
            sts = int(mx) + days * 86_400 * 1_000_000_000
        else:
            sts = mx + datetime.timedelta(days=days)
        cols = {
            "event_id": [-(2 * i + 1), -(2 * i + 2)],
            "ts": [sts, sts],
            "user_id": [-1, -1],
            "event_type": ["click", "error"],
            "value": [0.0, 0.0],
            "props": [None, None],
        }
        sent = pa.table(
            {f.name: pa.array(cols[f.name], type=f.type)
             for f in pa_schema},
            schema=pa_schema,
        )
        pq.write_table(sent, f"{src}/zzz_sentinel_{i}.parquet")
    # the file SOURCE orders batches by modification time, and
    # shutil.copy does not preserve the original's mtime — without an
    # explicit ordering a sentinel can process BEFORE the real data,
    # advance the watermark, and silently drop real rows as late.
    # Pin: events oldest, sentinels strictly after, in order.
    now = __import__("time").time()
    offsets = {"a_events.parquet": -300, "zzz_sentinel_0.parquet": -200,
               "zzz_sentinel_1.parquet": -100}
    for entry, off in offsets.items():
        p = f"{src}/{entry}"
        targets = (
            [_os.path.join(dp, f) for dp, _dn, fn in _os.walk(p)
             for f in fn]
            if _os.path.isdir(p) else [p]
        )
        for tpath in targets:
            _os.utime(tpath, (now + off, now + off))
    stream = _events_stream_adaptive(
        spark, sf, src_dir=src, max_files_per_trigger=1
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "2 hours")
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_event_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    pairs = errors.join(
        clicks,
        F.expr(
            "e_user = c_user AND c_ts >= e_ts "
            "AND c_ts <= e_ts + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    )
    sink = _drain_to_memory(pairs, "stream_loj", "append")
    return (
        sink.filter(F.col("err_event_id") >= 0)
        .groupBy("err_event_id")
        .agg(
            F.sum(
                F.when(F.col("c_user").isNotNull(), 1).otherwise(0)
            ).alias("n_clicks")
        )
    )


_FIXTURES_DIR = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.dirname(__import__("os").path.abspath(__file__))),
    "..", "fixtures",
)


@q(
    "sheet_ingest_kernel",
    """SELECT * FROM (VALUES
         (CAST(0 AS BIGINT), 'alice', '30', 'extra'),
         (CAST(1 AS BIGINT), 'bob',   '31', NULL),
         (CAST(2 AS BIGINT), 'carol', '',   NULL)
       ) AS t(_origin_row, personname, age, third)""",
)
def sheet_ingest_kernel(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end sheet ingestion through the native gsheets DataSource
    + the T1-T6 kernel: partition-pruned scan of one sheet, cell trim,
    header resolution (exact-match against the trimmed header; the
    duplicate 'Name' at position 2 is never matched), positional
    selector, null-padded ragged rows, skipRows re-index, and T5-
    normalized output names ('Ågé!' → 'age'). Input is the checked-in
    deterministic fixture (sf-independent); the oracle is the literal
    expected relation."""
    import os

    from ..operators import normalize as norm_ops
    from ..operators import rows as K
    from ..sources import SheetsDataSource

    try:
        spark.dataSource.register(SheetsDataSource)
    except Exception:
        pass  # already registered in this session
    # the gsheets reader prunes partitions through pushFilters, which
    # Spark accepts only with this runtime conf on; a session not built
    # by get_spark leaves it at its default (off)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    sheet = (
        spark.read.format("gsheets")
        .option("path", os.path.join(_FIXTURES_DIR, "sheets.json"))
        .load()
        .filter(
            (F.col("spreadsheet_id") == "fixture-spreadsheet-1")
            & (F.col("sheet_name") == "People")
        )
        .select("row_idx", "cells")
    )
    trimmed = K.trim_cells(sheet)
    header = K.header_row(trimmed)
    mapping = {"PersonName": "Name", "Ågé!": "Ågé", "third": 3}
    selectors = K.resolve_column_selectors(header, list(mapping.values()))
    names = norm_ops.normalized_column_names(list(mapping.keys()))
    return K.project_rows(trimmed, selectors, names, skip_rows=1)
