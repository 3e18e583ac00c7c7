"""Query registry — events section (split from the former
queries.py; see queries/__init__.py for the package map
and _core for shared helpers)."""

from ._core import *  # noqa: F401,F403 — shared registry/helpers
from .reference_ops import _FIXTURES_DIR, _drain_to_memory  # noqa: E501

# =====================================================================
# Event analytics (window functions, sessionization, JSON)
# =====================================================================

@q(
    "events_hourly",
    """SELECT date_trunc('hour', ts) AS hour, event_type,
              COUNT(*) AS n, ROUND(SUM(value), 2) AS value_sum
       FROM events GROUP BY 1, 2""",
)
def events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation (batch shape of the streaming op)."""
    return (
        t(spark, sf, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


@q(
    "events_sessionize",
    """WITH marked AS (
         SELECT user_id,
                CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                     OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions
       FROM marked GROUP BY user_id""",
)
def events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): one lag window +
    one aggregate; exact integer-microsecond gap math on both engines."""
    e = t(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.withColumn(
        "new_s",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    return marked.groupBy("user_id").agg(F.sum("new_s").alias("n_sessions"))


@q(
    "session_length_stats",
    """WITH marked AS (
         SELECT user_id, event_id, epoch_us(ts) AS us,
                CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                          > 1800000000
                     OR LAG(epoch_us(ts)) OVER w IS NULL
                     THEN 1 ELSE 0 END AS new_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id,
                SUM(new_s) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM marked),
       lens AS (SELECT user_id, sid, COUNT(*) AS n_events
                FROM sess GROUP BY 1, 2)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
              CAST(SUM(n_events) AS BIGINT) AS n_events,
              CAST(MAX(n_events) AS BIGINT) AS max_events,
              ROUND(quantile_cont(n_events, 0.5), 6) AS p50_events,
              ROUND(quantile_cont(n_events, 0.9), 6) AS p90_events
       FROM lens""",
)
def session_length_stats(spark: SparkSession, sf: str) -> DataFrame:
    """SESSION-LENGTH distribution — the engagement report the
    per-user session counts feed into: sessions numbered by a
    running sum over the certified gap markers, events counted per
    (user, session), then one global summary (count, total, max,
    exact p50/p90). Integer gap math end to end; the percentile runs
    over the sessions-sized table (already reduced), not the events.
    The running-sum session id is the standard gaps-and-islands
    numbering — same exchange the sessionize row already pays."""
    e = t(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.withColumn(
        "new_s",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    lens = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return lens.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_events"),
        F.round(F.expr("percentile(n_events, 0.5D)"), 6).alias(
            "p50_events"
        ),
        F.round(F.expr("percentile(n_events, 0.9D)"), 6).alias(
            "p90_events"
        ),
    )


@q(
    "events_json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
       FROM events""",
)
def events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON scalar extraction from the props column."""
    return t(spark, sf, "events").select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_val"),
    )


@q(
    "streaming_discovery_cursor",
    """SELECT * FROM (VALUES
         ('ss-alpha', '2024-03-02T08:30:00Z'),
         ('ss-beta',  '2024-03-01T12:00:00Z'),
         ('ss-gamma', '2024-03-02T08:30:00Z')
       ) AS t(google_spreadsheet_id, google_modified)""",
    unbenched="streaming check: micro-batch machinery, not throughput",
)
def streaming_discovery_cursor(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's cron-driven delta-discovery loop (O1/O6) as a
    STRUCTURED STREAMING source (sources/spark_datasource.py
    SheetsDiscoveryDataSource): the stream offset IS the lexicographic
    (modifiedTime, id) tuple cursor, checkpoint-persisted, so the
    never-skip/never-repeat invariant holds across restarts by
    construction. A fresh checkpoint drains the checked-in Drive
    files-list fixture completely; the oracle is the literal expected
    relation (including the two same-timestamp files the tuple cursor
    exists to order)."""
    import os as _os
    import tempfile

    from ..sources.spark_datasource import SheetsDiscoveryDataSource

    try:
        spark.dataSource.register(SheetsDiscoveryDataSource)
    except Exception:
        pass  # already registered in this session
    fixture = _os.path.join(_FIXTURES_DIR, "drive_files.json")
    stream = (
        spark.readStream.format("gsheets-discovery")
        .option("path", fixture)
        .load()
    )
    return _drain_to_memory(stream, "disc_cursor", "append")


@q(
    "events_variant_aggregate",
    """SELECT event_type,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                   AS BIGINT) AS k_sum,
              CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                   AS BIGINT) AS k_max,
              COUNT(*) AS n
       FROM events
       WHERE json_extract_string(props, '$.k') IS NOT NULL
       GROUP BY event_type""",
)
def events_variant_aggregate(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type:
    ``parse_json`` ingests props ONCE into the binary variant
    encoding, ``variant_get`` extracts typed paths with no re-parse
    per access — the engine-native replacement for repeated
    ``get_json_object`` string parsing (which re-tokenizes the JSON
    for every path touched; the gap compounds at 100 TB with many
    extractions per row). The oracle is path-equivalent string
    extraction; the aggregate certifies typed extraction + grouping
    over variant-derived columns."""
    e = t(spark, sf, "events").withColumn(
        "_v", F.parse_json(F.col("props"))
    )
    k = F.variant_get(F.col("_v"), "$.k", "bigint")
    return (
        e.filter(k.isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(k).alias("k_sum"),
            F.max(k).alias("k_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# =====================================================================
# North-star extensions: dedup / similarity / text (BASELINE.json)
# =====================================================================
