"""Query registry — tail_q section (split from the former
queries.py; see queries/__init__.py for the package map
and _core for shared helpers)."""

from ._core import *  # noqa: F401,F403 — shared registry/helpers
from .reference_ops import _drain_to_memory, _events_stream_adaptive  # noqa: E501

@q(
    "q2_min_cost_supplier",
    """WITH costs AS (
         SELECT l.l_partkey, s.s_suppkey,
                l.l_extendedprice / l.l_quantity AS unit_cost
         FROM lineitem l
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              JOIN part p ON l.l_partkey = p.p_partkey
         WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'),
       ranked AS (
         SELECT l_partkey, s_suppkey, unit_cost,
                ROW_NUMBER() OVER (PARTITION BY l_partkey
                                   ORDER BY unit_cost, s_suppkey) AS rk
         FROM costs)
       SELECT l_partkey AS p_partkey, s_suppkey AS best_suppkey,
              ROUND(unit_cost, 4) AS min_unit_cost
       FROM ranked WHERE rk = 1""",
)
def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp table ships, lineitem
    unit price plays supply cost): for each EUROPE-sourced ECONOMY
    part, the supplier with the minimum unit cost. All dims broadcast
    onto one fact scan; the argmin is ``min(struct(cost, suppkey))``
    — a partial-aggregated groupBy with the suppkey tie-break inside
    the struct ordering, NOT a per-part window (no second shuffle).
    IEEE division is bit-identical across engines, so ordering on the
    raw quotient matches the oracle's window; rounding happens only
    at output."""
    li = t(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf, "region").filter(F.col("r_name") == "EUROPE").select(
        "r_regionkey"
    )
    p = t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    euro_supp = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey")
    )
    costs = (
        li.join(euro_supp, li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            "l_partkey",
            "s_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
        )
    )
    best = costs.groupBy("l_partkey").agg(
        F.min(F.struct("unit_cost", "s_suppkey")).alias("_best")
    )
    return best.select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("_best.s_suppkey").alias("best_suppkey"),
        F.round(F.col("_best.unit_cost"), 4).alias("min_unit_cost"),
    )


@q(
    "q11_value_concentration",
    """WITH v AS (
         SELECT l.l_partkey,
                SUM(l.l_extendedprice * (1 - l.l_discount)) AS val
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
         WHERE n.n_name = 'NATION_3'
         GROUP BY l.l_partkey)
       SELECT l_partkey, ROUND(val, 2) AS part_value
       FROM v
       WHERE val > (SELECT ROUND(SUM(val) * 0.002, 4) FROM v)""",
)
def q11_value_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value for one nation's suppliers,
    kept where it exceeds a fraction of the nation's total — the
    HAVING-against-scalar-aggregate pattern. The scalar total is an
    empty-frame window SUM over the SAME aggregate output (one fact
    scan, one shuffle; the global window sees one row per part, never
    lineitem rows — q15's discipline). The threshold is rounded to 4
    decimals in both engines before the strict compare so sum-order
    ulp noise can't flip a boundary part."""
    li = t(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf, "nation").filter(F.col("n_name") == "NATION_3").select(
        "n_nationkey"
    )
    nat_supp = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == F.col("n_nationkey")).select(
            "s_suppkey"
        )
    )
    v = (
        li.join(nat_supp, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("val")
        )
    )
    w = Window.partitionBy()
    return (
        v.withColumn("_thr", F.round(F.sum("val").over(w) * 0.002, 4))
        .filter(F.col("val") > F.col("_thr"))
        .select("l_partkey", F.round("val", 2).alias("part_value"))
    )


@q(
    "q16_supplier_cnt",
    """SELECT p.p_brand, p.p_size,
              COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
       FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
       WHERE p.p_type <> 'MEDIUM'
         AND l.l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p.p_brand, p.p_size""",
)
def q16_supplier_cnt(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, minus an excluded supplier set (negative balance plays the
    reference's complaints filter; empty at sf0.001, populated at the
    sf0.01 gate — both are correct NOT-IN semantics). The exclusion
    is a broadcast anti-join on the fact before the join to the part
    dim; count-distinct shuffles once on the uniform group key."""
    p = t(spark, sf, "part").filter(F.col("p_type") != "MEDIUM").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    bad = t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    kept = li.join(
        F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti"
    )
    return (
        kept.join(F.broadcast(p), kept.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@q(
    "q20_part_promotion",
    """SELECT s.s_suppkey, s.s_name
       FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA'
         AND s.s_suppkey IN
             (SELECT l.l_suppkey
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_name LIKE '%widget'
              GROUP BY l.l_suppkey, l.l_partkey
              HAVING SUM(l.l_quantity) > 50)""",
)
def q20_part_promotion(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: the nested semi-join chain — suppliers in a
    region having shipped > 50 units of some widget part. The inner
    aggregate groups the fact on (suppkey, partkey) after a broadcast
    part-name filter; quantities are integral doubles so the HAVING
    sum is exact (no float boundary). The outer side is dim-sized and
    semi-joins the distinct qualifying suppliers — the fact never
    joins the supplier table."""
    s = t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf, "region").filter(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    p = t(spark, sf, "part").filter(F.col("p_name").like("%widget")).select(
        "p_partkey"
    )
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    qualifying = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    asia = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    return asia.join(
        qualifying, asia.s_suppkey == qualifying.l_suppkey, "left_semi"
    )


@q(
    "events_session_window_builtin",
    """WITH marked AS (
         SELECT user_id, event_id, ts,
                CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                     OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       islands AS (
         SELECT user_id,
                SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS island
         FROM marked),
       per_island AS (
         SELECT user_id, island, COUNT(*) AS n_events
         FROM islands GROUP BY user_id, island)
       SELECT user_id, COUNT(*) AS n_sessions,
              MAX(n_events) AS max_session_events
       FROM per_island GROUP BY user_id""",
)
def events_session_window_builtin(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization through Spark's BUILT-IN ``session_window``
    aggregate (the engine-native path, vs ``events_sessionize``'s
    lag-window formulation and ``streaming_sessionize_stateful``'s
    custom state operator — three independent implementations of the
    same semantics, each oracled): groupBy(user, session_window)
    merges events whose windows overlap, i.e. a NEW session starts
    when the gap is ≥ 30 min (window end is exclusive — hence the
    oracle's ``>=`` where the lag twin uses ``>``; the two agree
    except on exact-boundary gaps). One shuffle on the user key; the
    per-user session merge is the aggregate's own state, never a
    global sort."""
    e = t(spark, sf, "events").select("user_id", "ts")
    per_session = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


@q(
    "incremental_embedding_admission",
    """SELECT b.vec_id FROM embeddings b
       WHERE b.vec_id % 10 >= 8
         AND NOT EXISTS (
               SELECT 1 FROM embeddings c
               WHERE c.vec_id % 10 < 8
                 AND ROUND(list_dot_product(b.embedding, c.embedding) /
                       (sqrt(list_dot_product(b.embedding, b.embedding)) *
                        sqrt(list_dot_product(c.embedding, c.embedding))),
                       4) >= 0.45)""",
)
def incremental_embedding_admission(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding member of the incremental-admission trilogy
    (operators/similarity.py): a new batch (vec_id%10 ∈ {8,9}) is
    admitted unless a corpus vector (vec_id%10 < 8) is cosine-≥0.45
    close. LSH-bucketed batch×corpus blocked matmul — never
    corpus×corpus — with exact round-4 cosine verify; the oracle is
    the exact brute-force admission set, equal because pair recall at
    (2 bits, 16 tables) is ~1 at gate scale and the verify trims
    candidates to truth."""
    emb = t(spark, sf, "embeddings")
    return similarity.incremental_embedding_admission(
        corpus=emb.filter(F.col("vec_id") % 10 < 8),
        batch=emb.filter(F.col("vec_id") % 10 >= 8),
        threshold=0.45,
    )


@q(
    "streaming_static_enrich",
    """SELECT c.c_mktsegment AS segment, e.event_type, COUNT(*) AS n
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY 1, 2""",
    unbenched="streaming check: micro-batch machinery, not throughput",
)
def streaming_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """STREAM-STATIC broadcast enrichment, driver-certified: the event
    stream joins a static dimension (customer segment) micro-batch by
    micro-batch. Unlike the stream-stream interval join, this join is
    STATELESS — the static side is a broadcast hash table probed by
    each batch, no join state, no watermark requirement — which is why
    stream-static is the preferred shape whenever one side is a slowly
    changing dim. Windowless grouped counts drained in complete mode;
    with the full file set available the final state equals the batch
    join+aggregate, which is the oracle."""
    stream = _events_stream_adaptive(spark, sf)
    dim = F.broadcast(
        t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = stream.join(dim, stream.user_id == dim.c_custkey, "inner")
    agg = enriched.groupBy(
        F.col("c_mktsegment").alias("segment"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    return _drain_to_memory(agg, "stream_enrich", "complete")


_GAPFILL_GRID = """
hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                  SUM(value) AS v
           FROM events GROUP BY 1, 2),
b AS (SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi
      FROM hourly GROUP BY 1),
grid AS (SELECT event_type,
                unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
         FROM b),
j AS (SELECT g.event_type, g.hour, h.v
      FROM grid g LEFT JOIN hourly h
        ON h.event_type = g.event_type AND h.hour = g.hour)"""


def _gapfill_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Shared gap-fill scaffold: hourly per-type sums densified onto
    the full first-to-last hour grid (grid rows are span-of-hours
    sized — sequence+explode from two aggregated bounds, never from
    the events themselves; the ``event_gap_report`` shape)."""
    hourly = (
        t(spark, sf, "events")
        .select("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"),
                "value")
        .groupBy("event_type", "hour")
        .agg(F.sum("value").alias("v"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    expected = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    return expected.join(hourly, ["event_type", "hour"], "left")


@q(
    "events_gapfill_locf",
    f"""WITH {_GAPFILL_GRID}
       SELECT event_type, epoch_us(hour) AS hour_us,
              v IS NOT NULL AS observed,
              ROUND(last_value(v IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                4) AS value_locf_r4
       FROM j""",
)
def events_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """GAP FILL, last-observation-carried-forward — the densification
    step time-series stores (timescaledb ``locf(time_bucket_gapfill)``)
    bolt onto rollups: every hour in each type's observed span gets a
    row, holes carry the previous hourly sum forward. The fill window
    is PARTITIONED by the series key (never a global sort); the grid
    is metadata-scale; the first grid hour is by construction observed
    (lo = first observation), so the fill never emits NULL. At 100 TB
    the span grid stays tiny while the hourly rollup is the same
    partial-aggregated shuffle every hourly query here runs."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return _gapfill_grid(spark, sf).select(
        "event_type",
        F.unix_micros(F.col("hour")).alias("hour_us"),
        F.col("v").isNotNull().alias("observed"),
        F.round(F.last("v", ignorenulls=True).over(w), 4).alias("value_locf_r4"),
    )


@q(
    "events_gapfill_interpolate",
    f"""WITH {_GAPFILL_GRID},
       k AS (SELECT event_type, hour, v,
               last_value(v IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN hour END
                          IGNORE NULLS) OVER w_prev AS ph,
               first_value(v IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN hour END
                           IGNORE NULLS) OVER w_next AS nh
             FROM j
             WINDOW w_prev AS (PARTITION BY event_type ORDER BY hour
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW),
                    w_next AS (PARTITION BY event_type ORDER BY hour
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING))
       SELECT event_type, epoch_us(hour) AS hour_us,
              v IS NOT NULL AS observed,
              CASE WHEN v IS NOT NULL
                   THEN CAST(floor(v * 1000000 + 0.5) AS BIGINT)
                   ELSE CAST(floor(
                     CAST(floor(pv * 1000000 + 0.5) AS BIGINT)
                     + (CAST(floor(nv * 1000000 + 0.5) AS BIGINT)
                        - CAST(floor(pv * 1000000 + 0.5) AS BIGINT))
                       * ((epoch_us(hour) - epoch_us(ph)) // 3600000000)
                       / ((epoch_us(nh) - epoch_us(ph)) // 3600000000)
                     + 0.5) AS BIGINT) END AS value_interp_u6
       FROM k""",
)
def events_gapfill_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """GAP FILL, linear interpolation (timescaledb ``interpolate``):
    holes take the line between the previous and next observed hourly
    sums. Exactness: the bracketing sums are converted to int64
    MICRO-UNITS first (half-up floor — safe because 2-dp inputs can
    never sit on a 1e-6 boundary), so the interpolation formula
    ``pv + (nv - pv) * dt / DT`` runs over exact INTEGER inputs and
    both engines produce the bit-identical double before the final
    half-up floor — a plain ROUND(x, 4) here provably diverges: a
    2-hour gap's midpoint of 2-dp sums lands exactly on .xxxx5, where
    Spark's HALF_UP decimal rounding and DuckDB's binary-double round
    disagree (caught by the sf0.001 oracle gate). dt/DT are integer
    HOUR counts (micros div 3600000000). Both bracketing neighbors
    exist by construction (the grid spans first..last observation);
    observed rows pass their own value through, dodging the 0/0 the
    formula would hit when prev == next == self. Two per-key fill
    windows over the same partitioning — one sort, both frames."""
    w = Window.partitionBy("event_type").orderBy("hour")
    w_prev = w.rowsBetween(Window.unboundedPreceding, 0)
    w_next = w.rowsBetween(0, Window.unboundedFollowing)
    obs_hour = F.when(F.col("v").isNotNull(), F.col("hour"))
    k = _gapfill_grid(spark, sf).select(
        "event_type", "hour", "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_hour, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_hour, ignorenulls=True).over(w_next).alias("nh"),
    )
    def u6(c):  # half-up int64 micro-units (2-dp inputs: never boundary)
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long")

    dt = F.expr(
        "(unix_micros(hour) - unix_micros(ph)) div 3600000000"
    )
    DT = F.expr("(unix_micros(nh) - unix_micros(ph)) div 3600000000")
    interp_u6 = F.floor(
        u6(F.col("pv"))
        + (u6(F.col("nv")) - u6(F.col("pv"))) * dt / DT
        + F.lit(0.5)
    ).cast("long")
    return k.select(
        "event_type",
        F.unix_micros(F.col("hour")).alias("hour_us"),
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), u6(F.col("v")))
        .otherwise(interp_u6)
        .alias("value_interp_u6"),
    )


@q(
    "priority_weighted_sample",
    """SELECT doc_id, lang, n_chars,
              (n_chars * 4294967296)
                // (('0x' || substr(md5('wsamp:' || doc_id::VARCHAR),
                                    1, 8))::BIGINT + 1) AS priority
       FROM documents
       ORDER BY priority DESC, doc_id ASC
       LIMIT 100""",
)
def priority_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """WEIGHTED sampling without replacement by PRIORITY SAMPLING
    (Duffield, Lund, Thorup, JACM 2007): per item, priority
    q_i = w_i / u_i with u_i uniform, keep the top-k priorities —
    inclusion probability is proportional-ish to weight with unbiased
    subset-sum estimation. Weight here is n_chars (length-weighted
    corpus sampling — the proxy for token-budget-proportional
    selection in LLM data curation). EXACT and engine-free: u_i is
    the md5-derived 32-bit integer h+1, and the priority is the
    integer division (w << 32) div (h+1) — no pow/log whose last-ulp
    libm differences could flip a rank across engines — with doc_id
    breaking exact priority ties. Top-k plans as
    TakeOrderedAndProject (partial per-partition top-k, driver merge
    of k rows/partition): a narrow scan at any corpus size, no
    shuffle at all."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return (
        t(spark, sf, "documents")
        .withColumn("_h", h)
        .select(
            "doc_id", "lang", "n_chars",
            F.expr("(n_chars * 4294967296L) div (_h + 1)").alias("priority"),
        )
        .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
        .limit(100)
    )


def _pagerank_oracle(n_iter: int = 6) -> str:
    """Unrolled-CTE twin of operators/graph.py pagerank over the
    3-NN cosine graph: DuckDB's recursive CTEs forbid aggregation
    over the recursive term, so the fixed iteration count is unrolled
    — one CTE per step, each the literal join-aggregate the Spark
    loop runs, in the same exact int64 pico-unit arithmetic."""
    head = """
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         list_dot_product(a.embedding, b.embedding) /
           (sqrt(list_dot_product(a.embedding, a.embedding)) *
            sqrt(list_dot_product(b.embedding, b.embedding))) AS cos
  FROM embeddings a CROSS JOIN embeddings b),
edges AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY cos DESC, dst ASC) AS rk
    FROM scored) WHERE rk BETWEEN 2 AND 4),
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1),
nodes AS (SELECT vec_id AS node FROM embeddings),
it0 AS (SELECT node,
               1000000000000 // (SELECT COUNT(*) FROM nodes) AS r
        FROM nodes)"""
    step = """,
it{i} AS (
  SELECT n.node,
         CAST((15 * (1000000000000 // (SELECT COUNT(*) FROM nodes))) // 100
              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst, CAST(SUM(p.r // d.out_deg) AS BIGINT) AS s
    FROM it{p} p
    JOIN deg d ON d.src = p.node
    JOIN edges e ON e.src = p.node
    GROUP BY 1) c
  ON c.dst = n.node)"""
    body = "".join(step.format(i=i, p=i - 1) for i in range(1, n_iter + 1))
    return (
        "WITH " + head + body
        + f"\nSELECT node AS vec_id, r AS pagerank_p12 FROM it{n_iter}"
    )


@q("simgraph_pagerank", _pagerank_oracle(6))
def simgraph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PAGERANK over the similarity graph (operators/graph.py) — the
    link-graph authority score crawl-corpus curation ranks documents
    by, run here on the 3-NN cosine graph of the embeddings table
    (every node out-degree 3, no dangling mass). Six synchronous
    power iterations in exact int64 pico-units: each iteration is
    ranks ⋈ edges on src + a partial-aggregated contribution shuffle
    on dst + a node-set left join for zero-in-degree nodes — the
    Pregel shape, rank vector distributed end to end, nothing
    collected. Integer ``div`` everywhere makes the trajectory
    bit-identical across engines and partitionings (float PageRank
    drifts with summation order); the oracle unrolls the same six
    join-aggregates as CTEs. Edge construction: ranks 2..4 of the
    self-inclusive exact cosine ranking (the certified cosine_topk
    relation, self at rank 1); at 100 TB the edge list comes from the
    certified ANN path (IVF/NSW) instead of brute force, and
    ranks+edges pre-bucket on src for zero-exchange iteration joins."""
    emb = t(spark, sf, "embeddings")
    from ..operators import graph as graph_ops

    # the corpus side of the all-vs-all build must be spread across
    # the cluster BEFORE the broadcast crossJoin expands it |Q|-fold —
    # a single-file local read would otherwise compute every pair in
    # one task (at production scale the corpus arrives pre-split and
    # this repartition is a no-op-sized safeguard)
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    knn = similarity.cosine_topk_bruteforce(emb, corpus, k=4)
    edges = knn.filter(F.col("rank").between(2, 4)).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    ranks = graph_ops.pagerank(nodes, edges, n_iter=6)
    return ranks.select(
        F.col("node").alias("vec_id"), F.col("r").alias("pagerank_p12")
    )


@q(
    "copurchase_triangles",
    """WITH e AS (
         SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS a,
                GREATEST(a.l_partkey, b.l_partkey) AS b
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey <= 1000 AND b.l_partkey <= 1000),
       w AS (SELECT e1.a AS wa, e1.b AS wb, e2.b AS wc
             FROM e e1 JOIN e e2 ON e1.b = e2.a),
       tri AS (SELECT w.wa, w.wb, w.wc
               FROM w JOIN e ON w.wa = e.a AND w.wc = e.b),
       corners AS (
         SELECT wa AS node FROM tri
         UNION ALL SELECT wb FROM tri
         UNION ALL SELECT wc FROM tri)
       SELECT node, COUNT(*)::BIGINT AS n_triangles
       FROM corners GROUP BY node""",
)
def copurchase_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """TRIANGLE COUNTING (operators/graph.py triangle_counts) over
    the co-purchase graph — the graph-analytics census PageRank and
    connected components don't give: per-node triangle membership
    (the clustering-coefficient numerator; community density, spam
    features, dedup-cluster diagnostics). The graph: parts ≤ 1000
    are nodes, an edge joins two parts bought in the same order (the
    market-basket projection; the bound DEFINES the graph — node set
    stays fixed across sf while density grows, keeping the wedge
    fan-out proportional to edges, not corpus²). Each triangle
    {a<b<c} enumerates once as an ordered wedge + closing probe —
    two co-partitionable equi-joins, no iteration; the oracle runs
    the identical ordered enumeration in SQL."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    small = li.filter(F.col("l_partkey") <= 1000)
    edges = (
        small.alias("x")
        .join(
            small.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
    )
    from ..operators.graph import triangle_counts

    return triangle_counts(edges)
