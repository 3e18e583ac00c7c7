"""Physical-plan assertions: the optimizations the 100 TB design relies
on must be visible in explain output — pushdown, pruning, broadcast
strategies, and shuffle counts. A regression here is a performance bug
even when results stay correct."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from google_sheets_etl_spark.operators import dedup, rows as K
from google_sheets_etl_spark.queries import QUERIES


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_manifest_repartition_only(plan: str, name: str = "") -> None:
    """Round-11 kernel plan contract: heavy per-payload Python
    kernels read a manifest REPARTITIONED round-robin to the session
    parallelism (_core.t_par — measured: the one-file sf corpora
    otherwise bound kernel parallelism to ONE worker), and that is
    the ONLY exchange — no hash/range data shuffle anywhere in the
    kernel chain."""
    # formatted explain prints each node twice: a bare tree line
    # ("+- Exchange (4)") and a details block whose Arguments carry
    # the partitioning — so 2 "Exchange" per node, 1 partitioning
    n_ex = plan.count("Exchange")
    n_rr = plan.count("RoundRobinPartitioning")
    assert n_rr >= 1, (name, "manifest repartition missing")
    assert n_ex == 2 * n_rr, (name, n_ex, n_rr)


def test_q1_predicate_and_projection_pushdown(spark, sf_dir):
    plan = explain_str(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: the scan must NOT read unused lineitem columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_uses_broadcast_joins(spark, sf_dir):
    plan = explain_str(QUERIES["q5_region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_anti_join_is_broadcast(spark, sf_dir):
    plan = explain_str(QUERIES["change_filter_anti_join"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_kernel_projection_has_no_shuffle(spark):
    sheet = spark.createDataFrame(
        [(0, ["h"]), (1, ["a"]), (2, ["b"])], "row_idx long, cells array<string>"
    )
    data = K.project_rows(K.trim_cells(sheet), [0], ["h"], 1)
    plan = explain_str(data)
    assert "Exchange" not in plan  # narrow end to end


def test_exact_dedup_groups_single_shuffle(spark, sf_dir):
    df = dedup.exact_dedup_groups(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    plan = explain_str(df)
    # one hash-partitioned exchange for the groupBy, nothing else
    assert plan.count("+- Exchange") == 1
    assert "partial" in plan.lower()  # map-side partial aggregation


def test_watermark_is_partial_agg_not_sort(spark, sf_dir):
    plan = explain_str(QUERIES["watermark_tuple_max"](spark, sf_dir))
    # map-side partial max + single-partition final: never a global sort
    # (the SortAggregate *node name* is fine — no grouping keys, and no
    # standalone Sort operator appears)
    assert "partial_max" in plan
    assert "\n   +- Sort " not in plan and "+- Sort (" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = explain_str(QUERIES["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # not a full sort + limit


def test_q6_all_predicates_pushed(spark, sf_dir):
    plan = explain_str(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    for f in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({f})" in plan or f in plan.split("PushedFilters")[1].split("]")[0], f
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema  # only the 4 needed columns


def test_q4_semi_join(spark, sf_dir):
    plan = explain_str(QUERIES["q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan
    # the returnflag filter must reach the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_range_join_is_not_nested_loop(spark, sf_dir):
    plan = explain_str(QUERIES["range_join_clicks_after_error"](spark, sf_dir))
    assert "NestedLoop" not in plan  # bucketized equi-join, never BNLJ


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both fact tables on the join key makes the join
    shuffle-free — the 100 TB strategy for repeated co-located joins
    (pay the shuffle once at write time, never again at read time)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the bucket layout, not table size, is
        # what avoids the exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        plan = explain_str(bo.join(bl, bo.o_orderkey == bl.l_orderkey))
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_asof_join_single_exchange_per_side(spark, sf_dir):
    plan = explain_str(QUERIES["events_asof_error"](spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # union -> one hash exchange on the key -> window; no join at all
    assert "Window" in plan and "Join" not in plan


def test_hash_split_is_narrow(spark, sf_dir):
    from google_sheets_etl_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(sampling.hash_split(docs).select("doc_id", "split"))
    assert "Exchange" not in plan  # pure map: split never shuffles
    # and the scan reads only what the projection needs
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_pack_shards_partitions_by_group(spark, sf_dir):
    from google_sheets_etl_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(
        sampling.pack_shards(docs, budget=5000, group_col="source",
                             size_col="n_chars"))
    # one hash exchange on the group column — NOT a global single-
    # partition sort (which is what an unpartitioned cumsum would plan)
    assert plan.count("+- Exchange") == 1
    assert "SinglePartition" not in plan


def test_repetition_stats_is_narrow(spark, sf_dir):
    from google_sheets_etl_spark.operators.text import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(repetition_stats(docs))
    # strictly per-document statistic: one Arrow kernel pass, no
    # shuffle anywhere (the bigram explode + groupBy formulation moved
    # every bigram through an exchange for no cross-doc reason)
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_gopher_filter_is_narrow(spark, sf_dir):
    from google_sheets_etl_spark.operators.text import gopher_quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(gopher_quality_filter(docs))
    assert "Exchange" not in plan  # map-only gate fuses into the scan


def test_vocab_coverage_distributed_prefix_sum(spark, sf_dir):
    from google_sheets_etl_spark.operators.text import vocab_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(vocab_coverage(docs))
    # the vocab ranking must NOT be a global single-task window: no
    # row_number over an unpartitioned ordering anywhere in the plan —
    # ranks come from per-partition local scans + broadcast offsets
    assert "row_number" not in plan
    # the only single-partition window runs over ONE row per partition
    # (the _pid aggregate), bounded by cluster width, never data
    assert "_psum" in plan and "_pcnt" in plan
    assert "BroadcastExchange" in plan  # offsets + totals join broadcast
    # the local-scan output is persisted (MEMORY_AND_DISK — keeps
    # recompute lineage, unlike localCheckpoint's executor-local
    # blocks): both consumers read the cached scan, the corpus explode
    # runs once
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_mixture_weights_single_shuffle(spark, sf_dir):
    from google_sheets_etl_spark.operators.sampling import mixture_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(mixture_weights(docs))
    # one hash exchange for the per-key agg; totals come back broadcast
    assert plan.count("Exchange hashpartitioning") <= 2  # agg + its partial
    assert "BroadcastExchange" in plan


def test_pii_redact_is_narrow(spark, sf_dir):
    plan = explain_str(QUERIES["pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan  # one codegen'd projection pass
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_epoch_shuffle_is_narrow(spark, sf_dir):
    plan = explain_str(QUERIES["epoch_shuffle_assign"](spark, sf_dir))
    assert "Exchange" not in plan  # explode + md5 projections only
    assert "Sort" not in plan  # readers sort their slice, not the plan


def test_span_dedup_two_uniform_exchanges(spark, sf_dir):
    plan = explain_str(QUERIES["span_dedup_rebuild"](spark, sf_dir))
    # span-hash window + doc rebuild: exactly two hash exchanges, both
    # on uniform keys (md5(span), doc_id) — never a global sort
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_distinct_before_anti_join(spark, sf_dir):
    plan = explain_str(QUERIES["incremental_exact_dedup"](spark, sf_dir))
    # the corpus side must reduce to distinct hashes BEFORE the join:
    # partial+final keyed HashAggregates feeding the anti join's build
    assert "LeftAnti" in plan
    assert plan.count("HashAggregate") >= 2


def test_q21_single_pass_no_self_join(spark, sf_dir):
    plan = explain_str(QUERIES["q21_sole_late_supplier"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # the EXISTS/NOT-EXISTS pair is aggregates, not self-joins: the
    # fact table (lineitem) is scanned exactly once
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan  # supplier dim broadcast
    assert "partial_" in plan or "Partial" in plan  # map-side combine
    # ONE exchange serves the (orderkey, suppkey) aggregate AND both
    # orderkey windows (coarser hash partitioning satisfies both);
    # the only other non-broadcast exchange is the tiny s_name rollup
    non_bcast = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "Reused" not in ln
    ]
    assert len(non_bcast) <= 2 * 2, non_bcast  # tree + node-detail listing


def test_funnel_shuffles_on_user_key_only(spark, sf_dir):
    plan = explain_str(QUERIES["funnel_view_click_purchase"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # every exchange in the funnel hashes user_id (plus the three
    # 1-row stage counts); no full-stream window
    assert "Window" not in plan


def test_cohort_distinct_before_join(spark, sf_dir):
    plan = explain_str(QUERIES["cohort_retention"](spark, sf_dir))
    # the user-day distinct must partial-aggregate before its exchange
    assert "partial_" in plan or "Partial" in plan


def test_heavy_hitters_shuffle_carries_candidates_only(spark, sf_dir):
    plan = explain_str(QUERIES["heavy_hitter_tokens"](spark, sf_dir))
    # the exact phase semi-joins against BROADCAST candidates before
    # its aggregation exchange — never a full-vocab shuffle path
    assert "BroadcastExchange" in plan
    assert "LeftSemi" in plan


def test_rolling_7d_is_range_frame_per_user(spark, sf_dir):
    plan = explain_str(QUERIES["user_rolling_7d_activity"](spark, sf_dir))
    assert "RangeFrame" in plan or "RANGE BETWEEN" in plan
    assert "SinglePartition" not in plan


def test_incremental_near_dup_corpus_index_aggregated(spark, sf_dir):
    """The batch-vs-corpus near-dup admission must join the batch's
    band buckets against a corpus index AGGREGATED TO DISTINCT
    (band, bucket, id) — never corpus x corpus, never batch x corpus
    raw — and must contain no cartesian product anywhere."""
    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    admitted = dedup.incremental_near_dup_admission(
        corpus=docs.filter(F.col("doc_id") % 10 < 8),
        batch=docs.filter(F.col("doc_id") % 10 >= 8),
    )
    plan = explain_str(admitted)
    # the candidate join is an EQUI-join on the uniform (band, bucket)
    # key (broadcast at toy scale; hash-shuffled at index scale —
    # either way the keys must be the band bucket, not a filter-probe)
    assert re.search(r"keys \[2\]: \[band#\d+, bucket#\d+", plan, re.I)
    # the corpus side is reduced to a distinct index before the join:
    # a HashAggregate keyed on [band, bucket, doc_id] with no functions
    assert re.search(
        r"Keys \[3\]: \[doc_id#\d+L?, band#\d+, bucket#\d+", plan
    ), "corpus (id, band, bucket) distinct-aggregate missing from plan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_bloom_probes_without_shuffling_train(spark, sf_dir):
    """The Bloom decontamination's train-gram side must reach the
    probe joins as BroadcastHashJoins — three of them (k=3) — so the
    corpus-sized gram stream is filtered before any exchange ever
    sees it. Losing these to a shuffle join would reintroduce the
    corpus-sized distinct that the query exists to avoid."""
    plan = explain_str(QUERIES["decontaminate_bloom"](spark, sf_dir))
    n_bhj = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and "BroadcastHashJoin" in line
    )
    assert n_bhj >= 3
    # the bitmask residual rides the join condition, not a post-filter
    assert plan.count("Join condition") >= 3 and "& " in plan


def test_q2_argmin_is_aggregate_not_window(spark, sf_dir):
    """q2's per-part argmin must be the struct-min AGGREGATE (one
    partial-agg shuffle on l_partkey) with every dim broadcast — a
    window formulation would shuffle the joined fact twice and sort
    per part."""
    plan = explain_str(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine of the struct min


def test_zorder_single_aggregate_exchange(spark, sf_dir):
    """The z-order layout audit is a narrow key computation plus ONE
    aggregate shuffle on file_id (the O(1) bounds row broadcasts
    back); a second data-scale exchange means the normalization
    joined wrong."""
    plan = explain_str(QUERIES["zorder_layout_stats"](spark, sf_dir))
    # formatted explain puts the partitioning in an Arguments: line
    n_hash_exchanges = plan.count("Arguments: hashpartitioning(file_id")
    assert n_hash_exchanges == 1
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_parquet_aggregate_pushdown_answers_from_footers(spark, sf_dir):
    """MIN/MAX/COUNT with no filter must be answerable from parquet
    footer statistics — zero data scan — on the V2 reader path (the
    100 TB "how many rows / what date range" admin queries). The conf
    flip is test-scoped: execution happens inside the try, and the V1
    default is restored for every other test."""
    prev = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
            F.count("*").alias("n"),
            F.min("l_orderkey").alias("k0"),
            F.max("l_orderkey").alias("k1"),
        )
        plan = explain_str(df)
        # integral/atomic columns push; timestamps are excluded by
        # Spark's pushdown rules (rebase semantics) — use the key
        assert "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]" in plan
        row = df.collect()[0]
        assert row["n"] > 0 and row["k0"] <= row["k1"]
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev)


def test_span_dedup_minlen_no_extra_exchange_for_run_windows(spark, sf_dir):
    plan = explain_str(QUERIES["span_dedup_minlen"](spark, sf_dir))
    # chunking window (doc) + occurrence window (chunk md5) + island
    # window (doc) + rebuild groupBy: the run-length window partitions
    # on (doc, island) — a clustering subset of the doc hash — and the
    # rebuild reuses the doc partitioning, so the whole min-run gate
    # adds at most TWO exchanges over the ungated CDC plan's three
    assert plan.count("Exchange hashpartitioning") <= 5
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_typed_view_profile_is_one_scan_partial_aggregate(spark, sf_dir, monkeypatch):
    from google_sheets_etl_spark.operators import typed_views

    # the query decides on the driver from the counters it collects, so
    # its one Spark statement is the profile: pin that statement's plan
    profiles = []
    real = typed_views.profile_counters
    monkeypatch.setattr(typed_views, "profile_counters",
                        lambda *a, **kw: profiles.append(real(*a, **kw)) or profiles[-1])
    QUERIES["typed_view_cast_stats"](spark, sf_dir)
    assert len(profiles) == 1
    plan = explain_str(profiles[0])
    # ONE table scan; the cells explode to LONG (column_name, value)
    # rows consumed by a partial-aggregated groupBy(column_name) —
    # the round-7 shape that keeps every probe inside whole-stage
    # codegen (the wide per-column-aggregate form exceeded codegen's
    # field limit). The ONLY data-keyed exchange is the final-agg
    # hashpartitioning on column_name, whose input is one partial
    # row per column per task — metadata-scale, not data-scale.
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan
    assert "hashpartitioning(column_name" in plan
    # probes run codegen'd over the exploded stream, never per-column
    assert "Generate" in plan
    assert "explode" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_cell_blocks_and_no_cartesian(spark, sf_dir):
    plan = explain_str(QUERIES["semantic_dedup_keep"](spark, sf_dir))
    # the intra-cell pair search is the per-cell Arrow matrix block
    # grouped ON THE CELL KEY (one uniform exchange), never a
    # cartesian product; the E-step's broadcast happens inside the
    # materialized assignment (localCheckpoint), upstream of this
    # plan — its shape is pinned by _assign_cells' other consumers
    # (kmeans_assign_step's broadcast test)
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(cell" in plan
    assert "CartesianProduct" not in plan


def test_bpe_pairs_aggregate_on_vocabulary_not_corpus(spark, sf_dir):
    from google_sheets_etl_spark.operators import text as text_ops

    wf = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # the trainer's per-round pair scan must read the materialized
    # vocabulary (localCheckpoint scan), not re-derive from documents
    merges = text_ops.bpe_learn_merges(wf, n_merges=1)
    assert merges.count() == 1  # ran end-to-end with one corpus build


def test_wav_energy_is_narrow_no_shuffle(spark, sf_dir):
    plan = explain_str(QUERIES["multimodal_wav_energy"](spark, sf_dir))
    # decode is one Arrow kernel over the repartitioned manifest: the
    # round-robin exchange is the ONLY one — the kernel scales with
    # cores, not input file count (round-11 t_par contract)
    assert_manifest_repartition_only(plan)
    assert "MapInPandas" in plan or "mapInPandas" in plan


def test_pq_encode_narrow_and_adc_broadcast(spark, sf_dir):
    """PQ scale shapes: encode is a narrow Arrow kernel over the scan
    (no exchange — codebooks ride the closure); the ADC scoring join
    broadcasts the query stream so the CODE table never shuffles."""
    from google_sheets_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = emb.filter(F.col("vec_id") >= 10)
    cb = similarity._pq_codebooks(c, 8, 128, "vec_id", "embedding", 42)
    enc_plan = explain_str(similarity.pq_encode(c, cb))
    assert "Exchange" not in enc_plan
    assert "MapInPandas" in enc_plan or "mapInPandas" in enc_plan

    adc_plan = explain_str(QUERIES["pq_topk_adc"](spark, sf_dir))
    assert "BroadcastExchange" in adc_plan
    assert "SortMergeJoin" not in adc_plan
    assert "CartesianProduct" not in adc_plan


def test_sq8_bounds_partial_agg_and_encode_narrow(spark, sf_dir):
    """SQ8 scale shapes: the bounds pass is explode → PARTIAL min/max
    (the shuffle carries per-task partials over ~dim keys, never
    n·dim rows — 'partial_min/max' must appear below the exchange);
    encode is a narrow Arrow kernel (grid rides the closure); the ADC
    join broadcasts queries so the code table never shuffles."""
    from google_sheets_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = emb.filter(F.col("vec_id") >= 10)

    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x)
    )
    bounds_plan = explain_str(
        c.select(F.posexplode(e).alias("d", "x"), norm.alias("n"))
        .select("d", (F.col("x") / F.col("n")).alias("x"))
        .groupBy("d")
        .agg(F.min("x"), F.max("x"))
    )
    assert "partial_min" in bounds_plan
    assert "partial_max" in bounds_plan

    bounds = similarity.sq8_bounds(c)
    enc_plan = explain_str(similarity.sq8_encode(c, bounds))
    assert "Exchange" not in enc_plan

    adc_plan = explain_str(QUERIES["sq8_topk_adc"](spark, sf_dir))
    assert "BroadcastExchange" in adc_plan
    assert "SortMergeJoin" not in adc_plan
    assert "CartesianProduct" not in adc_plan


def test_round8_media_kernels_are_narrow(spark, sf_dir):
    """GIF decode, WHT spectral bands, and wHash are per-payload
    Arrow kernels over the scan — no exchange anywhere; they scale
    purely with input splits (the PPM/WAV/dHash contract extended to
    the round-8 formats)."""
    for name in (
        "gif_decode_features",
        "audio_spectral_bands",
        "image_whash_fingerprints",
    ):
        plan = explain_str(QUERIES[name](spark, sf_dir))
        assert_manifest_repartition_only(plan, name)
        assert "MapInPandas" in plan or "mapInPandas" in plan, name


def test_matview_merge_equals_direct_aggregate_any_order(spark):
    """Mergeable-summary contract: per-load summaries merged in ANY
    order and grouping equal one direct aggregation over all raw rows
    (count cells add, sums add, min/max survive reordering)."""
    from google_sheets_etl_spark.plans import matview

    rows = spark.createDataFrame(
        [(k % 3, float(k), k % 7) for k in range(200)],
        "g int, v double, w int",
    )
    ms = {
        "n": matview.Measure("count"),
        "sum_v": matview.Measure("sum", "v"),
        "min_w": matview.Measure("min", "w"),
        "max_w": matview.Measure("max", "w"),
    }
    direct = {
        r["g"]: (r["n"], r["sum_v"], r["min_w"], r["max_w"])
        for r in matview.summarize(rows, ["g"], ms).collect()
    }
    loads = [
        matview.summarize(rows.filter(F.col("v") % 4 == m), ["g"], ms)
        for m in range(4)
    ]
    for order in ([0, 1, 2, 3], [3, 1, 0, 2]):
        merged = matview.merge([loads[i] for i in order], ["g"], ms)
        got = {
            r["g"]: (r["n"], r["sum_v"], r["min_w"], r["max_w"])
            for r in merged.collect()
        }
        assert got == direct
    # nested fold (standing + one delta at a time) — associativity
    standing = loads[0]
    for d in loads[1:]:
        standing = matview.merge([standing, d], ["g"], ms)
    got = {
        r["g"]: (r["n"], r["sum_v"], r["min_w"], r["max_w"])
        for r in standing.collect()
    }
    assert got == direct


def test_matview_measure_validation(spark):
    """Measure contract: unmergeable kinds and malformed specs raise;
    merging nothing raises."""
    from google_sheets_etl_spark.plans import matview

    with pytest.raises(ValueError, match="unmergeable"):
        matview.Measure("avg", "v")
    with pytest.raises(ValueError, match="count takes no"):
        matview.Measure("count", "v")
    with pytest.raises(ValueError, match="count takes no"):
        matview.Measure("sum")
    with pytest.raises(ValueError, match="nothing to merge"):
        matview.merge([], ["g"], {})


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_new_candidate_joins_have_no_cartesian(spark, sf_dir):
    """The r7 candidate-bounded joins must stay equi-joins: FastSS
    signature join, containment gram join, phrase postings
    intersection, and the video signature join may never degrade to
    CartesianProduct / BroadcastNestedLoop (the n-squared failure
    mode their designs exist to avoid)."""
    for name in (
        "fuzzy_title_near_dup",
        "doc_containment_pairs",
        "phrase_search_counts",
        "video_signature_near_dup",
        "token_cooccurrence_lift",
    ):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_expectations_report_single_scan_and_null_semantics(spark):
    """Expectations contracts: all rules evaluate in ONE aggregate
    over one scan (exactly one Exchange in the plan); NULL rule
    results count as violations; empty rule list raises."""
    import pytest as _pt

    from google_sheets_etl_spark.plans.stats import expectations_report

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 60.0)], "id long, v double"
    )
    rep = expectations_report(df, [
        ("v_under_50", F.col("v") < 50),
        ("id_positive", F.col("id") > 0),
    ])
    got = {r["rule"]: (r["n_violations"], r["pass"]) for r in rep.collect()}
    # NULL v fails the bound (cannot evaluate => not met) + 60 fails
    assert got["v_under_50"] == (2, False)
    assert got["id_positive"] == (0, True)
    # count shuffle STAGES in the FINAL plan only — AQE's formatted
    # output repeats every node under "Initial Plan", and each
    # ShuffleQueryStage prints its child Exchange too
    final = _plan(rep).split("Initial Plan")[0]
    assert final.count("ShuffleQueryStage") == 1, final

    with _pt.raises(ValueError, match="no rules"):
        expectations_report(df, [])


def test_scd2_apply_contracts(spark):
    """SCD2 contracts: no-op redelivery mints no version; NULL→value
    and value→NULL both count as changes (eqNullSafe); duplicate
    updates for one key in a batch raise; re-applying the same batch
    is idempotent."""
    from google_sheets_etl_spark.plans.scd import OPEN_END_US, scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", 0, OPEN_END_US), (2, None, 0, OPEN_END_US)],
        "k long, attr string, valid_from_us long, valid_to_us long",
    )
    batch = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 10)], "k long, attr string, ts_us long"
    )
    out = scd2_apply(dim, batch, "k", ["attr"])
    rows = {(r["k"], r["attr"], r["valid_from_us"], r["valid_to_us"])
            for r in out.collect()}
    assert (1, "A", 0, OPEN_END_US) in rows          # no-op: untouched
    assert (2, None, 0, 10) in rows                  # NULL→B closed
    assert (2, "B", 10, OPEN_END_US) in rows
    assert len(rows) == 3

    again = scd2_apply(out, batch, "k", ["attr"])
    assert {(r["k"], r["attr"], r["valid_from_us"], r["valid_to_us"])
            for r in again.collect()} == rows        # idempotent

    import pytest as _pt
    dup = spark.createDataFrame(
        [(1, "X", 10), (1, "Y", 11)], "k long, attr string, ts_us long"
    )
    with _pt.raises(ValueError, match="multiple updates"):
        scd2_apply(dim, dup, "k", ["attr"])

    # out-of-order guard: a genuinely-changed update whose ts is <=
    # the current version's valid_from_us would mint an INVERTED
    # validity interval (valid_to < valid_from) — it must raise, not
    # silently corrupt as-was joins. Equal-ts no-ops (the redelivery
    # case above) stay fine because nothing changed.
    late = spark.createDataFrame(
        [(2, "C", 5)], "k long, attr string, ts_us long"
    )
    with _pt.raises(ValueError, match="out-of-order"):
        scd2_apply(out, late, "k", ["attr"])
    boundary = spark.createDataFrame(
        [(2, "C", 10)], "k long, attr string, ts_us long"
    )  # ts == valid_from_us would make a zero-width current version
    with _pt.raises(ValueError, match="out-of-order"):
        scd2_apply(out, boundary, "k", ["attr"])


def _persistent_rdd_ids(spark) -> set[int]:
    """IDs of currently persistent RDDs. Assertions below diff these
    sets rather than compare counts: other tests' leftover handles
    can be unpersisted ASYNCHRONOUSLY mid-test by the ContextCleaner
    when Python GC drops their references, so absolute counts flake
    under full-suite ordering — but concurrent cleanup only ever
    REMOVES ids, so 'no NEW ids beyond ours' stays sound."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_scd2_cache_lifecycle(spark):
    """Round-9 advisory: the SCD2 plans OWN their cache lifecycle.
    Plain scd2_apply leaves zero executor-storage residue; scd2_batch
    caches the cur⋈updates join for the with-block and releases it on
    exit; scd2_apply_batches returns the same dimension as chained
    scd2_apply with at most one handle (the documented persisted
    result) left standing."""
    from google_sheets_etl_spark.plans.scd import (
        OPEN_END_US,
        scd2_apply,
        scd2_apply_batches,
        scd2_batch,
    )

    base = _persistent_rdd_ids(spark)
    dim = spark.createDataFrame(
        [(1, "A", 0, OPEN_END_US), (2, "B", 0, OPEN_END_US)],
        "k long, attr string, valid_from_us long, valid_to_us long",
    )
    b1 = spark.createDataFrame(
        [(1, "X", 10), (3, "C", 10)], "k long, attr string, ts_us long"
    )
    b2 = spark.createDataFrame(
        [(2, "Y", 20)], "k long, attr string, ts_us long"
    )

    # plain apply: materialize the result, then assert no residue
    out = scd2_apply(dim, b1, "k", ["attr"])
    plain_rows = {tuple(r) for r in out.collect()}
    assert not (_persistent_rdd_ids(spark) - base)

    # scoped: cached INSIDE the block, released on exit
    with scd2_batch(dim, b1, "k", ["attr"]) as scoped:
        scoped_rows = {tuple(r) for r in scoped.collect()}
        inside = _persistent_rdd_ids(spark) - base
        assert inside
    assert scoped_rows == plain_rows
    assert not (_persistent_rdd_ids(spark) & inside)

    # scoped guard raise still releases (no unreachable handle)
    dup = spark.createDataFrame(
        [(1, "P", 30), (1, "Q", 31)], "k long, attr string, ts_us long"
    )
    import pytest as _pt
    with _pt.raises(ValueError, match="multiple updates"):
        with scd2_batch(dim, dup, "k", ["attr"]):
            pass  # pragma: no cover — guard raises before yield
    assert not (_persistent_rdd_ids(spark) - base)

    # batch loop: equals chained applies; only the documented final
    # handle remains, and releasing it removes every id we created
    chained = {tuple(r) for r in
               scd2_apply(scd2_apply(dim, b1, "k", ["attr"]),
                          b2, "k", ["attr"]).collect()}
    looped_df = scd2_apply_batches(dim, [b1, b2], "k", ["attr"])
    assert {tuple(r) for r in looped_df.collect()} == chained
    assert len(_persistent_rdd_ids(spark) - base) == 1
    looped_df.unpersist()
    assert not (_persistent_rdd_ids(spark) - base)


def test_matview_approx_distinct_merges_like_full(spark):
    """approx_distinct contract: merging per-load sketch summaries
    estimates the SAME value as one full-data sketch (union is
    lossless), and the estimate is exact at small cardinalities."""
    from google_sheets_etl_spark.plans import matview

    rows = spark.createDataFrame(
        [(k % 2, k % 37) for k in range(500)], "g int, u int"
    )
    ms = {"du": matview.Measure("approx_distinct", "u")}
    full = matview.summarize(rows, ["g"], ms)
    loads = [
        matview.summarize(rows.filter(F.col("u") % 3 == m), ["g"], ms)
        for m in range(3)
    ]
    merged = matview.merge(loads, ["g"], ms)

    def est(df):
        return {
            r["g"]: r["e"]
            for r in df.select(
                "g", matview.estimate_distinct(df, "du").alias("e")
            ).collect()
        }

    assert est(merged) == est(full)
    # 37 distinct values: HLL at lgK=12 is exact in sparse mode
    assert all(round(v) == 37 for v in est(full).values())


def test_tokenizer_vocab_topk_is_take_ordered(spark, sf_dir):
    """Vocab selection must plan as TakeOrderedAndProject (distributed
    partial top-k, driver merge) — never a row_number over an
    unpartitioned Window, which funnels every distinct substring of
    the corpus vocabulary through one task."""
    from google_sheets_etl_spark.operators import text as T

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for builder in (
        lambda: T.wordpiece_vocab(docs, top_k=50),
        lambda: T.unigram_piece_table(docs, top_k=50),
    ):
        plan = explain_str(builder())
        assert "TakeOrderedAndProject" in plan
        assert "row_number" not in plan


def test_gapfill_window_is_key_partitioned(spark, sf_dir):
    """The fill window must be partitioned by the series key — an
    unpartitioned fill would funnel the whole grid through one task."""
    for name in ("events_gapfill_locf", "events_gapfill_interpolate"):
        plan = explain_str(QUERIES[name](spark, sf_dir))
        specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert specs, name
        assert all("event_type" in l.split("windowspecdefinition")[1][:40]
                   for l in specs), name


def test_priority_sample_is_take_ordered_no_exchange(spark, sf_dir):
    """Weighted top-k must plan as TakeOrderedAndProject over the bare
    scan — a narrow map + partial top-k with NO shuffle anywhere."""
    plan = explain_str(QUERIES["priority_weighted_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_scd2_asof_join_broadcasts_dimension(spark, sf_dir):
    """Facts probe the broadcast version table with the half-open
    range residual riding the equi-join — the fact side never
    shuffles for the enrichment."""
    plan = explain_str(QUERIES["scd2_asof_join"](spark, sf_dir))
    assert "BroadcastHashJoin Inner" in plan
    assert "valid_to_us" in plan and ">=" in plan
    # no sort-merge join anywhere: every join in the plan (demo-dim
    # build included) broadcasts its small side
    assert "SortMergeJoin" not in plan


def test_round9_media_kernels_are_narrow(spark, sf_dir):
    """MP4 frame decode and ADPCM energy are per-payload Arrow
    kernels over the scan — no exchange anywhere (the PPM/WAV/AVI
    contract extended to the round-9 container + codec); the audits
    share the same shape."""
    for name in (
        "mp4_mjpeg_frame_stats",
        "wav_adpcm_energy",
        "mp4_decode_audit",
        "wav_adpcm_audit",
    ):
        plan = explain_str(QUERIES[name](spark, sf_dir))
        assert_manifest_repartition_only(plan, name)
        assert "MapInPandas" in plan or "mapInPandas" in plan, name


def test_mojibake_repair_is_codegen_narrow(spark, sf_dir):
    """The ftfy pass is one narrow whole-stage-codegen projection:
    no exchange, no Python (no MapInPandas/ArrowEvalPython) — the
    repair rides the scan."""
    plan = explain_str(QUERIES["mojibake_repair_stats"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    # formatted explain marks codegen stages with the '*' prefix
    assert "* Project" in plan


def test_hybrid_rrf_fusion_no_cartesian_beyond_documented(spark, sf_dir):
    """The fusion's nested-loop joins are all DOCUMENTED broadcast
    crosses of a tiny build side (the dense leg's queries-broadcast
    pattern shared with cosine_topk, and the 10x20 query-ids x
    lexical-ranks cross); nothing may plan as a non-broadcast
    CartesianProduct, and the lexical selection must stay
    TakeOrderedAndProject (no global sort of the corpus)."""
    plan = explain_str(QUERIES["hybrid_rrf_fusion"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # every nested loop must be a broadcast build, never a shuffled
    # cartesian of two large sides: each BNLJ appears twice in the
    # formatted output (tree line with "Cross Build<side>" + bare
    # detail header), so the counts must pair off exactly
    assert plan.count("BroadcastNestedLoopJoin Cross Build") * 2 == (
        plan.count("BroadcastNestedLoopJoin")
    )


def test_web_ingest_is_codegen_narrow(spark, sf_dir):
    """HTML extraction is one codegen projection (no Python, no
    exchange); the WARC walk adds exactly one Generate (the record
    explode) and stays narrow end to end."""
    plan = explain_str(QUERIES["html_text_extract"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    plan = explain_str(QUERIES["warc_html_ingest"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan and "MapInPandas" not in plan


def test_warc_gz_and_url_plan_shapes(spark, sf_dir):
    """gz-WARC ingest: one Arrow kernel (the zlib walk) + the record
    Generate, zero exchanges. URL dedup: pure codegen normalization
    into EXACTLY one uniform-key exchange (the canonical-verdict
    window) — never a second shuffle, never Python."""
    plan = explain_str(QUERIES["warc_gz_ingest"](spark, sf_dir))
    assert_manifest_repartition_only(plan)
    assert "MapInPandas" in plan and "Generate" in plan
    plan = explain_str(QUERIES["url_normalize_dedup"](spark, sf_dir))
    assert plan.count("+- Exchange") == 1
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_main_content_extract_is_narrow(spark, sf_dir):
    """Density-based extraction is array-native: one projection, no
    explode-and-regroup, no exchange, no Python evaluator."""
    plan = explain_str(QUERIES["main_content_extract_stats"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" not in plan  # array HOFs, not explode+groupBy


def test_round10_media_kernels_are_narrow(spark, sf_dir):
    """CRAM frame decode (stateful WITHIN a payload, embarrassingly
    parallel ACROSS payloads), the block-mode census, and the G.711
    mu-law/A-law energy rows are all per-payload Arrow kernels over
    the scan — no exchange anywhere; the audits share the shape."""
    for name in (
        "avi_cram_frame_stats",
        "avi_cram_temporal_reuse",
        "cram_decode_audit",
        "wav_mulaw_energy",
        "wav_alaw_energy",
        "wav_mulaw_audit",
    ):
        plan = explain_str(QUERIES[name](spark, sf_dir))
        assert_manifest_repartition_only(plan, name)
        assert "MapInPandas" in plan or "mapInPandas" in plan, name


def test_matryoshka_recall_broadcasts_queries_only(spark, sf_dir):
    """The truncation curve's only nested-loop joins are the
    documented queries-broadcast crosses of the brute-force legs
    (one per dim + the full-dim anchor); the corpus side is never
    broadcast and never cartesian'd against itself."""
    plan = explain_str(QUERIES["matryoshka_recall_curve"](spark, sf_dir))
    # 6 physical crosses — 4 truncated legs + the full-dim anchor +
    # the 4-row dims broadcast — each listed twice by formatted
    # explain (tree + details sections)
    n_cross = plan.count("BroadcastNestedLoopJoin")
    assert 0 < n_cross <= 12, n_cross
    # the hits/total join is a plain (broadcastable) equi-join
    assert "CartesianProduct" not in plan


def test_dsir_selection_is_take_ordered_with_broadcast_table(spark, sf_dir):
    """DSIR's plan contract: the bucket log-ratio table is a
    dim-bounded BROADCAST into the (doc, bucket) count stream, and
    the selection is TakeOrderedAndProject — no global sort, no
    corpus-side broadcast."""
    plan = explain_str(QUERIES["dsir_selection"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hilbert_key_is_codegen_narrow(spark, sf_dir):
    """The Hilbert key (affine parallel-prefix evaluation of the
    xy2d walk) must stay a chain of narrow JVM projections: no
    Python anywhere, and the only exchanges are the O(1) bounds
    broadcast and the final layout aggregate — never a corpus
    shuffle inside the key computation."""
    plan = explain_str(QUERIES["hilbert_layout_stats"](spark, sf_dir))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    # one hash exchange for the file-id aggregate; the bounds row is
    # a broadcast, not a data exchange of the corpus
    assert plan.count("+- Exchange") <= 2


def test_webdataset_pipeline_plan_shape(spark, sf_dir):
    """WebDataset ingest: the ustar walk and image decode are narrow
    Arrow kernels; the sample regrouping is a plain equi-join (no
    cartesian, no corpus broadcast beyond the bounded member rows);
    the audit is exchange-free."""
    plan = explain_str(QUERIES["webdataset_sample_stats"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
    audit = explain_str(QUERIES["tar_decode_audit"](spark, sf_dir))
    assert_manifest_repartition_only(audit, "tar_decode_audit")


def _updates(kind: str, spark, rows, schema):
    """An upsert's ``updates`` of one kind: a DataFrame (merged in
    Spark) or a ``pyarrow.Table`` (merged on the driver)."""
    from google_sheets_etl_spark.session import arrow_rows

    if kind == "arrow":
        return arrow_rows(rows, schema)
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("kind", ["frame", "arrow"])
def test_state_table_snapshots_outlive_lazy_commits(spark, tmp_path, kind):
    """Upserts and overwrites commit lazily planned frames (no eager
    materialization): back-to-back commits, including an overwrite of
    a frame derived from ``read()``, give exact rows, and a snapshot
    read before a commit still feeds each of the next
    ``_KEEP_VERSIONS`` commits."""
    import os

    from pyspark.sql import functions as F

    from google_sheets_etl_spark.plans.state_table import _KEEP_VERSIONS, StateTable

    st = StateTable(spark, str(tmp_path / "st"), "k long, v string")
    st.create_if_not_exists()
    for i in range(6):
        st.upsert(_updates(kind, spark, [(i % 4, f"v{i}")], "k long, v string"), ["k"])
    want = {0: "v4", 1: "v5", 2: "v2", 3: "v3"}
    assert {r["k"]: r["v"] for r in st.read().collect()} == want

    st.overwrite(st.read().withColumn("v", F.upper("v")).filter("k < 3"))
    assert sorted(map(tuple, st.read().collect())) == [(0, "V4"), (1, "V5"), (2, "V2")]

    stale, version = st.read(), st.current_version()
    rows = sorted(map(tuple, stale.collect()))
    for i in range(_KEEP_VERSIONS):
        # each commit reads the snapshot taken before the first one
        assert os.path.isdir(st._version_dir(version))
        st.overwrite(stale.withColumn("v", F.concat("v", F.lit(str(i)))))
        assert sorted(map(tuple, st.read().collect())) == [
            (k, v + str(i)) for k, v in rows
        ]
    # the last of those commits is the first one free to drop it
    assert not os.path.isdir(st._version_dir(version))


@pytest.mark.parametrize("kind", ["frame", "arrow"])
def test_state_table_sidecar_schema_equals_inferred(spark, tmp_path, kind):
    """Each snapshot's sidecar schema is what footer inference would
    give, nullability included, after the empty create, an upsert, an
    upsert that adds a column (U7) and an overwrite."""
    from pyspark.sql import functions as F

    from google_sheets_etl_spark.etl import ETL_JOBS_SCHEMA
    from google_sheets_etl_spark.plans.state_table import StateTable

    st = StateTable(spark, str(tmp_path / "st"), ETL_JOBS_SCHEMA)

    def check():
        inferred = spark.read.parquet(st._version_dir(st.current_version())).schema
        assert st.read().schema == inferred
        return inferred

    st.create_if_not_exists()
    assert [f.name for f in check().fields] == ETL_JOBS_SCHEMA.fieldNames()
    st.upsert(_updates(
        kind, spark, [(1, 10, "Tab1", "t", "2026-01-01", "h1")], ETL_JOBS_SCHEMA), ["id"])
    check()
    wider = _updates(
        kind, spark,
        [(2, 11, "Tab2", "t", "2026-01-02", "h2", 5)],
        "id long, spreadsheet_id long, sheet_name string, target_table string, "
        "google_modified string, raw_columns_rows_hash string, extra int")
    st.upsert(wider, ["id"])
    assert check()["extra"].dataType.simpleString() == "int"
    assert sorted((r["id"], r["extra"]) for r in st.read().collect()) == [(1, None), (2, 5)]
    st.overwrite(st.read().withColumn("n", F.lit(1)))  # a non-nullable literal
    assert "n" in check().fieldNames()


def test_state_table_read_without_sidecar_and_job_free(spark, tmp_path):
    """``read()`` starts no Spark job; a snapshot whose sidecar is
    missing (written before sidecars existed) reads the same rows by
    inference, and the next commit writes a sidecar again."""
    import os

    from google_sheets_etl_spark.plans.state_table import _SCHEMA, StateTable

    st = StateTable(spark, str(tmp_path / "st"), "k long, v string")
    st.create_if_not_exists()
    st.upsert(spark.createDataFrame([(1, "a"), (2, None)], "k long, v string"), ["k"])
    want = sorted(map(tuple, st.read().collect()))

    sc = spark.sparkContext
    sc.setJobGroup("state-table-read", "state-table-read")
    try:
        df = st.read()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup("state-table-read") == []
    assert sorted(map(tuple, df.collect())) == want

    sidecar = os.path.join(st._version_dir(st.current_version()), _SCHEMA)
    os.remove(sidecar)
    assert sorted(map(tuple, st.read().collect())) == want
    st.upsert(spark.createDataFrame([(3, "c")], "k long, v string"), ["k"])
    assert os.path.exists(os.path.join(st._version_dir(st.current_version()), _SCHEMA))
    assert sorted(map(tuple, st.read().collect())) == want + [(3, "c")]


def test_file_uri_state_table_stays_inside_table(spark, tmp_path, monkeypatch):
    """A ``file://`` state table keeps its pointer, sidecars and GC
    inside the table directory, whatever the working directory, and
    the Hadoop FileSystem branch (the one ``hdfs://`` takes) reads and
    writes the same pointer and sidecar files."""
    import os

    from google_sheets_etl_spark.plans.state_table import _KEEP_VERSIONS, StateTable

    root = tmp_path / "t"
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    st = StateTable(spark, root.as_uri(), "k long, v string")
    st.create_if_not_exists()
    for i in range(5):
        st.upsert(spark.createDataFrame([(i, f"v{i}")], "k long, v string"), ["k"])
    assert os.listdir(cwd) == []
    assert (root / "_LATEST").read_text() == "6"
    versions = sorted(n for n in os.listdir(root) if n.startswith("_v"))
    assert versions == [f"_v{v}" for v in range(7 - _KEEP_VERSIONS, 7)]
    assert all((root / v / "_schema.json").exists() for v in versions)
    want = [(i, f"v{i}") for i in range(5)]

    other = tmp_path / "elsewhere"
    other.mkdir()
    monkeypatch.chdir(other)
    st = StateTable(spark, root.as_uri(), "k long, v string")
    assert sorted(map(tuple, st.read().collect())) == want

    hadoop = StateTable(spark, root.as_uri(), "k long, v string")
    hadoop._local = None  # the off-box branch, over the same files
    assert hadoop.current_version() == 6
    assert sorted(map(tuple, hadoop.read().collect())) == want
    hadoop.upsert(spark.createDataFrame([(9, "h")], "k long, v string"), ["k"])
    assert (root / "_LATEST").read_text() == "7"
    assert (root / "_v7" / "_schema.json").exists()
    assert sorted(map(tuple, st.read().collect())) == want + [(9, "h")]
    assert os.listdir(other) == []


def test_state_table_snapshot_equals_read(spark, tmp_path):
    """``snapshot()`` holds ``read()``'s rows (as a multiset) under the
    Arrow schema of ``read()``'s schema after create, an Arrow upsert,
    a DataFrame upsert, a column-adding upsert (U7) and overwrites; a
    fresh object on the same path loads the same snapshot."""
    from collections import Counter

    from pyspark.sql.pandas.types import to_arrow_schema

    from google_sheets_etl_spark.etl import ETL_JOBS_SCHEMA
    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.session import arrow_rows

    path = str(tmp_path / "st")
    st = StateTable(spark, path, ETL_JOBS_SCHEMA)

    def rows(table):
        return Counter(tuple(r.values()) for r in table.to_pylist())

    def check():
        df = st.read()
        snap = st.snapshot()
        assert snap.schema == to_arrow_schema(df.schema)
        assert rows(snap) == Counter(map(tuple, df.collect()))
        fresh = StateTable(spark, path, ETL_JOBS_SCHEMA).snapshot()
        assert fresh.schema == snap.schema and rows(fresh) == rows(snap)
        return snap

    st.create_if_not_exists()
    assert check().num_rows == 0
    st.upsert(arrow_rows([(1, 10, "Tab1", "t", "m1", "h1"), (2, 10, "Tab2", "t", None, None)],
                         ETL_JOBS_SCHEMA), ["id"])
    check()
    st.upsert(spark.createDataFrame([(2, 10, "Tab2", "t", "m2", "h2"), (3, 11, "Tab1", "u", "m3", "h3")],
                                    ETL_JOBS_SCHEMA), ["id"])
    assert check().num_rows == 3
    wider = arrow_rows(
        [(1, 10, "Tab1", "t", "m4", "h4", 7)],
        "id long, spreadsheet_id long, sheet_name string, target_table string, "
        "google_modified string, raw_columns_rows_hash string, extra int")
    st.upsert(wider, ["id"])
    snap = check()
    assert sorted((r["id"], r["extra"]) for r in snap.to_pylist()) == [(1, 7), (2, None), (3, None)]
    st.overwrite(snap.slice(0, 2))
    assert check().num_rows == 2
    st.overwrite(st.read().filter("id > 1"))
    check()


def test_state_table_snapshot_sees_other_commits_and_hits_cache(spark, tmp_path, jobs_started):
    """A commit through a second object on the same path is seen by the
    first object's next ``snapshot()``, which reads it on the driver
    with no Spark job; a cache hit, including the version an Arrow
    commit wrote, starts none."""
    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.session import arrow_rows

    path = str(tmp_path / "st")
    a = StateTable(spark, path, "k long, v string")
    a.create_if_not_exists()
    a.upsert(arrow_rows([(1, "a")], a.schema), ["k"])
    assert jobs_started("snapshot-own-commit", a.snapshot) == 0

    b = StateTable(spark, path, "k long, v string")
    b.upsert(arrow_rows([(2, "b")], b.schema), ["k"])
    assert jobs_started("snapshot-other-commit", a.snapshot) == 0
    assert sorted(tuple(r.values()) for r in a.snapshot().to_pylist()) == [(1, "a"), (2, "b")]
    assert jobs_started("snapshot-hit", a.snapshot) == 0

    b.upsert(spark.createDataFrame([(1, "z")], "k long, v string"), ["k"])
    assert sorted(tuple(r.values()) for r in a.snapshot().to_pylist()) == [(1, "z"), (2, "b")]


def test_state_table_snapshot_of_spark_written_version(spark, tmp_path, jobs_started):
    """A version Spark wrote in several part files (a DataFrame upsert)
    is read by another object's ``snapshot()`` on the driver, locally
    and through the Hadoop FileSystem branch (``_local = None``, where
    ``.crc`` files sit beside the parts): no Spark job, and the rows
    and types ``read().toArrow()`` gives."""
    import os

    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.session import arrow_rows

    schema = "k long, v string, ts timestamp, xs array<double>"
    root = tmp_path / "st"
    w = StateTable(spark, str(root), schema)
    w.create_if_not_exists()
    w.upsert(arrow_rows([(0, "keep", None, [0.5])], w.schema), ["k"])
    rows = [(i, f"v{i}", None, [float(i), None]) for i in range(1, 40)]
    w.upsert(spark.createDataFrame(rows, schema).repartition(4), ["k"])
    v = w.current_version()
    parts = [n for n in os.listdir(root / f"_v{v}") if n.startswith("part-")]
    assert len(parts) > 1, parts

    want = w.read().toArrow()
    for st in (StateTable(spark, str(root), schema), StateTable(spark, root.as_uri(), schema)):
        if "://" in st.path:
            st._local = None
        got = jobs_started("snapshot-spark-version", st.snapshot)
        assert got == 0
        snap = st.snapshot()
        assert snap.schema == want.schema
        assert sorted(snap.to_pylist(), key=lambda r: r["k"]) == sorted(
            want.to_pylist(), key=lambda r: r["k"])
        assert snap.num_rows == 40


def test_state_table_arrow_commits_start_no_spark_job(spark, tmp_path, jobs_started):
    """An Arrow create, upsert and overwrite are written by the driver:
    each starts no Spark job, and the table reads back what they
    wrote."""
    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.session import arrow_rows

    st = StateTable(spark, str(tmp_path / "st"), "k long, v string")
    assert jobs_started("arrow-create", st.create_if_not_exists) == 0
    updates = arrow_rows([(1, "a"), (2, "b")], st.schema)
    assert jobs_started("arrow-upsert", lambda: st.upsert(updates, ["k"])) == 0
    assert jobs_started("arrow-overwrite", lambda: st.overwrite(st.snapshot().slice(0, 1))) == 0
    assert st.current_version() == 3
    assert [tuple(r) for r in st.read().collect()] == [(1, "a")]


def test_state_table_arrow_commit_drops_crash_leftovers(spark, tmp_path):
    """A crashed commit can leave part files in the next version's
    directory. An Arrow commit into that directory deletes them first,
    so neither ``read()`` nor a fresh object's ``snapshot()`` sees
    their rows; the driver-written version sits on top of a
    Spark-written one."""
    import os

    import pyarrow.parquet as pq

    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.session import arrow_rows

    path = str(tmp_path / "st")
    st = StateTable(spark, path, "k long, v string")
    st.overwrite(spark.createDataFrame([(1, "a")], st.schema))  # a Spark-written version
    nxt = st._version_dir(st.current_version() + 1)
    os.makedirs(nxt)
    pq.write_table(arrow_rows([(7, "foreign"), (8, "foreign")], st.schema),
                   os.path.join(nxt, "part-00003-stray.snappy.parquet"))

    st.upsert(arrow_rows([(2, "b")], st.schema), ["k"])
    want = [(1, "a"), (2, "b")]
    assert sorted(map(tuple, st.read().collect())) == want
    fresh = StateTable(spark, path, "k long, v string").snapshot()
    assert sorted(tuple(r.values()) for r in fresh.to_pylist()) == want


def test_hadoop_pointer_rename_failure_keeps_old_version(spark, tmp_path):
    """On the Hadoop FileSystem branch (the one ``hdfs://`` takes), the
    pointer is replaced by one rename: when that rename fails, as a
    crash there would leave it, ``_LATEST`` still names the old version
    and the table reads the old rows. The next commit writes the same
    version over the failed one's files."""
    from google_sheets_etl_spark.plans import paths
    from google_sheets_etl_spark.plans.state_table import StateTable
    from google_sheets_etl_spark.session import arrow_rows

    root = tmp_path / "t"
    st = StateTable(spark, root.as_uri(), "k long, v string")
    st._local = None
    st.create_if_not_exists()
    st.upsert(arrow_rows([(1, "a")], st.schema), ["k"])
    assert st.current_version() == 2

    real = paths.SmallFiles._rename_over

    def fail_pointer(self, src, dst):
        if dst.getName() == "_LATEST":
            raise OSError("injected rename failure")
        real(self, src, dst)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(paths.SmallFiles, "_rename_over", fail_pointer)
        with pytest.raises(OSError, match="injected"):
            st.upsert(arrow_rows([(2, "b")], st.schema), ["k"])
    assert (root / "_LATEST").read_text() == "2"
    assert st.current_version() == 2
    assert [tuple(r) for r in st.read().collect()] == [(1, "a")]
    assert [tuple(r.values()) for r in st.snapshot().to_pylist()] == [(1, "a")]

    st.upsert(arrow_rows([(3, "c")], st.schema), ["k"])
    assert (root / "_LATEST").read_text() == "3"
    assert sorted(map(tuple, st.read().collect())) == [(1, "a"), (3, "c")]


def test_file_uri_state_table_arrow_commits_through_hadoop_fs(spark, tmp_path, monkeypatch):
    """Arrow upserts and an Arrow overwrite on the Hadoop FileSystem
    branch write each version's parquet file with ``fs.create`` (the
    local Hadoop FileSystem keeps a hidden ``.crc`` beside it) inside
    the table, whatever the working directory; GC keeps the last
    ``_KEEP_VERSIONS`` versions, and the POSIX branch reads the same
    rows."""
    import os

    import pyarrow.compute as pc

    from google_sheets_etl_spark.plans.state_table import _KEEP_VERSIONS, StateTable
    from google_sheets_etl_spark.session import arrow_rows

    root = tmp_path / "t"
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    st = StateTable(spark, root.as_uri(), "k long, v string")
    st._local = None
    st.create_if_not_exists()
    for i in range(4):
        st.upsert(arrow_rows([(i % 3, f"v{i}")], st.schema), ["k"])
    st.overwrite(st.snapshot().filter(pc.field("k") < 2))
    assert os.listdir(cwd) == []
    assert (root / "_LATEST").read_text() == "6"
    versions = sorted(n for n in os.listdir(root) if n.startswith("_v"))
    assert versions == [f"_v{v}" for v in range(7 - _KEEP_VERSIONS, 7)]
    assert sorted(os.listdir(root / "_v6")) == [
        "._schema.json.crc", ".part-00000.parquet.crc", "_schema.json", "part-00000.parquet"]

    want = [(0, "v3"), (1, "v1")]
    assert sorted(map(tuple, st.read().collect())) == want
    posix = StateTable(spark, str(root), "k long, v string")
    assert sorted(map(tuple, posix.read().collect())) == want
    assert sorted(tuple(r.values()) for r in posix.snapshot().to_pylist()) == want


def _state_table_schemas():
    """Every state-table schema in the package, by name."""
    from pyspark.sql.types import LongType, StructField

    from google_sheets_etl_spark.etl import ETL_JOBS_SCHEMA, SPREADSHEETS_SCHEMA, _profiles_schema
    from google_sheets_etl_spark.operators import ann_index, hnsw_index

    id_field = StructField("id", LongType())
    return {
        "spreadsheets": SPREADSHEETS_SCHEMA,
        "etl_jobs": ETL_JOBS_SCHEMA,
        "profiles": _profiles_schema(),
        "ann_centroids": ann_index.CENTROIDS_SCHEMA,
        "ann_codebooks": ann_index.CODEBOOKS_SCHEMA,
        "ann_codes": ann_index._codes_schema(id_field),
        "hnsw_cells": hnsw_index.CELLS_SCHEMA,
        "hnsw_nodes": hnsw_index._nodes_schema(id_field),
    }


def _sample(t, i: int):
    """A value of Spark type ``t`` for row ``i``; arrays of length
    ``i % 3``, so empty ones too."""
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType, StringType

    if isinstance(t, ArrayType):
        return [_sample(t.elementType, i + j) for j in range(i % 3)]
    if isinstance(t, StringType):
        return f"s{i}"
    if isinstance(t, (LongType, IntegerType)):
        return i
    if isinstance(t, DoubleType):
        return i / 4
    raise TypeError(t)


@pytest.mark.parametrize("name", list(_state_table_schemas()))
def test_driver_written_version_schema_and_rows(spark, tmp_path, name):
    """For every state-table schema in the package, nested arrays
    included: after the create and one Arrow upsert, the sidecar is the
    schema ``createDataFrame`` gives the version's rows and the schema
    footer inference gives its file, and ``read()`` holds the rows of
    ``snapshot()``, also of a fresh object's."""
    import json
    import os

    from pyspark.sql.types import StructType

    from google_sheets_etl_spark.plans.state_table import _SCHEMA, StateTable
    from google_sheets_etl_spark.session import arrow_rows, local_frame

    schema = _state_table_schemas()[name]
    path = str(tmp_path / name)
    st = StateTable(spark, path, schema)
    st.create_if_not_exists()
    key, *rest = schema.fields
    # row 3 is null past its key
    rows = [(_sample(key.dataType, i),)
            + tuple(None if i == 3 else _sample(f.dataType, i) for f in rest)
            for i in range(4)]
    st.upsert(arrow_rows(rows, schema), [key.name])

    version = st._version_dir(st.current_version())
    with open(os.path.join(version, _SCHEMA)) as f:
        sidecar = StructType.fromJson(json.load(f))
    assert sidecar == local_frame(spark, st.snapshot()).schema
    assert sidecar == spark.read.parquet(version).schema == st.read().schema

    def keyed(rows):
        return sorted(map(repr, rows))

    want = keyed(map(tuple, st.read().collect()))
    assert len(want) == 4
    assert keyed(tuple(r.values()) for r in st.snapshot().to_pylist()) == want
    fresh = StateTable(spark, path, schema).snapshot()
    assert keyed(tuple(r.values()) for r in fresh.to_pylist()) == want


# -- target tables: the schema sidecar ------------------------------------------

def _job_frame(spark, job_id: int, columns: list[str], rows: int = 2):
    """A target-table frame for one job, as the load pass builds it:
    ``_origin_row``, the string columns, the partition column."""
    from google_sheets_etl_spark.plans.target_table import PARTITION_COL
    from google_sheets_etl_spark.session import local_frame

    schema = ", ".join(["_origin_row long"] + [f"{c} string" for c in columns]
                       + [f"{PARTITION_COL} long"])
    data = [(r, *(f"{c}{job_id}.{r}" for c in columns), job_id) for r in range(rows)]
    return local_frame(spark, data, schema)


def test_target_table_crash_between_sidecar_and_data(spark, tmp_path, monkeypatch,
                                                     jobs_started):
    """A write records its columns in the sidecar before its data
    lands. When the data write fails after that, the next read starts
    no Spark job, sees every row that did land, and reads the
    would-be column as NULL; the retry lands the job's rows."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    tt = TargetTable(spark, str(tmp_path / "t"))
    tt.overwrite_job_partition(_job_frame(spark, 1, ["a"]))
    grown = _job_frame(spark, 2, ["a", "b"])

    def crash(self, *a, **kw):
        raise OSError("injected crash before the data write")

    with monkeypatch.context() as m:
        m.setattr(type(grown.write), "parquet", crash)
        with pytest.raises(OSError, match="injected"):
            tt.overwrite_job_partition(grown)
    assert (tmp_path / "t" / "_schema.json").exists()
    assert jobs_started("read-after-crash", tt.read) == 0
    got = tt.read()
    assert got.columns == ["_origin_row", "a", "b", "_origin_etl_job_id"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, "a1.0", None, 1), (1, "a1.1", None, 1)]

    tt.overwrite_job_partition(grown)
    assert sorted(tuple(r) for r in tt.read().collect()) == [
        (0, "a1.0", None, 1), (0, "a2.0", "b2.0", 2),
        (1, "a1.1", None, 1), (1, "a2.1", "b2.1", 2)]


def test_target_table_without_sidecar_is_merged_then_seeded(spark, tmp_path, jobs_started):
    """A table written before sidecars existed is read by merging its
    footers; its next write seeds the sidecar from that read, after
    which the read starts no job and gives the same types, the
    partition column still ``int``."""
    from google_sheets_etl_spark.plans.target_table import PARTITION_COL, TargetTable

    path = str(tmp_path / "old")
    for job_id, cols in ((1, ["a"]), (2, ["a", "b"])):
        (_job_frame(spark, job_id, cols).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(PARTITION_COL).parquet(path))
    merged = spark.read.option("mergeSchema", "true").parquet(path).dtypes
    tt = TargetTable(spark, path)
    assert tt._schema() is None
    assert tt.read().dtypes == merged
    assert jobs_started("merge-read", tt.read) >= 1

    tt.overwrite_job_partition(_job_frame(spark, 3, ["a"]))
    assert tt._schema() is not None
    assert jobs_started("sidecar-read", tt.read) == 0
    assert tt.read().dtypes == merged
    assert dict(merged)[PARTITION_COL] == "int"
    assert tt.read().count() == 6


def test_target_table_sidecar_through_hadoop_fs(spark, tmp_path, jobs_started):
    """On the Hadoop FileSystem branch (``_local = None``) the sidecar
    is written and read through the FileSystem API, inside the table;
    the read starts no job and gives the types a footer merge gives,
    and the POSIX branch reads the same sidecar."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    root = tmp_path / "t"
    tt = TargetTable(spark, root.as_uri())
    tt._local = None
    tt.overwrite_job_partition(_job_frame(spark, 1, ["a"]))
    tt.overwrite_job_partition(_job_frame(spark, 2, ["a", "b"]))
    assert (root / "_schema.json").exists()
    merged = spark.read.option("mergeSchema", "true").parquet(str(root)).dtypes
    assert jobs_started("hadoop-sidecar-read", tt.read) == 0
    assert tt.read().dtypes == merged
    posix = TargetTable(spark, str(root))
    assert posix._schema() == tt._schema()
    assert sorted(map(tuple, posix.read().collect())) == sorted(map(tuple, tt.read().collect()))


def test_target_table_keeps_a_column_its_last_job_dropped(spark, tmp_path):
    """A column no job writes any more stays in the table's schema,
    all-NULL, as the reference's additive ``ADD COLUMN`` never drops
    one; a footer merge would have dropped it."""
    from google_sheets_etl_spark.plans.target_table import TargetTable

    path = str(tmp_path / "t")
    tt = TargetTable(spark, path)
    tt.overwrite_job_partition(_job_frame(spark, 1, ["a", "b"]))
    tt.overwrite_job_partition(_job_frame(spark, 1, ["a"], rows=1))
    assert "b" not in spark.read.option("mergeSchema", "true").parquet(path).columns
    got = tt.read()
    assert got.columns == ["_origin_row", "a", "b", "_origin_etl_job_id"]
    assert [tuple(r) for r in got.collect()] == [(0, "a1.0", None, 1)]
