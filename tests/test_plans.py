"""Physical-plan audits: the optimizations the engine claims must be
visible in EXPLAIN output (pushdown, broadcast, top-k fusion, pinned
join strategies, two-stage top-k)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tests.conftest import SF_DIR

QUERIES = entry.queries()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q5_broadcasts_and_pushes_down(spark):
    plan = plan_of(spark, "tpch_q5_local_supplier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims broadcast at this sf
    assert "PushedFilters" in plan or "PushedFilters" in QUERIES[
        "tpch_q5_local_supplier"
    ](spark, SF_DIR)._jdf.queryExecution().toString()


def test_q3_topk_is_bounded_heap(spark):
    plan = plan_of(spark, "tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # ORDER BY+LIMIT fused, no global sort


def test_smj_hint_pins_sort_merge(spark):
    plan = plan_of(spark, "join_sort_merge_hint")
    assert "SortMergeJoin" in plan


def test_fixed_dims_broadcast_from_view_registration(spark):
    # the region/nation views carry an explicit broadcast hint — any join
    # against them must plan a broadcast, not a shuffle
    from datafusion_gpu_spark.context import register_tables

    register_tables(spark, SF_DIR)
    df = spark.sql(
        "SELECT n.n_name, COUNT(*) AS n FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_two_stage_topk_has_local_prune(spark):
    # the partition-local mapInPandas prune must sit below the final window
    plan = plan_of(spark, "sim_topk_bruteforce")
    assert "MapInPandas" in plan
    assert "Window" in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    # hive-partitioned sink + filtered re-read must plan PartitionFilters,
    # i.e. prune directories instead of scanning them
    from datafusion_gpu_spark import io
    from datafusion_gpu_spark.context import register_tables
    from pyspark.sql import functions as F

    tables = register_tables(spark, SF_DIR)
    out = str(tmp_path / "orders_by_status")
    io.write_parquet(tables["orders"], out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    text = back._jdf.queryExecution().toString()
    assert "PartitionFilters" in text and "o_orderstatus" in text.split("PartitionFilters")[1][:120]
    n_filtered = back.count()
    n_all = tables["orders"].where("o_orderstatus = 'F'").count()
    assert n_filtered == n_all


@pytest.mark.parametrize("name", ["tpch_q6_forecast_revenue"])
def test_scan_prunes_columns(spark, name):
    text = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().toString()
    # Q6 touches 4 lineitem columns; the parquet ReadSchema must not
    # contain unrelated ones
    assert "l_orderkey" not in text.split("ReadSchema")[1][:400]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # bucketing both sides on the join key removes the Exchange entirely
    # — the co-located join layout recurring fact-fact joins rely on at
    # scale. Bucket metadata lives in the session catalog.
    from datafusion_gpu_spark.context import register_tables
    from datafusion_gpu_spark.io import write_bucketed

    tables = register_tables(spark, SF_DIR)
    write_bucketed(
        tables["orders"], "b_orders", ["o_orderkey"], num_buckets=8
    )
    write_bucketed(
        tables["lineitem"], "b_lineitem", ["l_orderkey"], num_buckets=8
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            spark.table("b_orders")["o_orderkey"]
            == spark.table("b_lineitem")["l_orderkey"],
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # neither side shuffles
        # sanity: same row count as the shuffled spelling
        assert joined.count() == tables["orders"].join(
            tables["lineitem"],
            tables["orders"]["o_orderkey"] == tables["lineitem"]["l_orderkey"],
        ).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_band_bucketed_join_is_keyed_not_nested_loop(spark):
    # the bucketized band-join rewrite must plan as an equality join
    # (hash or sort-merge on the bucket key) — the whole point vs the
    # BroadcastNestedLoopJoin the plain non-equi spelling gets
    plan = plan_of(spark, "join_band_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # ...and the plain spelling really is the nested loop it replaces
    assert "BroadcastNestedLoopJoin" in plan_of(spark, "join_non_equi_band")


def test_io_bucketed_join_gate_query_joins_without_exchange(spark):
    # the gate entry's SMJ must consume bucket layout directly: the only
    # exchange in the whole plan is the final segment rollup's
    plan = plan_of(spark, "io_bucketed_join")
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part  # nothing below the join shuffles


def test_repetition_features_is_single_shuffle(spark):
    # doc_id hash partitioning from the lead() window must satisfy BOTH
    # downstream group-bys (subset-key clustering) — one Exchange total
    import re

    plan = plan_of(spark, "text_repetition")
    assert len(re.findall(r"Exchange (?:hash|range|Single)", plan)) == 1


def test_contamination_broadcasts_benchmark_grams(spark):
    plan = plan_of(spark, "text_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_bounded_heap(spark):
    plan = plan_of(spark, "retrieval_bm25")
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_deterministic_shuffle_windows_by_bucket(spark):
    # the corpus-sized row_number must partition by the coarse bucket;
    # only the 2^coarse_bits-row offset relation may be single-partition
    import re

    plan = plan_of(spark, "curation_shuffle")
    assert re.search(r"row_number\(\) windowspecdefinition\(b#\d+", plan)


def test_text_chunks_is_shuffle_free(spark):
    # overlapping chunking is embarrassingly parallel: posexplode + array
    # slicing only, no Exchange of any kind
    import re

    plan = plan_of(spark, "text_chunks")
    assert not re.search(r"Exchange (?:hash|range|Single)", plan)


def test_tfidf_broadcasts_df_relation(spark):
    # the vocabulary-sized df relation must broadcast; the corpus never
    # joins corpus (no cartesian anywhere)
    plan = plan_of(spark, "retrieval_tfidf")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_blocks_on_cell(spark):
    # the within-cell self-join must be a key-equality join on cell,
    # never an unblocked pair enumeration
    plan = plan_of(spark, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_end_to_end_two_hash_shuffles(spark):
    # the five "stages" must fuse into one projection + two windows:
    # exactly one hashpartitioning for the dedup key and one for the
    # packing shard (the RoundRobin small-file guard is a local-mode
    # no-op at scale and not counted)
    import re

    plan = plan_of(spark, "pipeline_end_to_end")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_semijoin_reduction(spark):
    # Spark 4.1 injects a bloom filter built from the selective (filtered)
    # join side into the big side's scan — semi-join reduction, the
    # feature that keeps a 100 TB fact scan from shuffling rows a
    # selective dim filter would discard anyway. Default thresholds are
    # sized for real clusters (10 GB application-side scan); lower them
    # to demonstrate the injection at test scale.
    from datafusion_gpu_spark.context import register_tables
    from pyspark.sql import functions as F

    tables = register_tables(spark, SF_DIR)
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        orders = tables["orders"].where("o_orderpriority = '1-URGENT'")
        joined = (
            tables["lineitem"]
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        text = joined._jdf.queryExecution().toString()
        assert "bloom_filter_agg" in text or "BloomFilterAggregate" in text
        assert "might_contain" in text
        assert joined.count() == 1
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_contrastive_triplets_no_corpus_shuffle(spark):
    # both masked top-k passes prune to queries x 1 rows inside
    # MapInPandas; the final pos/neg join touches only queries-sized
    # relations — nothing corpus-sized may shuffle or cross-join
    plan = plan_of(spark, "sim_contrastive_triplets")
    assert plan.count("MapInPandas") == 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_substring_spans_all_joins_keyed(spark):
    # gram self-join and doc-freq cap must stay key-equality joins;
    # the diagonal merge is one more keyed window — never a pair scan
    import re

    plan = plan_of(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 6


def test_knn_graph_single_pass_no_corpus_shuffle(spark):
    import re

    # the corpus rides the closure; each partition emits final neighbor
    # lists — no Exchange before the Python stage
    plan = plan_of(spark, "sim_knn_graph")
    before_python = plan.split("MapInPandas")[-1]  # below = upstream side
    assert not re.search(r"Exchange (?:hash|range|Single)", before_python)


def test_gap_fill_exchanges_only_on_user_keys(spark):
    import re

    # every shuffle must be keyed by user_id (grid join, span agg,
    # forward-fill window) — nothing event-count-sized repartitions on
    # anything else
    plan = plan_of(spark, "events_gap_fill")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "user_id" in m.group(1)


def test_bitext_margin_no_shuffle(spark):
    import re

    # both mining passes are broadcast GEMMs; nothing corpus-sized may
    # exchange
    plan = plan_of(spark, "sim_bitext_margin")
    assert not re.search(r"Exchange (?:hash|range)", plan)


def test_dsir_broadcasts_bucket_ratios(spark):
    # the log-ratio relation is buckets-sized and must broadcast back to
    # the per-doc counts, never shuffle-join them
    plan = plan_of(spark, "curation_dsir_resample")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # Gumbel top-n fused


def test_qualify_rewrite_is_filter_over_window(spark):
    # the rewrite must execute as window -> Filter, with the generated
    # __qualify__ column dropped from the output
    df = QUERIES["window_qualify_rewrite"](spark, __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR)
    assert "__qualify__" not in df.columns
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan and ("RunningWindowFunction" in plan or "Window" in plan)


def test_interval_join_is_hash_join_not_nested_loop(spark):
    # the whole point of the bucket rewrite: the containment join plans
    # as an equality join on the bucket, never BroadcastNestedLoop
    plan = plan_of(spark, "events_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_throughput_probe_plan_is_single_column_cache(spark):
    # bench.py's 100M/500M probes (the per-core headline, 43M rows/s/core)
    # cache ONLY the benched column: Spark's deserialized row cache cannot
    # column-prune at scan time, so caching full rows decodes the string
    # column per row even for sum(float). Pin the plan shape at a small
    # row count (identical plan, cheap): the sum must read an
    # InMemoryTableScan whose output is exactly [float], with the one
    # Exchange being the single-row final-agg gather.
    import re

    from datafusion_gpu_spark.context import make_types_df

    probe = make_types_df(spark, 1_000).select("float").cache()
    try:
        probe.count()  # materialize, as bench.py does
        probe.createOrReplaceTempView("types_probe")
        agg = spark.sql("SELECT sum(float) AS s FROM types_probe")
        plan = agg._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"InMemoryTableScan \[([^\]]*)\]", plan)
        assert m, plan
        cols = [c.split("#")[0].strip() for c in m.group(1).split(",")]
        assert cols == ["float"], cols
        exchanges = re.findall(r"Exchange \w+", plan)
        assert exchanges == ["Exchange SinglePartition"] * len(exchanges)
    finally:
        probe.unpersist()
        spark.catalog.dropTempView("types_probe")


def test_aqe_splits_skewed_join_partition(spark):
    # the 100 TB skew story's runtime half: AQE detects an oversized
    # shuffle partition (one hot key) and splits it into parallel
    # sub-joins — demonstrated at test scale by lowering the size
    # thresholds the way a cluster's defaults relate to real partitions.
    # Manual salting (events_salted_sum) covers aggregations; this
    # covers joins with no code change at all.
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        # one hot key (~75% of rows) + 100 cold keys
        fact = spark.range(400_000).select(
            F.when(F.col("id") % 4 != 0, F.lit(0))
            .otherwise(F.col("id") % 101)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = fact.join(dim, "k")
        # AQE finalizes at runtime, and only on THIS DataFrame's own
        # queryExecution — count() would execute a derived plan instead
        assert len(joined.collect()) == 400_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sql_rewritten_reference_sum_is_codegen_only(spark):
    # custom_sum_f32_sql_rewritten: the REPL's spelling of sum_cudarc must
    # be two-phase JVM aggregation — partial + final HashAggregate, zero
    # Python boundary (the registered UDAF would show AggregateInPandas)
    plan = plan_of(spark, "custom_sum_f32_sql_rewritten")
    assert plan.count("HashAggregate") >= 2
    assert "InPandas" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multi_rollup_reuses_minute_exchange(spark):
    # hour/day tiers must reaggregate the minute tier's shuffle output,
    # not rescan raw events three times: Spark's exchange reuse shows up
    # as ReusedExchange under the coarser tiers
    df = QUERIES["events_multi_rollup"](spark, SF_DIR)
    df.collect()  # exchange reuse is an AQE decision — read the FINAL plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_merge_upsert_single_shuffle_join(spark):
    # MERGE = one full-outer hash join on the key; never a nested loop
    plan = plan_of(spark, "io_merge_upsert")
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_is_anti_join_on_hash(spark):
    # the anti-join must probe on the 32-hex key with the batch side
    # pre-deduped — LeftAnti hash join, no text column in the shuffle
    plan = plan_of(spark, "dedup_incremental")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_incremental_agg_bucketed_view_skips_view_exchange(spark):
    # the IVM docstring claims the view-side shuffle vanishes when the
    # stored view is bucketed on the key — prove it: the full-outer
    # join's plan must contain exactly ONE Exchange (the delta side)
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.context import register_tables
    from datafusion_gpu_spark.io import write_bucketed
    from datafusion_gpu_spark.operators.layout import incremental_agg

    tables = register_tables(spark, SF_DIR)
    view = tables["orders"].groupBy(
        F.col("o_custkey").alias("custkey")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total"),
    )
    write_bucketed(view, "b_view", ["custkey"], num_buckets=8)
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # align the delta agg's shuffle with the bucket count, or Spark
        # adds a second DELTA-side exchange (32 agg partitions -> 8
        # buckets); the view side never shuffles either way
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        delta = tables["orders"].select(
            F.col("o_custkey").alias("custkey"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("val"),
            F.lit(1).alias("sign"),
        )
        out = incremental_agg(spark.table("b_view"), delta, "custkey", "val")
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re

        n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
        # delta aggregation shuffles once; the bucketed view side must NOT
        assert n_exchanges == 1, plan
        assert out.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)
        spark.sql("DROP TABLE IF EXISTS b_view")


def test_cusum_is_broadcast_stats_plus_one_key_window(spark):
    # the per-key baseline joins back as a BROADCAST (a |keys|-row
    # aggregate must never shuffle the event stream twice), the CUSUM
    # windows stay JVM-side, and no Python boundary appears
    plan = plan_of(spark, "events_changepoint_cusum")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for py in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert py not in plan


def test_hashing_vectorizer_is_single_aggregation_no_python(spark):
    # one hash aggregation on (doc, bucket) with map-side partials —
    # exactly one exchange, md5 evaluated in codegen, zero Python
    import re

    plan = plan_of(spark, "text_hashing_vectorizer")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    for py in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert py not in plan


def test_fuzzy_blocked_join_is_hash_not_nested_loop(spark):
    # the whole point of blocking: candidates come from an EQUALITY join
    # on the block key, never a nested-loop over the corpus pair space
    plan = plan_of(spark, "join_fuzzy_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled — both are keyed


def test_ewma_is_one_exchange_one_window(spark):
    # 20 lag pairs share ONE window spec: a single key shuffle, a single
    # Window node, no Python
    plan = plan_of(spark, "events_ewma")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") >= 1
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_interval_merge_single_shuffle(spark):
    plan = plan_of(spark, "events_interval_merge")
    assert plan.count("Exchange hashpartitioning") == 1


def test_apportion_rank_filter_fused_to_window_group_limit(spark):
    # per-source pick: the rn <= alloc filter must ride WindowGroupLimit
    # ... when the bound is a literal; with a per-source alloc column the
    # filter stays a Filter — what we pin is NO second corpus shuffle and
    # the broadcasted allocation join
    plan = plan_of(spark, "curation_apportion")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_phash_python_boundary_is_batched(spark):
    # exactly the two intended Arrow boundaries (encode + hash), nothing
    # row-at-a-time
    plan = plan_of(spark, "multimodal_phash")
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan


def test_welch_is_single_aggregation_no_joins(spark):
    # one hash aggregation over events, zero joins/windows — the
    # cheapest plan in the stats family (moments fold map-side)
    plan = plan_of(spark, "agg_welch_ttest")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_bucketed_cumsum_has_no_global_window(spark):
    # the two-level spelling's windows are (a) partitioned by bucket and
    # (b) over the tiny bucket relation — no unpartitioned window over
    # the distinct-value relation survives in the plan
    from datafusion_gpu_spark.operators.stats import bucketed_cumsum
    from pyspark.sql import functions as F

    df = spark.range(100_000).select(
        F.col("id").alias("c"), (F.col("id") % 7).alias("x")
    )
    out = bucketed_cumsum(df, "c", ("x",), n_buckets=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2  # per-bucket partial + bucket offsets
    # the per-bucket window partitions by __bucket; offsets window is over
    # the 64-row totals relation, whose single partition is the POINT
    assert "partitionBy=[__bucket" in plan.replace(" ", "") or "__bucket" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_chi2_independence_margins_broadcast(spark):
    # margin relations are category-sized: both lookups broadcast, the
    # quantized fold is one aggregation, no SMJ anywhere
    plan = plan_of(spark, "agg_chi2_independence")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_equidepth_target_join_is_tiny_broadcast(spark):
    # the range join's build side is the 8-row target relation
    plan = plan_of(spark, "agg_equidepth_bins")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_governance_gates_are_pure_folds(spark):
    # privacy/profile/checksum gates: hash aggregations only — no join
    # wider than a category-sized broadcast, no Python, no SMJ
    for name in ("curation_k_anonymity", "curation_l_diversity",
                 "io_profile_stats", "io_checksum_manifest"):
        plan = plan_of(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, name


def test_error_safe_pack_is_pure_codegen(spark):
    plan = plan_of(spark, "fn_error_safe")
    assert "Exchange" not in plan  # zero shuffles: scan + project only
    assert "*(1)" in plan  # one whole-stage-codegen span covers it all


def test_auc_shares_mann_whitney_shape(spark):
    # value-level agg + one window over distinct values; no joins
    plan = plan_of(spark, "agg_auc_exact")
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_reciprocity_self_join_is_keyed(spark):
    # the swapped-key self-join may be SMJ (named in SCALE.md) but must
    # never degenerate to a nested loop or cartesian
    plan = plan_of(spark, "graph_reciprocity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# BNLJ exemption split (VERDICT r10 #3): the audit's bnlj counter is split
# into bnlj_exempt (build side provably a literal / one-row / constant-
# catalog relation) vs bnlj_other, and bnlj_other is pinned to ZERO outside
# a named, per-row-justified allowlist — a data x data nested loop can no
# longer hide inside the growing exempt class.
# ---------------------------------------------------------------------------

def test_bnlj_split_classifier_fixtures():
    """Pure-text fixtures for tools.audit_plans.split_bnlj: every exempt
    shape observed in the registry, plus the data x data negative."""
    from tools.audit_plans import split_bnlj

    one_row_agg = """\
BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [x#1] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/events.parquet]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
   +- HashAggregate(keys=[], functions=[sum(c#2L)], output=[t#3L])
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=8]
         +- FileScan parquet [c#2L] Batched: true"""
    assert split_bnlj(one_row_agg) == (1, 0)

    values_union = """\
BroadcastNestedLoopJoin BuildLeft, Cross
:- BroadcastExchange IdentityBroadcastMode, [plan_id=3]
:  +- Union
:     :- Project [1 AS j#1]
:     :  +- Scan OneRowRelation[]
:     +- Project [2 AS j#2]
:        +- Scan OneRowRelation[]
+- FileScan parquet [x#9] Batched: true"""
    assert split_bnlj(values_union) == (1, 0)

    # composition: build is itself a BNLJ of k-row pieces (the fold shape)
    nested_exempt = """\
BroadcastNestedLoopJoin BuildLeft, Inner, (a#1L >= b#2L)
:- BroadcastExchange IdentityBroadcastMode, [plan_id=5]
:  +- Project [j#1, q#2L]
:     +- BroadcastNestedLoopJoin BuildLeft, Cross
:        :- BroadcastExchange IdentityBroadcastMode, [plan_id=4]
:        :  +- Union
:        :     :- Project [1 AS j#1]
:        :     :  +- Scan OneRowRelation[]
:        :     +- Project [3 AS j#3]
:        :        +- Scan OneRowRelation[]
:        +- HashAggregate(keys=[], functions=[sum(c#5L)], output=[q#2L])
:           +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]
:              +- FileScan parquet [c#5L] Batched: true
+- HashAggregate(keys=[c#7L], functions=[count(1)], output=[c#7L, n#8L])
   +- FileScan parquet [c#7L] Batched: true"""
    assert split_bnlj(nested_exempt) == (2, 0)

    # constant catalogs: region (5 rows) / nation (25 rows) never grow
    const_catalog = """\
BroadcastNestedLoopJoin BuildRight, Cross, (a#1 < b#2)
:- FileScan parquet [a#1] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/region.parquet], ReadSchema: x
+- BroadcastExchange IdentityBroadcastMode, [plan_id=2]
   +- Filter isnotnull(b#2)
      +- FileScan parquet [b#2] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/region.parquet], ReadSchema: x"""
    assert split_bnlj(const_catalog) == (1, 0)

    # global Python UDAF (one row) — the reference-parity demo shape
    arrow_global = """\
BroadcastNestedLoopJoin BuildRight, Cross
:- HashAggregate(keys=[], functions=[sum(f#1)], output=[s#2])
:  +- FileScan parquet [f#1] Batched: true
+- BroadcastExchange IdentityBroadcastMode, [plan_id=7]
   +- !ArrowAggregatePython [sum_arrow_cpu(f#3)#5], [s2#6]
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=6]
         +- FileScan parquet [f#3] Batched: true"""
    assert split_bnlj(arrow_global) == (1, 0)

    # the thing the split exists to catch: a DATA x DATA nested loop
    data_x_data = """\
BroadcastNestedLoopJoin BuildRight, Inner, (a#1 >= b#2)
:- FileScan parquet [a#1] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/events.parquet]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=2]
   +- Filter isnotnull(b#2)
      +- FileScan parquet [b#2] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/orders.parquet]"""
    assert split_bnlj(data_x_data) == (0, 1)

    # explode over a one-row build is NOT bounded
    generate_build = """\
BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [a#1] Batched: true
+- BroadcastExchange IdentityBroadcastMode, [plan_id=2]
   +- Generate explode(seq#3), false, [v#4L]
      +- HashAggregate(keys=[], functions=[collect_list(x#5)], output=[seq#3])
         +- FileScan parquet [x#5] Batched: true"""
    assert split_bnlj(generate_build) == (0, 1)

    # whole-stage codegen prefixes ('*(n) ') must not hide operators:
    # a codegen'd data x data BNLJ still counts, and a codegen'd
    # Generate still rejects the build
    codegen_bnlj = """\
*(3) BroadcastNestedLoopJoin BuildRight, Inner, (a#1 >= b#2)
:- *(1) Filter isnotnull(a#1)
:  +- FileScan parquet [a#1] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/events.parquet]
+- BroadcastExchange IdentityBroadcastMode, [plan_id=2]
   +- *(2) Filter isnotnull(b#2)
      +- FileScan parquet [b#2] Batched: true, Location: InMemoryFileIndex(1 paths)[file:/d/orders.parquet]"""
    assert split_bnlj(codegen_bnlj) == (0, 1)

    codegen_generate = """\
*(4) BroadcastNestedLoopJoin BuildRight, Cross
:- FileScan parquet [a#1] Batched: true
+- BroadcastExchange IdentityBroadcastMode, [plan_id=2]
   +- *(2) Generate explode(seq#3), false, [v#4L]
      +- HashAggregate(keys=[], functions=[collect_list(x#5)], output=[seq#3])
         +- FileScan parquet [x#5] Batched: true"""
    assert split_bnlj(codegen_generate) == (0, 1)


#: Every registry query whose executed plan contains >= 1 BNLJ (generated
#: by tools/audit_plans.py at 345 queries, round 11 — regenerate the list
#: from a full audit run when new BNLJ-bearing queries land; the full-
#: registry invariant is re-established by that audit every round).
_BNLJ_BEARING_R11 = (
    # r12 additions: agg_friedman's 3 BNLJs are the one-row-aggregate
    # cross joins of nb/num/den; agg_kendall_tau's 4 are the 24-row
    # VALUES-literal hour axis + the folds/nn/tx/ty scalar crosses
    # (all classified exempt by split_bnlj)
    "agg_friedman", "agg_kendall_tau",
    # events_breslow_day's single BNLJ is the one-row mh (psi) cross
    "events_breslow_day",
    # events_theil_sen (r13): the allow-listed bounded pair join + the
    # exempt one-row median-slope cross; the bucketed sibling keeps one
    # allow-listed pair join in its selection branch
    "events_theil_sen", "events_theil_sen_bucketed", "events_siegel_trend",
    # events_cox_ph (r13): five exempt one-row scalar-beta crosses
    "events_cox_ph",
    # curation_eb_shrinkage (r13): one exempt one-row prior (alpha/beta)
    # cross
    "curation_eb_shrinkage",
    # sim_corpus_dispersion (r13): one exempt one-row gl x sds cross
    "sim_corpus_dispersion",
    # events_cuped (r13): exempt one-row crosses (tmid, theta, scalar
    # theta subquery)
    "events_cuped",
    # r13 second wave: agg_g_test (3 exempt one-row tot/dims crosses),
    # agg_fleiss_kappa (one-row subj x marg cross),
    # agg_average_precision (one-row s x np cross), agg_kendall_w
    # (24-row VALUES hour axis + folds/tiecorr/m/nn scalar crosses),
    # agg_somers_d (kendall's exempt grid-literal + scalar crosses),
    # graph_modularity (one-row m edge-count cross), agg_dunn_posthoc
    # (one exempt tot cross + the ALLOW-LISTED 5-row group self-join)
    "agg_g_test", "agg_fleiss_kappa", "agg_average_precision",
    "agg_kendall_w", "agg_somers_d", "graph_modularity",
    "agg_dunn_posthoc",
    # r13 wave 3: agg_welch_anova / agg_bland_altman (exempt one-row
    # fold-back crosses), events_page_trend (one-row lsum x nb cross),
    # events_mann_kendall (2 exempt scalar crosses + the ALLOW-LISTED
    # wall-clock-bounded hourly pair join, the theil_sen class)
    "agg_welch_anova", "agg_bland_altman", "events_page_trend",
    "events_mann_kendall",
    # r13 wave 4: all exempt one-row margin/total/fold crosses
    "agg_uncertainty_coeff", "agg_gk_lambda", "agg_cronbach_alpha",
    "agg_icc",
    # r13 wave 5: events_seasonal_mk (one exempt s x v one-row cross;
    # its pair join is EQUALITY-keyed on the season, so it hash-joins)
    "events_seasonal_mk",
    # events_hurst_rs (r13): the 3-row block-size VALUES literal + the
    # one-row hurst cross
    "events_hurst_rs",
    # agg_cv_auc / events_jackknife_ratio (r13): exempt one-row
    # summary/totals crosses
    "agg_cv_auc", "events_jackknife_ratio",
    # events_group_sequential: 5-row looks VALUES literal + one-row tot
    # (the r13 pocock sibling and the streaming twin share _GS_FOLD,
    # hence the same 3 exempt BNLJs)
    "events_group_sequential", "events_group_sequential_pocock",
    "streaming_group_sequential",
    "agg_benford", "agg_brier_score", "agg_calibration_bins",
    "agg_chi2_independence", "agg_chi_squared", "agg_cliff_delta",
    "agg_cramers_v", "agg_ece", "agg_equidepth_bins", "agg_gain_lift_curve",
    "agg_hosmer_lemeshow", "agg_isotonic_calibration", "agg_kll_quantiles",
    "agg_kruskal_wallis", "agg_ks_uniform", "agg_mann_whitney_bucketed",
    "agg_median_ci", "agg_mood_median", "agg_ndcg_at_k", "agg_pinball_loss",
    "agg_precision_at_k", "agg_theta_setops", "agg_tukey_fences",
    "curation_apportion", "curation_class_balance", "curation_dsir_resample",
    "curation_mix_domains", "curation_mix_kl", "curation_pack_bestfit",
    "curation_t_closeness", "curation_temperature_mix",
    "events_conformal_interval", "events_cvm_test", "events_did",
    "events_its_segmented", "events_ks_test", "events_ks_test_bucketed",
    "events_lorenz_curve", "events_theil_index", "fn_edit_distance",
    "join_cross", "join_non_equi_band", "retrieval_bm25", "retrieval_tfidf",
    "text_bigram_lm", "text_burstiness", "text_heaps_fit",
    "text_heavy_hitters", "text_jsd_drift", "text_kneser_ney",
    "text_perplexity", "types_sum_parity",
)

#: The ONLY rows allowed a non-exempt BNLJ, each with a bounded-build
#: argument the plan text cannot express:
#: - agg_chi_squared: the build is the contingency-table column margin
#:   (HashAggregate keyed on source) — bounded by the cell domain the
#:   query itself NULL-guards at N*cells >= 1e8.
#: - curation_t_closeness: build keyed on nation — a <= 25-row constant-
#:   catalog attribute.
#: - text_heavy_hitters: build is the global total spelled as the NULL-key
#:   group of the shared MapInPandas partial — one row by construction,
#:   opaque to the plan text.
#: - join_non_equi_band: the SURVEY §2.3 non-equi join gate, a naive BNLJ
#:   BY DESIGN; join_band_bucketed is the documented scale spelling.
#: - agg_isotonic_calibration: the PAV pair join's build is the (B+1)-row
#:   prefix relation over the reliability bins — B is FIXED at 10 by the
#:   binning expression, bounded by construction, invisible to plan text.
#: - events_theil_sen (r13): the pairwise-slope join's build is the hourly
#:   rollup — bounded by WALL-CLOCK time, not data volume (8,760 rows/year;
#:   the SPRT/backtest boundedness argument), so the pair space is
#:   bounded^2, never data x data.
#: - events_theil_sen_bucketed (r13): the SAME bounded pair join, appearing
#:   once in the selection branch (the per-key fold's copy runs eagerly
#:   behind the lineage cut and is a LogicalRDD leaf in the final plan).
#: - events_siegel_trend (r13): the same wall-clock-bounded build, directed
#:   (x_a <> x_b) — per-anchor medians need both orientations.
#: - agg_dunn_posthoc (r13 second wave): the pairwise battery's build is
#:   the k-row GROUP SUMMARY (one row per event type, k = 5) self-joined
#:   on grp < grp — bounded by the CATEGORY domain like the
#:   agg_chi_squared margin, never by row count; the k(k-1)/2 pair
#:   relation is the test's own output shape.
#: - events_mann_kendall (r13 second wave): the SAME wall-clock-bounded
#:   hourly pair join as events_theil_sen (S is Kendall's statistic of
#:   value vs time, so the pair space is hours^2, never data x data).
_BNLJ_OTHER_ALLOWED = frozenset(
    {"agg_chi_squared", "curation_t_closeness", "text_heavy_hitters",
     "join_non_equi_band", "agg_isotonic_calibration", "events_theil_sen",
     "events_theil_sen_bucketed", "events_siegel_trend",
     "agg_dunn_posthoc", "events_mann_kendall"}
)


def test_bnlj_other_is_zero_outside_documented_allowlist(spark):
    from tools.audit_plans import split_bnlj

    offenders = {}
    for name in _BNLJ_BEARING_R11:
        if name in _BNLJ_OTHER_ALLOWED:
            continue
        _, other = split_bnlj(plan_of(spark, name))
        if other:
            offenders[name] = other
    assert offenders == {}, f"non-exempt nested-loop joins: {offenders}"


def test_bucketed_cumulatives_isolated_shuffle_counts(spark):
    """SCALE.md's sweep-counting footnote, ASSERTED (VERDICT r11 ask #8):
    in a full audit sweep agg_mann_whitney_bucketed / events_ks_test_bucketed
    print 14/20 exchanges, because the earlier unbucketed rows' cumsum_auto
    persist lets Spark's cache manager substitute the shared value-level
    subplan with an InMemoryRelation whose toString REPRINTS the cached
    lineage's exchanges. Built in ISOLATION (cache cleared first) the true
    plan shapes are 8 and 12 shuffles — pinned here so the footnote can't
    silently absorb a real plan regression, and so the two defensible audit
    totals (sweep vs isolation-equivalent) stay reconcilable by arithmetic."""
    from tools.audit_plans import audit

    expected = {
        "agg_mann_whitney_bucketed": 8,
        "events_ks_test_bucketed": 12,
    }
    try:
        for name, want in expected.items():
            spark.catalog.clearCache()
            got = audit(plan_of(spark, name))["shuffles"]
            assert got == want, f"{name}: isolated shuffles {got} != {want}"
    finally:
        spark.catalog.clearCache()


def test_incremental_minhash_is_band_probe_not_all_pairs(spark):
    # the persisted-band-index probe (VERDICT r14 ask #3): candidates
    # come from a keyed (band, bucket) equality join — never a nested
    # loop or cross product — and exact verification touches history
    # only through the candidate-bounded LeftSemi restriction, so the
    # per-ingest work is batch-sized
    plan = plan_of(spark, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan


def test_audio_neardup_is_chunk_keyed_not_all_pairs(spark):
    # candidate generation must be the (chunk, value) equality join —
    # never a pair scan — the same pigeonhole simhash_pairs runs
    plan = plan_of(spark, "multimodal_audio_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_incremental_minhash_bucketed_index_no_index_shuffle(spark):
    # the production layout claim: with the band index persisted via
    # write_bucketed on (band, bucket), the per-ingest probe join reads
    # the index co-located (Bucketed: true, NO exchange above its scan)
    # and the ONLY (band, bucket) repartition is the batch-sized probe
    # side — per-ingest shuffle IO is independent of corpus size
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.context import register_tables
    from datafusion_gpu_spark.io import write_bucketed
    from datafusion_gpu_spark.operators.dedup import minhash_band_index

    register_tables(spark, SF_DIR)
    docs = spark.table("documents")
    history = docs.where(F.col("doc_id") % 10 < 8)
    batch = docs.where(F.col("doc_id") % 10 >= 8)
    write_bucketed(
        minhash_band_index(history), "b_band_index", ["band", "bucket"],
        num_buckets=8,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        idx = spark.table("b_band_index")
        probe = minhash_band_index(batch)
        joined = probe.withColumnRenamed("doc_id", "batch_id").join(
            idx.withColumnRenamed("doc_id", "hist_id"), ["band", "bucket"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan  # index read pre-partitioned
        # exactly ONE (band, bucket) exchange: the batch probe side
        import re

        # SMJ requires BOTH sides partitioned on (band, bucket); with
        # only one band-key Exchange in the whole plan and the index
        # scan marked bucketed, the index side necessarily satisfied
        # the requirement from its storage layout — zero index shuffle
        assert len(re.findall(r"Exchange hashpartitioning\(band", plan)) == 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_band_index")


def test_incremental_embedding_is_bucket_probe_not_all_pairs(spark):
    # same contract as the minhash twin: candidates from the keyed
    # (tbl, bucket) equality join, never a pair scan
    plan = plan_of(spark, "dedup_incremental_embedding")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_lag_folds_evaluate_each_distinct_lag_once(spark):
    # r15 (guide §1.2): Spark does NOT deduplicate identical window
    # expressions — the pre-r15 inline-lag fold spellings paid 118
    # (holt) / 255 (backtest) lag evaluations per row where only
    # 39 / 89 are distinct. The shared-column respelling pins every
    # (column, offset) pair to exactly ONE window expression.
    import re
    from collections import Counter

    spark.conf.set("spark.sql.debug.maxToStringFields", "4000")
    try:
        for name in (
            "events_holt_smoothing", "events_forecast_backtest",
            "events_ewma", "events_holt_winters", "events_croston",
        ):
            plan = plan_of(spark, name)
            # key = (input column, offset, window partition/order spec):
            # the same (column, offset) under DIFFERENT specs (e.g. the
            # backtest's seasonal ws vs per-user w) is legitimately a
            # distinct evaluation, not a duplicate
            lags = re.findall(
                r"lag\((\w+#\d+L?), (-?\d+), \w+\)"
                r" windowspecdefinition\((.*?)specifiedwindowframe",
                plan,
            )
            assert lags, f"{name}: no lag expressions found in plan"
            dup = {k: n for k, n in Counter(lags).items() if n > 1}
            assert not dup, f"{name}: duplicated lag evaluations {dup}"
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
