"""Scale-physical-design tests: bucketing eliminates the fact-fact
shuffle; partitioned layouts prune at the scan. These pin the two
storage-level levers the 100 TB deployment depends on (beyond the
per-query plan shapes in test_plans.py)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """lineitem ⋈ orders on the order key: with both sides bucketed by
    the join key into the same bucket count, the sort-merge join reads
    bucket-aligned and the plan contains NO shuffle exchange — the
    co-located fact-fact join a 100 TB layout is designed around."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed LOCATION '{tmp_path}/wh'")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderpriority"
        )
        (
            li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .mode("overwrite").saveAsTable("bucketed.li")
        )
        (
            orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable("bucketed.ord")
        )
        joined = spark.table("bucketed.li").join(
            spark.table("bucketed.ord"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _explain(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing co-located it
        # same join on the raw (unbucketed) parquet MUST shuffle — the
        # contrast that proves the bucketing is what removed it
        raw = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        assert "Exchange" in _explain(raw)
        n_bucketed = joined.count()
        assert n_bucketed == raw.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bucketed.li")
        spark.sql("DROP TABLE IF EXISTS bucketed.ord")
        spark.sql("DROP DATABASE IF EXISTS bucketed")


def test_partitioned_layout_prunes_at_scan(spark, sf_dir, tmp_path):
    """A date-partitioned fact read with a partition predicate shows the
    pruning in the scan node (PartitionFilters) and reads only the
    matching directory — the property that makes K3/K4 re-processing
    and day-scoped queries O(partition), not O(table)."""
    from sm_etl_cloud_run_spark.tables import load_tables

    events = load_tables(spark, sf_dir)["events"].withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_part")
    events.write.partitionBy("event_date").parquet(path)
    one_day = events.agg(F.min("event_date")).collect()[0][0]
    scoped = spark.read.parquet(path).where(F.col("event_date") == F.lit(one_day))
    plan = _explain(scoped)
    assert "PartitionFilters" in plan and "event_date" in plan
    expected = events.where(F.col("event_date") == F.lit(one_day)).count()
    assert scoped.count() == expected


def test_sorted_export_uses_range_partitioning(spark, sf_dir, tmp_path):
    """Globally-sorted output at scale: repartitionByRange +
    sortWithinPartitions gives N sorted files whose ranges don't overlap
    (file i's max <= file i+1's min) — a total order without funneling
    the table through one task. The plan must show RangePartitioning,
    not a single-partition global sort."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = li.repartitionByRange(4, "l_orderkey").sortWithinPartitions("l_orderkey")
    plan = _explain(out, mode="simple")
    assert "rangepartitioning" in plan.lower()
    path = str(tmp_path / "sorted")
    out.write.parquet(path)
    import glob as _glob

    files = sorted(_glob.glob(f"{path}/part-*"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f).agg(
            F.min("l_orderkey").alias("lo"), F.max("l_orderkey").alias("hi")
        ).collect()[0]
        if pdf["lo"] is not None:
            ranges.append((pdf["lo"], pdf["hi"]))
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # non-overlapping: concatenation is globally sorted


def test_suggest_shuffle_partitions_scales_with_input(spark, sf_dir, tmp_path):
    from sm_etl_cloud_run_spark.session import suggest_shuffle_partitions

    # 64 KB target so even the sf0.001 fixture spans multiple partitions
    kwargs = dict(target_partition_mb=1, shuffle_ratio=32.0, min_partitions=1)
    small = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_small = suggest_shuffle_partitions(small, **kwargs)
    # a bigger on-disk footprint must suggest more partitions
    big_path = str(tmp_path / "big")
    copies = small
    for _ in range(7):
        copies = copies.unionByName(small)
    copies.write.parquet(big_path)
    big = spark.read.parquet(big_path)
    n_big = suggest_shuffle_partitions(big, **kwargs)
    assert n_big > n_small >= 1
    # huge target → clamped at the floor; cap is respected
    assert suggest_shuffle_partitions(small, target_partition_mb=10_000) == 8
    assert suggest_shuffle_partitions(big, max_partitions=2, **kwargs) == 2


def test_fact_rank_plans_are_range_partitioned(spark, sf_dir):
    """VERDICT r4 item 1: the two fact-cardinality rank plans
    (events_decile_lift's ntile, training_dsir_sample's row_number)
    and text_zipf_fit's vocabulary rank must NOT sort their big input
    in one task. After the distributed_rank rewire the plans show (a)
    RangePartitioning (the parallel sort), (b) every row_number window
    partitioned by the range-partition id, and (c) no built-in ntile
    at all. Remaining unpartitioned windows operate on parameter-sized
    relations only (the 10-row decile cumsum, the partition-count
    offset table)."""
    from sm_etl_cloud_run_spark.plans import all_queries

    for name in ("events_decile_lift", "training_dsir_sample", "text_zipf_fit",
                 "events_key_skew_profile", "training_token_budget_fill",
                 "events_rfm_segments",
                 # the rank-exact percentile family (VERDICT r5 item 2):
                 # per-type ranks/medians/lags ride the grouped
                 # distributed operators — no single-task per-type sort
                 "events_winsorized_stats", "events_mad_outliers",
                 "events_inter_arrival_stats",
                 # per-type equal-frequency bins (grouped ntile rewire)
                 "events_value_ntile",
                 # cume_dist/percent_rank identities over the grouped rank
                 "events_cume_dist",
                 # bounded calibration sample, rank distributed (r5 item 1)
                 "corpus_perplexity_buckets",
                 # grouped prefix sum + shared rank (CUSUM rider, r8)
                 "events_cusum_changepoint",
                 # classifier threshold sweep rides distributed_ntile (r8)
                 "quality_pr_curve",
                 # boundary planner rides distributed_rank (r8)
                 "events_range_partition_plan",
                 # round-10 distributed_ntile riders: per-half monetary
                 # quartiles and the quality-decile curriculum phases
                 "events_rfm_migration", "training_curriculum_schedule",
                 # the Pareto prefix rides distributed_rank
                 "orders_pareto_revenue_curve"):
        df = all_queries()[name].fn(spark, sf_dir)
        plan = _explain(df, mode="simple")
        assert "rangepartitioning" in plan.lower(), name
        assert "ntile(" not in plan, name
        for line in plan.splitlines():
            if "row_number()" in line or "lag(" in line:
                assert (
                    "windowspecdefinition(__dr_pid" in line
                    or "windowspecdefinition(__dg_pid" in line
                    or "windowspecdefinition(__dl_pid" in line
                    # distributed_lag's boundary shift runs over the
                    # per-(partition, group) last-value relation —
                    # parameter-sized (<= |groups| + partitions rows)
                    or "lag(__dl_last" in line
                ), (name, line)
