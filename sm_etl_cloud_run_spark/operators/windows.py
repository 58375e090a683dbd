"""Window-function operators: top-k per group, sessionization,
tumbling-window rollups.

Common OLAP patterns the engine exposes as combinators; both are single
shuffles on the partition key.

Per-group window policy (VERDICT r7 item 6)
-------------------------------------------
Two window forms coexist in this module, and the choice is a contract,
not a style:

- A plain ``Window.partitionBy(key)`` is correct when per-group row
  count is bounded by PIGEONHOLE — the key's cardinality grows with the
  data, so each group stays small no matter the corpus size (a user's
  events in :func:`sessionize`, a group's rows in
  :func:`topk_per_group`). One task per group is exactly the
  parallelism you want; the distributed form would add a second
  shuffle for nothing.
- The ``distributed_*`` family (:func:`distributed_rank`,
  :func:`distributed_cumsum`, :func:`distributed_rank_in_groups`, …) is
  MANDATORY when the ordering spans the whole relation (empty/global
  partitionBy → single-task sort) or when there are FEW, HEAVY groups
  (|groups| ≪ |rows| and not growing: language, event_type, source
  domain) — there, a plain per-group window concentrates a
  fact-cardinality sort in a handful of tasks.

``tests/test_scale_plans.py`` pins the negative side (no fact-sized
input reaches a `WindowExec: No Partition Defined`); every plain
per-group window below states which bound makes it safe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..cache import persist_tracked


def _range_partitions(df: DataFrame) -> int:
    """The range-partition count of the ``distributed_*`` family: the
    session's ``spark.sql.shuffle.partitions``."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group via row_number, as column `rn`
    (deterministic when order_by includes a tiebreaker)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


def distributed_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    *,
    rank_name: str = "rank",
    total_name: str | None = None,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY ...)`` without the
    single-partition sort (`WindowExec: No Partition Defined`) that a
    bare global window plans — the scale-killer VERDICT r4 flagged on
    fact-cardinality inputs.

    Mechanics (the trick ``test_sorted_export_uses_range_partitioning``
    validates for sorted export, applied to ranking — the classic
    two-pass TeraSort shape):

    1. ``repartitionByRange`` on the FULL ordering (tiebreakers
       included, so heavy ties still split across partitions — range
       boundaries are whole ordering tuples, not first-key values),
       then ``sortWithinPartitions`` on the same ordering and a
       ``monotonically_increasing_id`` projected ABOVE the sort (both
       id functions are nondeterministic, so the optimizer cannot
       reorder them below it). PERSIST that relation:
       nondeterministic ids defeat canonicalization-based exchange
       reuse, so without materialization every downstream branch
       (counts, data) would replay the full upstream pipeline plus the
       range sampler — measured 85 s unpersisted vs under 7 s
       persisted for training_dsir_sample at the 16× probe.
       The cached relation is rank-input-sized (typically an aggregate:
       users, docs, vocabulary — far smaller than the fact table) and
       MEMORY_AND_DISK, so executors spill rather than OOM;
    2. the local row number is ``mid - min(mid)`` within the partition:
       ``monotonically_increasing_id`` counts consecutively from 0
       inside each partition (partition id in the high bits, a
       per-row counter in the low 33 — pinned by the tie/NULL
       equivalence tests), and the stream it numbers is the sorted
       one. NO window over the data — the earlier row_number form
       planned ``Exchange hashpartitioning(__dr_pid) + Sort + Window``
       downstream of the cache (Catalyst cannot know a
       spark_partition_id column IS the physical partition), i.e. a
       second fact-sized shuffle and a second sort this form deletes;
    3. per-partition counts + first-ids → cumulative offsets (a
       partition-count-sized relation; its own global window is
       parameter-sized);
    4. rank = offset + (mid - first_mid + 1), offsets broadcast-joined
       back.

    ``order_by`` must be a total order (include a tiebreaker) and
    should pin NULLS LAST explicitly when values can be NULL. With
    ``total_name``, the overall row count rides along on the broadcast
    offsets for free (consumers that gate on rank/total avoid a third
    pass over the input).
    """
    part = (
        df.repartitionByRange(_range_partitions(df), *order_by)
        .sortWithinPartitions(*order_by)
        .select(
            "*",
            F.spark_partition_id().alias("__dr_pid"),
            F.monotonically_increasing_id().alias("__dr_mid"),
        )
    )
    part = persist_tracked(part)
    counts = part.groupBy("__dr_pid").agg(
        F.count(F.lit(1)).alias("__dr_cnt"),
        F.min("__dr_mid").alias("__dr_first"),
    )
    w_off = Window.orderBy("__dr_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_cols = [
        F.col("__dr_pid"),
        F.col("__dr_first"),
        F.coalesce(F.sum("__dr_cnt").over(w_off), F.lit(0)).alias("__dr_off"),
    ]
    drop_cols = ["__dr_pid", "__dr_mid", "__dr_first", "__dr_off"]
    if total_name is not None:
        w_all = Window.orderBy("__dr_pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        off_cols.append(
            F.sum("__dr_cnt").over(w_all).cast("long").alias(total_name)
        )
    offsets = counts.select(*off_cols)
    return (
        part.join(F.broadcast(offsets), "__dr_pid")
        .withColumn(
            rank_name,
            (F.col("__dr_mid") - F.col("__dr_first") + 1 + F.col("__dr_off"))
            .cast("long"),
        )
        .drop(*drop_cols)
    )


def distributed_rank_in_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    *,
    rank_name: str = "rank",
    total_name: str | None = None,
) -> DataFrame:
    """``row_number() OVER (PARTITION BY group ORDER BY ...)`` without
    any single task ever sorting one group's full data — the per-group
    form of :func:`distributed_rank`.

    A plain ``partitionBy(group)`` window is already parallel ACROSS
    groups, but each group still sorts in ONE task; with few heavy
    groups (event types, languages) the biggest group's data volume is
    the wall clock — 5.0x at the 16x probe for the rank-exact
    percentile family. Here the range partitioner splits on the
    composite ``(group, order...)`` tuple, so a heavy group spans MANY
    partitions and every partition sorts in parallel:

    1. ``repartitionByRange`` on ``(group_cols..., order_by...)``,
       ``sortWithinPartitions`` on the same composite, a
       ``monotonically_increasing_id`` projected above the sort,
       persisted (same exchange-reuse rationale as distributed_rank);
    2. per-``(partition, group)`` counts + first-ids → per-group
       EXCLUSIVE running offsets over partition id. Groups are
       contiguous in the range order, so this offsets relation has at
       most ``|groups| + partitions - 1`` rows — parameter-sized
       for the low-cardinality groups this operator targets, and its
       window is partitioned by group (never a global sort);
    3. the local row number is ``mid - min(mid)`` within the
       ``(partition, group)`` segment — group rows are contiguous in
       the sorted stream the id numbers, so no window ever touches the
       data (the earlier row_number form planned an extra fact-sized
       ``Exchange hashpartitioning(__dg_pid, group) + Sort`` downstream
       of the cache — see distributed_rank);
    4. rank = offset + (mid - first_mid + 1), offsets broadcast-joined
       back on ``(partition, group)``.

    ``order_by`` must totally order rows WITHIN a group (include a
    tiebreaker; pin NULLS LAST explicitly for nullable keys). With
    ``total_name``, each group's row count rides along on the broadcast
    offsets. When group cardinality is itself fact-sized, use the plain
    window instead — per-group data is tiny there by pigeonhole, and
    this operator's offsets relation would no longer broadcast.
    """
    gcols = list(group_cols)
    part = (
        df.repartitionByRange(_range_partitions(df), *[F.col(g) for g in gcols], *order_by)
        .sortWithinPartitions(*[F.col(g) for g in gcols], *order_by)
        .select(
            "*",
            F.spark_partition_id().alias("__dg_pid"),
            F.monotonically_increasing_id().alias("__dg_mid"),
        )
    )
    part = persist_tracked(part)
    counts = part.groupBy("__dg_pid", *gcols).agg(
        F.count(F.lit(1)).alias("__dg_cnt"),
        F.min("__dg_mid").alias("__dg_first"),
    )
    w_off = (
        Window.partitionBy(*gcols)
        .orderBy("__dg_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # aliased copies of the group keys on the offsets side, joined
    # null-safely: a NULL group value is a real group for a window
    # (unlike an equi-join key) and must not drop its rows
    off_cols = [
        F.col("__dg_pid").alias("__dg_pid2"),
        *[F.col(g).alias(f"__dg_g{i}") for i, g in enumerate(gcols)],
        F.col("__dg_first"),
        F.coalesce(F.sum("__dg_cnt").over(w_off), F.lit(0)).alias("__dg_off"),
    ]
    drop_cols = ["__dg_pid", "__dg_pid2", "__dg_mid", "__dg_first", "__dg_off"] + [
        f"__dg_g{i}" for i in range(len(gcols))
    ]
    if total_name is not None:
        w_all = (
            Window.partitionBy(*gcols)
            .orderBy("__dg_pid")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        off_cols.append(
            F.sum("__dg_cnt").over(w_all).cast("long").alias(total_name)
        )
    offsets = counts.select(*off_cols)
    cond = F.col("__dg_pid") == F.col("__dg_pid2")
    for i, g in enumerate(gcols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__dg_g{i}"))
    return (
        part.join(F.broadcast(offsets), cond)
        .withColumn(
            rank_name,
            (F.col("__dg_mid") - F.col("__dg_first") + 1 + F.col("__dg_off"))
            .cast("long"),
        )
        .drop(*drop_cols)
    )


def distributed_lag(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    *,
    lag_name: str = "lag",
) -> DataFrame:
    """``lag(value) OVER (PARTITION BY group ORDER BY ...)`` without a
    single task ever sorting one group's full data — the lag sibling of
    :func:`distributed_rank_in_groups` (same composite range partition,
    so a heavy group spans many partitions and all sort in parallel).

    1. ``repartitionByRange`` on ``(group_cols..., order_by...)``,
       persisted;
    2. local lag per ``(partition, group)`` — exact for every row
       except each ``(partition, group)``'s FIRST row;
    3. those boundary rows get their predecessor from the
       per-``(partition, group)`` LAST-value relation (parameter-sized:
       at most ``|groups| + partitions - 1`` rows, since groups are
       contiguous in the range order), shifted one partition forward
       per group and broadcast back.

    The boundary patch keys on local row number == 1, NOT on the local
    lag being NULL, so a genuinely-NULL lagged value is preserved.
    Same contract as the rank form: ``order_by`` totally orders within
    a group; group cardinality should be far below fact cardinality.
    """
    gcols = list(group_cols)
    part = df.repartitionByRange(
        _range_partitions(df), *[F.col(g) for g in gcols], *order_by
    ).withColumn("__dl_pid", F.spark_partition_id())
    part = persist_tracked(part)
    w_local = Window.partitionBy("__dl_pid", *gcols).orderBy(*order_by)
    local = part.withColumn("__dl_rn", F.row_number().over(w_local)).withColumn(
        "__dl_lag", F.lag(value_col).over(w_local)
    )
    lasts = local.groupBy("__dl_pid", *gcols).agg(
        F.max_by(F.col(value_col), F.col("__dl_rn")).alias("__dl_last")
    )
    w_prev = Window.partitionBy(*gcols).orderBy("__dl_pid")
    boundary = lasts.select(
        F.col("__dl_pid").alias("__dl_pid2"),
        *[F.col(g).alias(f"__dl_g{i}") for i, g in enumerate(gcols)],
        F.lag("__dl_last").over(w_prev).alias("__dl_prev"),
    )
    cond = F.col("__dl_pid") == F.col("__dl_pid2")
    for i, g in enumerate(gcols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__dl_g{i}"))
    drop_cols = ["__dl_pid", "__dl_pid2", "__dl_rn", "__dl_lag", "__dl_prev"] + [
        f"__dl_g{i}" for i in range(len(gcols))
    ]
    return (
        local.join(F.broadcast(boundary), cond, "left")
        .withColumn(
            lag_name,
            F.when(F.col("__dl_rn") == 1, F.col("__dl_prev")).otherwise(
                F.col("__dl_lag")
            ),
        )
        .drop(*drop_cols)
    )


def distributed_ntile(
    df: DataFrame,
    order_by: Sequence[Column],
    n: int,
    *,
    tile_name: str = "tile",
) -> DataFrame:
    """Global ``ntile(n) OVER (ORDER BY ...)`` via :func:`distributed_rank`
    plus the closed-form rank→tile map — same answers as the built-in,
    no single-partition sort.

    ntile semantics over N rows: ``q = N div n``, ``r = N mod n``; the
    first ``r`` tiles hold ``q+1`` rows, the rest ``q``. The total N
    rides along on distributed_rank's broadcast offsets (no extra pass
    over the input). ``greatest(q,1)`` guards the (never-taken when
    N < n) divide branch — both branches of a vectorized CASE are
    evaluated.
    """
    ranked = distributed_rank(
        df, order_by, rank_name="__dn_rn",
        total_name="__dn_total",
    )
    return (
        ranked
        .withColumn("__dn_q", F.expr(f"__dn_total div {n}").cast("long"))
        .withColumn("__dn_r", (F.col("__dn_total") % n).cast("long"))
        .withColumn(
            tile_name,
            F.expr(
                "CAST(CASE WHEN __dn_rn <= __dn_r * (__dn_q + 1)"
                " THEN (__dn_rn - 1) div (__dn_q + 1)"
                " ELSE __dn_r + (__dn_rn - __dn_r * (__dn_q + 1) - 1)"
                "       div greatest(__dn_q, 1)"
                " END + 1 AS BIGINT)"
            ),
        )
        .drop("__dn_rn", "__dn_total", "__dn_q", "__dn_r")
    )


def sessionize(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign session ids (`session_id`): a new session starts when the
    gap from the previous event (per user) exceeds `gap_minutes`.

    lag + conditional cumsum — one shuffle on the user key.

    The bare ``Window.partitionBy(user_col)`` is the PLAIN per-group
    form on purpose (see the module-docstring policy): user cardinality
    grows with the corpus, so per-user event counts are pigeonhole-
    bounded and each group sorts in its own small task — this does NOT
    need (and must not pay for) the ``distributed_rank_in_groups``
    machinery, whose contract is the converse case of few heavy groups.

    Works for TIMESTAMP and TIMESTAMP_NTZ inputs: NTZ can't cast to
    BIGINT directly, so go through TIMESTAMP first. That hop uses the
    session timezone, but gaps are differences of epochs, so any fixed
    offset cancels — and the engine pins the session to UTC
    (session.py), so there is no DST-varying offset either.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return df.withColumn("__new", is_new).withColumn(
        "session_id", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("__new")


def windowed_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling-window count and sum of `value` per key: one hash
    aggregate on (window, key). Backs the `events_hourly_rollup`
    oracle query."""
    return (
        events.groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), key_col, "n", "total_value")
    )


def distributed_cumsum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    *,
    cumsum_name: str = "cumsum",
    total_name: str | None = None,
) -> DataFrame:
    """Global running total ``SUM(value) OVER (ORDER BY ...)`` without
    the single-partition sort — the prefix-sum sibling of
    :func:`distributed_rank` (same TeraSort two-pass shape, same
    persistence rationale).

    1. ``repartitionByRange`` on the FULL ordering, persisted (the
       nondeterministic ``spark_partition_id`` defeats exchange reuse
       otherwise — see distributed_rank);
    2. per-partition VALUE sums (one map-side-combined aggregate) →
       exclusive running offsets over the partition-count-sized table,
       broadcast;
    3. local running sum per range partition + its offset.

    `value_col` must be integral (BIGINT accumulation — a float running
    total would be partition-order-dependent). The inclusive cumsum of
    row r equals the single-task window's exactly, for any total order
    ``order_by`` (include a tiebreaker). With ``total_name``, the grand
    total rides along on the broadcast offsets.
    """
    part = df.repartitionByRange(_range_partitions(df), *order_by).withColumn(
        "__dc_pid", F.spark_partition_id()
    )
    part = persist_tracked(part)
    sums = part.groupBy("__dc_pid").agg(
        F.sum(F.col(value_col)).cast("long").alias("__dc_sum")
    )
    w_off = Window.orderBy("__dc_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_cols = [
        F.col("__dc_pid"),
        F.coalesce(F.sum("__dc_sum").over(w_off), F.lit(0)).cast("long").alias("__dc_off"),
    ]
    drop_cols = ["__dc_pid", "__dc_off"]
    if total_name is not None:
        w_all = Window.orderBy("__dc_pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        off_cols.append(
            F.sum("__dc_sum").over(w_all).cast("long").alias(total_name)
        )
    offsets = sums.select(*off_cols)
    w_local = (
        Window.partitionBy("__dc_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        part.join(F.broadcast(offsets), "__dc_pid")
        .withColumn(
            cumsum_name,
            (F.sum(F.col(value_col)).over(w_local) + F.col("__dc_off")).cast("long"),
        )
        .drop(*drop_cols)
    )


def distributed_ntile_in_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    n: int,
    *,
    tile_name: str = "tile",
) -> DataFrame:
    """``ntile(n) OVER (PARTITION BY group ORDER BY ...)`` without any
    single task sorting one group's full data — the per-group form of
    :func:`distributed_ntile`, riding :func:`distributed_rank_in_groups`
    (the group's row count arrives on the broadcast offsets for free)
    plus the closed-form rank→tile map.

    ntile semantics per group of N rows: ``q = N div n``,
    ``r = N mod n``; the first ``r`` tiles hold ``q+1`` rows, the rest
    ``q``. ``greatest(q, 1)`` guards the never-taken divide branch of
    the vectorized CASE when N < n. Same contract as the rank form:
    ``order_by`` totally orders within a group, group cardinality far
    below fact cardinality.
    """
    ranked = distributed_rank_in_groups(
        df, group_cols, order_by, rank_name="__dgn_rn", total_name="__dgn_total",
    )
    return (
        ranked
        .withColumn("__dgn_q", F.expr(f"__dgn_total div {n}").cast("long"))
        .withColumn("__dgn_r", (F.col("__dgn_total") % n).cast("long"))
        .withColumn(
            tile_name,
            F.expr(
                "CAST(CASE WHEN __dgn_rn <= __dgn_r * (__dgn_q + 1)"
                " THEN (__dgn_rn - 1) div (__dgn_q + 1)"
                " ELSE __dgn_r + (__dgn_rn - __dgn_r * (__dgn_q + 1) - 1)"
                "       div greatest(__dgn_q, 1)"
                " END + 1 AS BIGINT)"
            ),
        )
        .drop("__dgn_rn", "__dgn_total", "__dgn_q", "__dgn_r")
    )


def distributed_cumsum_in_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    *,
    cumsum_name: str = "cumsum",
    rank_name: str,
) -> DataFrame:
    """``SUM(value) OVER (PARTITION BY group ORDER BY ...)`` without any
    single task ever scanning one group's full data — the per-group
    prefix sum completing the distributed family (rank / ntile / lag /
    cumsum, each in global and grouped form).

    Same contract as :func:`distributed_rank_in_groups`: use this for
    FEW HEAVY groups (event types, languages); for pigeonhole-bounded
    groups (per-user, per-session) the plain window is correct and
    cheaper (module-docstring policy). Shape:

    1. ``repartitionByRange`` on ``(group_cols..., order_by...)``,
       persisted — a heavy group spans many range partitions;
    2. per-``(partition, group)`` value sums and row counts → per-group
       EXCLUSIVE running offsets over partition id (the offsets
       relation is parameter-sized: ≤ |groups| + partitions − 1 rows,
       windowed by group — never a global sort), broadcast;
    3. local running sum and local row_number (``rank_name``, sharing
       the pass instead of paying a second operator) inside each ``(partition, group)`` segment +
       its offsets. The local window is partitioned by the range
       partition id, so its biggest task is one range partition,
       bounded by the partitioner regardless of group skew.

    ``value_col`` must be non-NULL integral (BIGINT accumulation — a
    float running total would be partition-order-dependent; a NULL
    would silently desynchronize the rank and sum offsets).
    ``order_by`` must totally order rows WITHIN a group (include a
    tiebreaker; pin NULLS LAST explicitly for nullable keys).
    """
    gcols = list(group_cols)
    part = df.repartitionByRange(
        _range_partitions(df), *[F.col(g) for g in gcols], *order_by
    ).withColumn("__dg_pid", F.spark_partition_id())
    part = persist_tracked(part)
    sums = part.groupBy("__dg_pid", *gcols).agg(
        F.sum(F.col(value_col)).cast("long").alias("__dcg_sum"),
        F.count(F.lit(1)).cast("long").alias("__dcg_cnt"),
    )
    w_off = (
        Window.partitionBy(*gcols)
        .orderBy("__dg_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # null-safe aliased group keys on the offsets side — a NULL group
    # value is a real group for a window (see distributed_rank_in_groups)
    off_cols = [
        F.col("__dg_pid").alias("__dcg_pid2"),
        *[F.col(g).alias(f"__dcg_g{i}") for i, g in enumerate(gcols)],
        F.coalesce(F.sum("__dcg_sum").over(w_off), F.lit(0)).cast("long").alias("__dcg_soff"),
        F.coalesce(F.sum("__dcg_cnt").over(w_off), F.lit(0)).cast("long").alias("__dcg_coff"),
    ]
    drop_cols = ["__dg_pid", "__dcg_pid2", "__dcg_soff", "__dcg_coff"] + [
        f"__dcg_g{i}" for i in range(len(gcols))
    ]
    offsets = sums.select(*off_cols)
    cond = F.col("__dg_pid") == F.col("__dcg_pid2")
    for i, g in enumerate(gcols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__dcg_g{i}"))
    w_local = (
        Window.partitionBy("__dg_pid", *gcols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        part.join(F.broadcast(offsets), cond)
        .withColumn(
            cumsum_name,
            (F.sum(F.col(value_col)).over(w_local) + F.col("__dcg_soff")).cast("long"),
        )
        .withColumn(
            rank_name,
            (F.row_number().over(w_local) + F.col("__dcg_coff")).cast("long"),
        )
        .drop(*drop_cols)
    )


def distributed_groupwise_peak(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    *,
    peak_name: str = "peak",
) -> DataFrame:
    """``MAX(SUM(value) OVER (PARTITION BY group ORDER BY ...))`` per
    group — the fused form of ``distributed_cumsum_in_groups`` →
    ``groupBy(group).max(cumsum)`` for consumers that need only the
    PEAK of the prefix sum (the census endpoint sweeps).

    Same exact values (the peak of a prefix sum decomposes over the
    contiguous range segments: per range partition take the local
    running max and the segment total, then peak = max over partitions
    of local max + exclusive prefix of preceding totals), but — r13,
    guide §2.4/§5 — it skips everything the general cumsum pays for
    materializing a per-row running value it does not need: the offsets
    broadcast join-back over the data, the final full-data max
    aggregate, and the persist (the ranged relation has exactly ONE
    consumer here, so caching it would be pure overhead).

    Same contract as the cumsum: few heavy groups, ``order_by`` totally
    orders within a group, ``value_col`` non-NULL integral.
    """
    gcols = list(group_cols)
    part = df.repartitionByRange(
        _range_partitions(df), *[F.col(g) for g in gcols], *order_by
    ).withColumn("__dp_pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__dp_pid", *gcols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = (
        part.select(
            *gcols, "__dp_pid",
            F.col(value_col).alias("__dp_v"),
            F.sum(F.col(value_col)).over(w_local).alias("__dp_run"),
        )
        .groupBy("__dp_pid", *gcols)
        .agg(
            F.max("__dp_run").alias("__dp_lmax"),
            F.sum("__dp_v").alias("__dp_tot"),
        )
    )  # ≤ |groups| + partitions − 1 rows (groups contiguous in range order)
    w_off = (
        Window.partitionBy(*gcols)
        .orderBy("__dp_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        seg.select(
            *gcols,
            (
                F.col("__dp_lmax")
                + F.coalesce(F.sum("__dp_tot").over(w_off), F.lit(0))
            ).alias("__dp_peak"),
        )
        .groupBy(*gcols)
        .agg(F.max("__dp_peak").cast("long").alias(peak_name))
    )


def distributed_running_max(
    df: DataFrame,
    order_by: Sequence[Column],
    value_col: str,
    *,
    max_name: str = "running_max",
    exclusive: bool = False,
) -> DataFrame:
    """Global running maximum ``MAX(value) OVER (ORDER BY ...)`` without
    the single-partition sort — the prefix-MAX member of the
    distributed window family (max is a monoid like sum, so the exact
    same TeraSort two-pass shape applies: :func:`distributed_cumsum`).

    1. ``repartitionByRange`` on the FULL ordering, persisted (the
       nondeterministic ``spark_partition_id`` defeats exchange reuse
       otherwise — see distributed_rank);
    2. per-partition MAX → EXCLUSIVE prefix maxima over the
       partition-count-sized table (windowed over ≤ shuffle-partitions
       rows, never the fact), broadcast;
    3. per-partition local running max combined with the offset via
       ``greatest`` (Spark's greatest skips NULLs, so the first range
       partition's missing offset and — under ``exclusive`` — each
       partition's NULL first-row local max compose correctly).

    With ``exclusive=True`` the window is ``ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING``: row r sees the max of rows strictly
    before it (NULL for the first row overall) — the form a
    late-data/watermark audit needs, where an event must not count as
    late against itself. ``value_col`` must be integral; NULL values
    are IGNORED by the prefix max (both ``MAX`` and ``greatest`` skip
    NULLs on both engines), i.e. a NULL-value row sees the max of the
    non-NULL values before it — NULL only if none exist — and
    contributes nothing to later rows. Callers that feed derived
    values (e.g. ``unix_micros(ts)`` in the lateness family) rely on
    exactly this for contract-dropped NULL timestamps (ADVICE r9).
    ``order_by`` must totally order rows up to ties that carry equal
    ``value_col`` (with (key..., value) orderings, tied rows see the
    same prefix max either way, so the result is order-stable).
    """
    part = df.repartitionByRange(_range_partitions(df), *order_by).withColumn(
        "__dm_pid", F.spark_partition_id()
    )
    part = persist_tracked(part)
    maxes = part.groupBy("__dm_pid").agg(
        F.max(F.col(value_col)).cast("long").alias("__dm_max")
    )
    w_off = Window.orderBy("__dm_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = maxes.select(
        F.col("__dm_pid"),
        F.max("__dm_max").over(w_off).cast("long").alias("__dm_off"),
    )
    lo, hi = (Window.unboundedPreceding, -1 if exclusive else 0)
    w_local = (
        Window.partitionBy("__dm_pid").orderBy(*order_by).rowsBetween(lo, hi)
    )
    return (
        part.join(F.broadcast(offsets), "__dm_pid")
        .withColumn(
            max_name,
            F.greatest(
                F.max(F.col(value_col)).over(w_local).cast("long"),
                F.col("__dm_off"),
            ),
        )
        .drop("__dm_pid", "__dm_off")
    )
