"""Join / lookup operators (SURVEY §2.5).

The reference implements every lookup as an lru_cache-memoized per-value
DB query (utilitarios/datas.py:65-128, utilitarios/geografias.py:55-144);
the Spark-native equivalents are broadcast joins:

- J1 date→period range join (`data_inicio <= d <= data_fim`)
- J2/J3 equi-join dimension lookups
- J4 next-period (lead over the ordered period dim)

Scale notes: dims here are tiny (≤ thousands of rows) so every join is a
broadcast — the 100 TB fact side never shuffles. For J1 there are two
strategies:

1. `period_equi_join` — when periods are calendar months (the reference's
   default `tipo_periodo="mensal"`, utilitarios/datas.py:69), truncate the
   fact date to month and equi-join: a plain BroadcastHashJoin, O(n).
2. `range_join` — the general interval case: broadcast non-equi join
   (BroadcastNestedLoopJoin). Fine for a small dim; each fact row scans
   the broadcast list. Use (1) whenever intervals are calendar-aligned.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: Column,
    *,
    select: dict[str, str],
) -> DataFrame:
    """J2/J3: attach `select` (dim_col → output_name) via broadcast
    left equi-join.

    Catalyst prunes unreferenced dim columns from the broadcast; the fact
    side keeps its exact column set plus the attached lookups.
    """
    out = fact.join(F.broadcast(dim), on, "left")
    keep = [fact[c] for c in fact.columns] + [dim[src].alias(dst) for src, dst in select.items()]
    return out.select(*keep)


def range_join(
    fact: DataFrame,
    periods: DataFrame,
    date_col: Column,
    *,
    attach: dict[str, str],
    dates: DataFrame,
) -> DataFrame:
    """J1 general form: broadcast interval join
    date ∈ [data_inicio, data_fim].

    `attach` maps period columns to output names. The dim is broadcast;
    intervals stay ARBITRARY (overlap allowed), matching the reference's
    per-value interval lookup. Reference: utilitarios/datas.py:65-91.

    r12 (guide §8 — decide with small rows, then attach): the interval
    predicate depends only on the DATE value, so the nested loop runs
    over the fact's DISTINCT dates (a tiny map-side-combined aggregate:
    thousands of rows at any scale), producing a (date → period) map
    that equi-joins back onto the fact as a BroadcastHashJoin. The fact
    side is never nested-loop-scanned: per-row cost drops from
    O(|periods|) comparisons to one hash probe. Semantics are identical
    to the direct NLJ: a date matching k intervals yields k map rows
    (same row multiplication), a date matching none is absent from the
    inner map and left-joins to NULL attach.

    `dates` (r13, guide §2.4): the caller's single-column ``__d``
    relation, which MUST equal ``fact.select(date_col).distinct()`` —
    callers derive their period dim from the same distinct-date pass,
    so the two share one persisted relation instead of scanning the
    fact again. Supersets are also safe (extra dates just add unmatched
    map rows the left join never probes).
    """
    # ADVICE r12: __d / __iv_* are reserved temp names (withColumn would
    # silently overwrite a caller's column), and date_col must be
    # coarse-grained (date-typed) for the distinct-decide proxy to stay
    # small — a raw timestamp would make the "tiny" date map fact-sized.
    # ValueError, not assert: `python -O` strips asserts.
    if "__d" in fact.columns:
        raise ValueError("range_join: fact must not have a __d column")
    if any(c.startswith("__iv_") for c in fact.columns):
        raise ValueError("range_join: fact must not have __iv_* columns")
    f = fact.withColumn("__d", date_col)
    cond = (F.col("__d") >= periods["data_inicio"]) & (F.col("__d") <= periods["data_fim"])
    date_map = dates.join(periods, cond, "inner").select(
        "__d", *[periods[src].alias(f"__iv_{dst}") for src, dst in attach.items()]
    )
    joined = f.join(F.broadcast(date_map), "__d", "left")
    keep = [f[c] for c in fact.columns] + [
        F.col(f"__iv_{dst}").alias(dst) for dst in attach.values()
    ]
    return joined.select(*keep)


def period_equi_join(
    fact: DataFrame,
    periods: DataFrame,
    date_col: Column,
    *,
    attach: dict[str, str],
) -> DataFrame:
    """J1 fast path for calendar-month periods: equi-join on
    `trunc(date, 'MM') == data_inicio` — BroadcastHashJoin instead of a
    nested-loop, the strategy to prefer at 100 TB."""
    fact2 = fact.withColumn("__month", F.trunc(date_col, "MM"))
    p = periods.withColumn("__month", F.col("data_inicio"))
    keep = [fact2[c] for c in fact.columns] + [p[src].alias(dst) for src, dst in attach.items()]
    return fact2.join(F.broadcast(p), "__month", "left").select(*keep)


def bucketed_range_join(
    fact: DataFrame,
    periods: DataFrame,
    date_col: Column,
    *,
    attach: dict[str, str],
) -> DataFrame:
    """J1 scale path for ARBITRARY [data_inicio, data_fim] intervals:
    explode each interval into the calendar months it covers, equi-join
    on the fact date's month, then post-filter the exact range.

    Turns the O(facts × intervals) nested loop into a hash join on month
    buckets + a cheap residual filter — the strategy that survives when
    the interval dim grows past nested-loop practicality. Intervals may
    overlap; facts matching several intervals produce several rows (same
    as the general range join).

    Left semantics match `range_join` exactly: a fact row whose month
    bucket collides only with intervals it falls OUTSIDE (e.g. interval
    Jan 15–Feb 10, fact Jan 5) keeps one output row with NULL attach.
    The exact range check rides as the residual (non-equi) condition of
    the month-keyed LEFT broadcast hash join itself, so the whole
    operator is one whole-stage-codegen join — no higher-order array
    functions, no second explode pass (the r2 array-filter variant spent
    ~35% more wall time in interpreted HOF eval).
    """
    iv_cols = list(dict.fromkeys(["data_inicio", "data_fim", *attach]))
    p_expl = periods.select(
        *[F.col(c).alias(f"__iv_{c}") for c in iv_cols],
        F.explode(
            F.sequence(
                F.trunc(F.col("data_inicio"), "MM"), F.trunc(F.col("data_fim"), "MM"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("__month"),
    )
    f = fact.withColumn("__month", F.trunc(date_col, "MM")).withColumn("__d", date_col)
    cond = (
        (f["__month"] == p_expl["__month"])
        & (F.col("__d") >= F.col("__iv_data_inicio"))
        & (F.col("__d") <= F.col("__iv_data_fim"))
    )
    joined = f.join(F.broadcast(p_expl), cond, "left")
    keep = [f[c] for c in fact.columns] + [
        F.col(f"__iv_{src}").alias(dst) for src, dst in attach.items()
    ]
    return joined.select(*keep)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    salt: int = 8,
) -> DataFrame:
    """Skew-resistant inner equi-join: salt the (skewed) left side's key into
    `salt` sub-keys and replicate the right side across all salts.

    AQE's skew-join handles most cases at runtime; explicit salting is
    for the pathological hot key (one key ≫ a partition) where even
    split partitions serialize on a single joiner. Right side is
    replicated `salt`× — use when right is the smaller input.
    """
    lt = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    rt = right.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = lt.join(rt, [key, "__salt"])
    return out.drop("__salt")


def with_next_period(periods: DataFrame, *, order_col: str = "data_inicio") -> DataFrame:
    """J4: successor period via `lead` (reference walks `data_fim + 1 day`
    back through the lookup, utilitarios/datas.py:114-128)."""
    w = Window.orderBy(order_col)
    return periods.withColumn("next_" + order_col, F.lead(order_col).over(w))


def asof_attach_last(
    df: DataFrame,
    *,
    partition_col: str,
    order_cols: Sequence[str],
    source_cond: Column,
    value_col: str,
    out_col: str,
) -> DataFrame:
    """As-of join expressed as ONE window pass — no join at all.

    For every row, attach the `value_col` of the latest EARLIER row (in
    `order_cols` order, strictly before) within the same `partition_col`
    that satisfies `source_cond`. This is the "merge the two streams,
    sort once, carry the last seen value" formulation of an as-of join:
    on a cluster it costs a single shuffle on `partition_col` — no
    range-bucketing, no broadcast, no skew beyond what the partition key
    already has — where a join-based as-of needs an interval self-join.

    Rows where nothing qualifies yet get NULL (the as-of "no match"
    case). `order_cols` must be a deterministic total order within the
    partition (pass a unique id as the tiebreaker).
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = F.last(
        F.when(source_cond, F.col(value_col)), ignorenulls=True
    ).over(w)
    return df.withColumn(out_col, carried)
