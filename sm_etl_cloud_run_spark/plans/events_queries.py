"""Event-stream queries: windowed rollups, sessionization, JSON props,
top-k per group, and the incremental watermark gate (F4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filters import watermark_gate
from ..operators.windows import sessionize, topk_per_group, windowed_counts
from ..tables import load_tables
from .registry import register

_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY 1, 2
"""


@register("events_hourly_rollup", oracle=_HOURLY_ORACLE, bench=True,
          description="tumbling-window rollup")
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "ts", "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("value")
    )
    out = windowed_counts(ev, ts_col="ts", key_col="event_type", window="1 hour")
    return out.select(
        "window_start", "event_type", "n",
        (F.col("total_value").cast("double") / 100.0).alias("total_value"),
    )


_SLIDING_ORACLE = """
WITH contrib AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM contrib
GROUP BY 1, 2
"""


@register("events_sliding_window", oracle=_SLIDING_ORACLE,
          description="sliding-window agg (2h window, 1h slide): each event in 2 windows")
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100.0).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


_PCT_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
)
SELECT event_type,
       CAST(quantile_cont(cents, 0.5) AS DOUBLE) / 100.0 AS median_value,
       CAST(quantile_cont(cents, 0.9) AS DOUBLE) / 100.0 AS p90_value,
       CAST(MAX(cents) AS DOUBLE) / 100.0 AS max_value
FROM base
GROUP BY event_type
"""


@register("percentile_metrics", oracle=_PCT_ORACLE,
          description="exact percentiles (median/p90) over integer cents")
def percentile_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return t["events"].select("event_type", cents.alias("cents")).groupBy("event_type").agg(
        (F.percentile("cents", F.lit(0.5)).cast("double") / 100.0).alias("median_value"),
        (F.percentile("cents", F.lit(0.9)).cast("double") / 100.0).alias("p90_value"),
        (F.max("cents").cast("double") / 100.0).alias("max_value"),
    )


_CORR_ORACLE = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_discount * 100) AS BIGINT) AS d
  FROM lineitem
), sums AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(d) AS BIGINT) AS sd,
         CAST(SUM(q * q) AS BIGINT) AS sqq, CAST(SUM(d * d) AS BIGINT) AS sdd,
         CAST(SUM(q * d) AS BIGINT) AS sqd
  FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(CAST(n * sqd - sq * sd AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE) * CAST(n * sdd - sd * sd AS DOUBLE)), 8) AS corr_qty_disc
FROM sums
"""


@register("corr_qty_discount", oracle=_CORR_ORACLE,
          description="Pearson correlation from exact integer moment sums")
def corr_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = t["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_quantity"), 0).cast("long").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
    )
    sums = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"), F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
    )
    corr = F.round(
        (F.col("n") * F.col("sqd") - F.col("sq") * F.col("sd")).cast("double")
        / F.sqrt(
            (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")).cast("double")
            * (F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")).cast("double")
        ),
        8,
    )
    return sums.select("l_returnflag", "n", corr.alias("corr_qty_disc"))


_SESSION_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                OR LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id,
       CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id
"""


@register("events_sessionize", oracle=_SESSION_ORACLE,
          description="gap-based sessionization (lag + cumulative sum)")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    sessions = sessionize(t["events"], user_col="user_id", ts_col="ts", gap_minutes=30)
    return sessions.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# Malformed-props contract: Spark's get_json_object returns NULL for
# unparseable JSON, but DuckDB's json_extract_string THROWS — the
# oracle must gate on json_valid or a single hostile props row turns
# the whole oracle red. "Malformed props carries no fields" on both
# engines.
_JSON_ORACLE = """
WITH p AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_extract_string(props, '$.k') END AS k
  FROM events
)
SELECT event_type,
       CAST(SUM(TRY_CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(COUNT(TRY_CAST(k AS BIGINT)) AS BIGINT) AS n_k
FROM p
GROUP BY event_type
"""


@register("events_json_extract", oracle=_JSON_ORACLE,
          description="semi-structured props: JSON field extraction + agg "
                      "(malformed props extracts as NULL on both engines)")
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return t["events"].groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_k"),
    )


_TOPK_ORACLE = """
WITH ranked AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 3
"""


@register("topk_per_group", oracle=_TOPK_ORACLE,
          description="top-k per group via row_number window")
def topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    out = topk_per_group(
        t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice"),
        ["o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )
    return out.withColumn("rn", F.col("rn").cast("long"))


_F5_ORACLE = """
WITH months AS (
  SELECT date_trunc('month', current_date) - to_months(CAST(n AS INTEGER)) AS periodo_data_inicio
  FROM (SELECT unnest(range(0, 9)) AS n)
)
SELECT CAST(periodo_data_inicio AS TIMESTAMP) AS periodo_data_inicio
FROM months
WHERE periodo_data_inicio >= date_trunc('month', current_date) - to_months(5)
  AND periodo_data_inicio <= date_trunc('month', current_date) - to_months(2)
"""


@register("f5_sliding_month_gate", oracle=_F5_ORACLE,
          description="F5: SISAB sliding window (months −5…−2 from today)")
def f5_sliding_month_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.filters import sliding_month_gate

    load_tables(spark, sf_dir)
    months = spark.range(0, 9).select(
        F.add_months(F.trunc(F.current_date(), "MM"), -F.col("id").cast("int")).alias(
            "periodo_data_inicio"
        )
    )
    gated = sliding_month_gate(months, "periodo_data_inicio")
    return gated.select(F.col("periodo_data_inicio").cast("timestamp").alias("periodo_data_inicio"))


_GATE_ORACLE = """
WITH control AS (
  SELECT event_type AS tipo,
         MAX(ts) AS timestamp_modificacao_ftp,
         CASE event_type
           WHEN 'click' THEN NULL
           WHEN 'view' THEN MAX(ts) - INTERVAL 2 HOUR
           WHEN 'purchase' THEN MAX(ts) + INTERVAL 1 HOUR
           WHEN 'error' THEN MAX(ts)
           WHEN 'signup' THEN MAX(ts) - INTERVAL 1 MINUTE
         END AS timestamp_etl_gcs
  FROM events GROUP BY event_type
)
SELECT tipo, timestamp_modificacao_ftp, timestamp_etl_gcs
FROM control
WHERE timestamp_etl_gcs IS NULL OR timestamp_modificacao_ftp > timestamp_etl_gcs
"""


@register("f4_watermark_gate", oracle=_GATE_ORACLE,
          description="F4: watermark freshness gate over a control table")
def f4_watermark_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    mod = F.col("timestamp_modificacao_ftp")
    control = (
        t["events"].groupBy(F.col("event_type").alias("tipo"))
        .agg(F.max("ts").alias("timestamp_modificacao_ftp"))
        .withColumn(
            "timestamp_etl_gcs",
            F.when(F.col("tipo") == "click", F.lit(None).cast("timestamp"))
            .when(F.col("tipo") == "view", mod - F.expr("INTERVAL 2 HOURS"))
            .when(F.col("tipo") == "purchase", mod + F.expr("INTERVAL 1 HOURS"))
            .when(F.col("tipo") == "error", mod)
            .when(F.col("tipo") == "signup", mod - F.expr("INTERVAL 1 MINUTES")),
        )
    )
    return watermark_gate(
        control, source_ts="timestamp_modificacao_ftp", sink_ts="timestamp_etl_gcs"
    )


_ASOF_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       last_value(CASE WHEN event_type = 'click'
                       THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_cents
FROM events
QUALIFY event_type = 'purchase'
"""


@register("events_asof_last_click", oracle=_ASOF_ORACLE, bench=True,
          description="as-of join as one window pass: each purchase carries the user's latest prior click value")
def events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join without a join: single shuffle on user_id, carry the
    last qualifying value forward (operators/joins.asof_attach_last).
    The join-based equivalent would interval-self-join events — this
    formulation is the one that scales."""
    from ..operators.joins import asof_attach_last

    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "event_id", "user_id", "ts", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    out = asof_attach_last(
        ev,
        partition_col="user_id",
        order_cols=("ts", "event_id"),
        source_cond=F.col("event_type") == "click",
        value_col="value_cents",
        out_col="last_click_cents",
    )
    return out.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value_cents", "last_click_cents"
    )


_SALTED_ORACLE = """
WITH user_dim AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS user_purchase_cents
  FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(d.user_purchase_cents) AS BIGINT) AS total_user_purchase_cents
FROM events e JOIN user_dim d ON e.user_id = d.user_id
GROUP BY 1
"""


@register("skew_salted_user_join", oracle=_SALTED_ORACLE,
          description="skew-resistant salted equi-join (same semantics as the plain join, skew-proof plan)")
def skew_salted_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key path: salt the fact side into `salt` sub-keys and
    replicate the dim across salts (operators/joins.salted_join), so a
    single pathological key spreads over `salt` tasks instead of
    serializing on one. The oracle is the PLAIN join — salting must not
    change semantics, only the physical distribution."""
    from ..operators.joins import salted_join

    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "user_id", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    user_dim = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value_cents")).otherwise(F.lit(0))
        ).alias("user_purchase_cents")
    )
    joined = salted_join(ev, user_dim, "user_id", salt=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_purchase_cents").alias("total_user_purchase_cents"),
    )


_PIVOT_ORACLE = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click_n,
       CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view_n,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_n,
       CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup_n,
       CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error_n
FROM events GROUP BY 1
"""


@register("events_pivot_type_counts", oracle=_PIVOT_ORACLE, bench=True,
          description="pivot (inverse of R1 melt): event_type rows to per-type count columns")
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`groupBy().pivot(values=...)` with the pivot domain passed
    explicitly — at scale the implicit form runs an extra distinct job
    over the fact table and yields an input-dependent schema; pinning
    the values keeps the plan a single hash aggregate."""
    t = load_tables(spark, sf_dir)
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(f"{k}_n") for k in kinds],
    )


_CUMSUM_ORACLE = """
SELECT event_id, user_id,
       CAST(SUM(CAST(round(value * 100) AS BIGINT))
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
FROM events
WHERE event_type = 'purchase'
"""


@register("events_running_balance", oracle=_CUMSUM_ORACLE,
          description="cumulative window frame: running purchase total per user")
def events_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t["events"]
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id",
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).over(w).alias("cum_cents"),
        )
    )


_DAILY_FROM_HOURLY_ORACLE = """
SELECT date_trunc('day', ts) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY 1, 2
"""


@register("events_daily_from_hourly", oracle=_DAILY_FROM_HOURLY_ORACLE,
          description="hypertable-style rollup: daily aggregates composed from hourly partials")
def events_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern: the daily rollup is computed FROM
    the hourly aggregate (sum of partials), not from raw events — the
    hierarchy a hypertable materializes so each resolution reads the
    one below it (hours/day rows instead of events/day). The oracle
    aggregates raw directly; results must be identical because count
    and sum compose."""
    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("total_cents"),
        )
    )
    return (
        hourly.groupBy(F.date_trunc("day", F.col("hour")).alias("day"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("total_cents").alias("total_cents"))
    )


_HIST_ORACLE = """
SELECT CAST(floor(CAST(round(value * 100) AS BIGINT) / 1000) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY 1
"""


@register("events_value_histogram", oracle=_HIST_ORACLE,
          description="fixed-width histogram binning (integer-exact bin edges)")
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binning via integer floor-division on cents (float width_bucket
    would put edge values in different bins across engines)."""
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        t["events"]
        .select(F.floor(cents / 1000).cast("long").alias("bin"), cents.alias("c"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("total_cents"))
    )


_CUME_ORACLE = """
SELECT event_type,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       round(cume_dist() OVER (PARTITION BY event_type
                               ORDER BY CAST(round(value * 100) AS BIGINT)), 6) AS cd,
       round(percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY CAST(round(value * 100) AS BIGINT)), 6) AS pr
FROM events
WHERE event_type = 'purchase'
"""


@register("events_cume_dist", oracle=_CUME_ORACLE,
          description="cumulative distribution / percent rank window over purchase values")
def events_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / percent_rank over one event type's values, WITHOUT
    the bare `PARTITION BY event_type` window (that sorts the whole
    type in ONE task — the single-task-group hazard the rank-exact
    percentile family was rewired off). The identities over a total-
    order rank with an event_id tiebreaker:

        cume_dist(v)    = max(rank among rows with value v) / N
        percent_rank(v) = (min(rank among rows with value v) - 1) / (N - 1)

    so the plan is `distributed_rank_in_groups` (range-partitioned
    parallel sort, N rides the broadcast offsets) → one (type, value)
    hash aggregate → re-expand each distinct value's `count` duplicate
    rows with explode(sequence) — output-sized, no join back to the
    fact. Both quotients are single IEEE divisions of identical
    integers, rounded to 6 on both engines; percent_rank of a 1-row
    group pins to 0.0 (the SQL definition) to avoid a NULL divide.
    """
    from ..operators.windows import distributed_rank_in_groups

    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    ranked = distributed_rank_in_groups(
        t["events"]
        .where(F.col("event_type") == "purchase")
        .select("event_type", "event_id", cents.alias("value_cents")),
        ["event_type"],
        [F.col("value_cents").asc_nulls_last(), F.col("event_id")],
        rank_name="__rk", total_name="__n",
    )
    vals = ranked.groupBy("event_type", "value_cents").agg(
        F.min("__rk").alias("__mn"),
        F.max("__rk").alias("__mx"),
        F.max("__n").alias("__n"),
        F.count(F.lit(1)).alias("__c"),
    )
    return (
        vals.select(
            "event_type", "value_cents",
            F.round(F.col("__mx").cast("double") / F.col("__n"), 6).alias("cd"),
            F.when(F.col("__n") == 1, F.lit(0.0))
            .otherwise(
                F.round((F.col("__mn") - 1).cast("double") / (F.col("__n") - 1), 6)
            ).alias("pr"),
            F.explode(F.sequence(F.lit(1), F.col("__c"))).alias("__i"),
        )
        .drop("__i")
    )


_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
actual AS (
  SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT g.hour, COALESCE(a.n, 0) AS n
FROM grid g LEFT JOIN actual a ON g.hour = a.hour
"""


@register("events_hourly_gapfill", oracle=_GAPFILL_ORACLE, bench=True,
          description="time-series gap fill: dense hourly grid with zero rows for silent hours")
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample-with-gap-fill: sequence() builds the dense hour grid
    from the observed bounds (2 scalar aggregates broadcast, grid
    exploded once), left join fills silent hours with 0 — downstream
    window math (moving averages, anomaly z-scores) needs the dense
    grid, and a 100 TB events table generates it without ever
    collecting timestamps to the driver."""
    # r12 negative result: fusing the bounds pass and the purchase
    # histogram into ONE all-events aggregate (+persist, bounds from its
    # min/max) measured consistently SLOWER (0.36-0.44 → 0.52-0.55 s
    # noop A/B) — the bounds pass prunes to the single ts column and
    # the histogram's event_type filter prunes rows before the
    # aggregate, while the fused form aggregates every row and pays a
    # cache materialization. Two cheap pruned passes beat one fat one;
    # kept as-is.
    t = load_tables(spark, sf_dir)
    bounds = t["events"].agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    actual = (
        t["events"]
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grid.join(actual, "hour", "left").select(
        "hour", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


_LASTWRITE_ORACLE = """
SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS value_cents
FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("dedup_last_write", oracle=_LASTWRITE_ORACLE,
          description="last-write-wins dedup: keep each user's latest event (K5 source-dedupe shape)")
def dedup_last_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-source dedupe (operators/dedup.dedupe_last_write) as a
    standalone query: one window pass keyed on the id, deterministic
    tiebreak on (ts, event_id) — SURVEY §7.3's requirement that a
    distributed upsert dedupe its source first."""
    from ..operators.dedup import dedupe_last_write

    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    ).withColumn("__ord", F.struct(F.col("ts"), F.col("event_id")))
    return dedupe_last_write(ev, ["user_id"], "__ord").select(
        "user_id", "event_id", "value_cents"
    )


_ZSCORE_ORACLE = """
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
actual AS (
  SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
dense AS (
  SELECT g.hour, COALESCE(a.n, 0) AS n FROM grid g LEFT JOIN actual a ON g.hour = a.hour
),
mom AS (
  SELECT hour, n,
         SUM(n)     OVER w AS s1,
         SUM(n * n) OVER w AS s2,
         COUNT(*)   OVER w AS k
  FROM dense
  WINDOW w AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT hour, n,
       round((CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / k)
             / sqrt(greatest(CAST(k AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1, 1)
                    / (CAST(k AS DOUBLE) * k)), 6) AS zscore
FROM mom
WHERE k = 24
"""


@register("events_anomaly_zscore", oracle=_ZSCORE_ORACLE,
          description="rolling z-score over the gap-filled hourly series (integer-exact moments)")
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly scoring composed on the dense grid: each hour compared
    to its trailing 24h window. Moments are integer sums (Σn, Σn²) so
    the variance is exact — stddev_samp over doubles would be
    accumulation-order-dependent across engines. Σn² stays in-bounds
    for hourly counts up to ~6.2e8 (24·n² < 2^63); beyond that switch
    the moments to doubles on BOTH sides. Rows emitted only for
    full 24-row trailing windows. The unpartitioned window runs on ONE
    task by design: it operates on the hourly GRID (8.8k rows/year
    regardless of corpus size), not on events."""
    from pyspark.sql.window import Window

    dense = events_hourly_gapfill(spark, sf_dir)
    w = Window.orderBy("hour").rowsBetween(-24, -1)
    mom = dense.select(
        "hour", "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    k = F.col("k").cast("double")
    s1 = F.col("s1").cast("double")
    var_num = F.greatest(k * F.col("s2") - s1 * F.col("s1"), F.lit(1.0))
    return (
        mom.where(F.col("k") == 24)
        .select(
            "hour", "n",
            F.round((F.col("n").cast("double") - s1 / k) / F.sqrt(var_num / (k * k)), 6).alias("zscore"),
        )
    )


_FUNNEL_ORACLE = """
WITH first_signup AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
conv AS (
  SELECT s.user_id, s.signup_ts,
         MIN(e.ts) AS first_purchase_ts
  FROM first_signup s
  JOIN events e
    ON e.user_id = s.user_id
   AND e.event_type = 'purchase'
   AND e.ts >= s.signup_ts
   AND e.ts < s.signup_ts + INTERVAL 7 DAY
  GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST((SELECT COUNT(*) FROM conv) AS BIGINT) AS n_converted,
       CAST(COALESCE(SUM(CASE WHEN c.user_id IS NOT NULL
                              THEN datediff('hour', s.signup_ts, c.first_purchase_ts)
                              ELSE 0 END), 0) AS BIGINT) AS total_hours_to_convert
FROM first_signup s LEFT JOIN conv c ON s.user_id = c.user_id
"""


@register("events_conversion_funnel", oracle=_FUNNEL_ORACLE,
          description="funnel: signup -> first purchase within 7 days (ordered-step matching)")
def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel: each user's first signup joined to their
    first purchase inside the 7-day window. One shuffle on user_id for
    both aggregates; the range condition rides the equi-join (no
    interval self-join of the full event table)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    first_signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("p_ts"))
    conv = (
        first_signup.join(purchases, "user_id")
        .where(
            (F.col("p_ts") >= F.col("signup_ts"))
            & (F.col("p_ts") < F.col("signup_ts") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("first_purchase_ts"))
    )
    joined = first_signup.join(conv.select("user_id", "first_purchase_ts"), "user_id", "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.count("first_purchase_ts").alias("n_converted"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("first_purchase_ts").isNotNull(),
                    # DuckDB datediff('hour') counts boundary crossings
                    F.floor(F.unix_timestamp("first_purchase_ts") / 3600)
                    - F.floor(F.unix_timestamp("signup_ts") / 3600),
                ).otherwise(F.lit(0)).cast("long")
            ),
            F.lit(0),
        ).alias("total_hours_to_convert"),
    )


# ---------------------------------------------------------------------------
# daily cohort retention
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH first_ev AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
), cohort AS (
  SELECT user_id, date_trunc('day', first_ts) AS cohort_day FROM first_ev
), act AS (
  SELECT c.cohort_day, e.user_id,
         CAST(date_diff('day', c.cohort_day, date_trunc('day', e.ts)) AS BIGINT)
           AS day_offset
  FROM events e JOIN cohort c USING (user_id)
), a AS (
  SELECT cohort_day, day_offset, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
  FROM act GROUP BY 1, 2
), s AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM cohort GROUP BY 1
)
SELECT CAST(a.cohort_day AS TIMESTAMP) AS cohort_day, day_offset, n_active, n_cohort,
       CAST(FLOOR(10000.0 * n_active / n_cohort) AS BIGINT) AS retention_bp
FROM a JOIN s USING (cohort_day)
"""


@register("events_cohort_retention", oracle=_COHORT_ORACLE,
          description="daily cohort retention matrix: first-event cohort × "
                      "day offset → distinct active users + retention bp")
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics retention matrix: users are cohorted by
    the day of their first event; each (cohort, day-offset) cell
    counts the cohort's users active that day, with retention in
    basis points against cohort size.

    Shape: one user-keyed aggregate builds the cohort dim (uniform
    keys); joining it back to events is user-keyed too, so on a
    cluster both sides share one hash partitioning and the join
    reuses the aggregate's exchange. The cell aggregate shuffles on
    (cohort, offset) — a few hundred uniform keys — and the cohort-size
    side is an aggregated |cohorts|-row broadcast. Offsets divide
    exactly by 7 (both weeks are Monday-truncated), so the arithmetic
    is integer-exact on both engines.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    cohort = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select("user_id", F.date_trunc("day", F.col("first_ts")).alias("cohort_day"))
    )
    act = ev.join(cohort, "user_id").select(
        "cohort_day", "user_id",
        F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
        .cast("long").alias("day_offset"),
    )
    cells = act.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").cast("long").alias("n_active")
    )
    sizes = cohort.groupBy("cohort_day").agg(F.count(F.lit(1)).cast("long").alias("n_cohort"))
    return (
        cells.join(F.broadcast(sizes), "cohort_day")
        .select(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            "day_offset", "n_active", "n_cohort",
            F.floor(10000.0 * F.col("n_active") / F.col("n_cohort")).cast("long")
            .alias("retention_bp"),
        )
    )


# ---------------------------------------------------------------------------
# sketch aggregates (HLL / approximate quantiles) — the 100 TB
# observability path where exact distinct/percentile is too expensive
# ---------------------------------------------------------------------------


@register("events_sketch_profile", oracle=None,
          description="sketch aggregates per event_type: HLL++ approximate "
                      "distinct users + GK approximate p50/p90 (rows-only: "
                      "DuckDB's sketch algorithms differ by design; accuracy "
                      "is bounded vs exact in tests/test_plans.py)")
def events_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profile of the event stream: approx_count_distinct
    (HyperLogLog++, rsd 2%) and percentile_approx (Greenwald-Khanna,
    accuracy 10000) per event type.

    This is the observability shape that REPLACES exact distinct/
    percentile at 100 TB: HLL registers and GK summaries are tiny,
    merge associatively (one map-side-combined aggregate, no giant
    distinct shuffle), and their error is bounded. No SQL oracle —
    DuckDB's approx algorithms are different implementations with
    different estimates — so this entry is rows-only at the driver;
    the accuracy bound (±5% of exact) is asserted in pytest instead.
    """
    t = load_tables(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        t["events"]
        .select("event_type", "user_id", cents.alias("cents"))
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).cast("long")
            .alias("approx_users"),
            (F.percentile_approx("cents", F.lit(0.5), F.lit(10000)).cast("double") / 100.0)
            .alias("approx_median"),
            (F.percentile_approx("cents", F.lit(0.9), F.lit(10000)).cast("double") / 100.0)
            .alias("approx_p90"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


# events_sketch_rollup_merge moved next to the portable-HLL section
# below: round 9 reimplemented it on md5-derived registers so the
# stored-daily-sketch → merged-rollup architecture is fully
# oracle-checked (VERDICT r8 "Next round" item 2); the engine-native
# Datasketches merge path it used to demonstrate lives on in
# tests/test_plans.py::test_sketch_rollup_merge_exact_vs_single_pass.


# ---------------------------------------------------------------------------
# native session_window twin of events_sessionize
# ---------------------------------------------------------------------------

_SESSION_WINDOW_ORACLE = """
WITH o AS (
  SELECT user_id, ts,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, ts, cents,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM o
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value
FROM s
GROUP BY user_id, session_no
"""


@register("events_session_window_native", oracle=_SESSION_WINDOW_ORACLE,
          description="Spark-native session_window sessionization (30-min gap) — "
                      "the built-in operator twin of events_sessionize")
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's built-in ``session_window`` — the
    same 30-minute-gap semantics as events_sessionize's lag+cumsum
    formulation, expressed as the native operator Structured Streaming
    also accepts (merging session aggregation, no window function at
    all). The oracle reproduces it with the classic gap-islands SQL:
    session_end is last event + gap, exactly session_window's
    definition.

    Shape: one hash aggregation keyed by (user, session) with Spark's
    dedicated session-merge exec — on a cluster this is a single
    user-keyed exchange; no sort-based window pass exists in the plan.
    Values aggregate in integer cents (order-free).
    """
    t = load_tables(spark, sf_dir)
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        t["events"]
        .select("user_id", "ts", F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
        .groupBy(sw, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents").cast("double") / 100.0).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_VARIANT_ORACLE = """
WITH p AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN json_extract_string(props, '$.k') END AS k
  FROM events
)
SELECT event_type,
       CAST(COUNT(TRY_CAST(k AS BIGINT)) AS BIGINT) AS n_k,
       CAST(SUM(TRY_CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(TRY_CAST(k AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(TRY_CAST(k AS BIGINT)) AS BIGINT) AS max_k
FROM p
GROUP BY event_type
"""


@register("events_variant_extract", oracle=_VARIANT_ORACLE,
          description="VariantType semi-structured path: try_parse_json once, "
                      "typed try_variant_get extraction + agg (malformed/"
                      "mistyped rows NULL out, never throw)")
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4 VARIANT upgrade of `events_json_extract`: props is
    parsed ONCE into a Variant value (binary-encoded, not re-parsed
    per field) and fields come out via typed `try_variant_get` paths.
    At 100 TB this is the semi-structured scale path — Variant columns
    store parsed binary (and shred common paths in parquet), so a
    5-field extraction costs one parse instead of five string scans,
    and the try_* forms keep the hostile-row contract (malformed JSON,
    wrong-typed fields → NULL, never a thrown task).
    """
    t = load_tables(spark, sf_dir)
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return t["events"].select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("k").alias("n_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


_CONCURRENCY_ORACLE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800
                OR LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
), b AS (
  SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM s GROUP BY user_id, sid
), hours AS (
  SELECT user_id,
         unnest(generate_series(date_trunc('hour', s_start),
                                date_trunc('hour', s_end),
                                INTERVAL 1 HOUR)) AS hour
  FROM b
)
SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_active_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
FROM hours GROUP BY hour
"""


@register("events_concurrency_profile", oracle=_CONCURRENCY_ORACLE,
          description="interval-to-grid coverage: sessions exploded onto the "
                      "hour grid they overlap → concurrent sessions/users per hour")
def events_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many sessions (and distinct users) were ACTIVE in each hour —
    the interval-overlap aggregation, solved without an interval join:
    each session interval explodes onto the hour-grid cells it covers
    (amplification = session duration in hours, bounded by the session
    gap), then one hash aggregate per cell. The pairwise formulation
    ("which sessions overlap which") is quadratic in concurrency; the
    grid formulation is linear in session-hours and is how dashboards
    actually consume concurrency. Session numbering reuses sessionize's
    lag+cumsum; equal-timestamp peers can renumber across engines, but
    interval BOUNDS per (user, session-set) are order-free, so the
    profile is deterministic.
    """
    t = load_tables(spark, sf_dir)
    sess = sessionize(t["events"], user_col="user_id", ts_col="ts", gap_minutes=30)
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end"),
    )
    hours = bounds.select(
        "user_id",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s_start")),
                F.date_trunc("hour", F.col("s_end")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    return hours.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_active_sessions"),
        F.countDistinct("user_id").alias("n_active_users"),
    )


_TREND_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT event_type, cents,
         CAST(date_diff('day', DATE '2024-01-01', CAST(day AS DATE)) AS BIGINT) AS x
  FROM daily
), sums AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(cents) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * cents) AS BIGINT) AS sxy
  FROM idx GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope_per_day,
       round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                                   / CAST(n * sxx - sx * sx AS DOUBLE)
                                   * CAST(sx AS DOUBLE) / n) / n / 100.0, 6)
         AS intercept
FROM sums
"""


@register("events_trend_regression", oracle=_TREND_ORACLE,
          description="per-type OLS trend: slope/intercept of daily revenue vs "
                      "day index from exact integer moment sums")
def events_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend per event type — the normal equations
    computed from five exact integer moments (n, Σx, Σy, Σxx, Σxy),
    the same discipline as `corr_qty_discount`: sums of longs are
    partition-order-free, the only doubles are the final two
    divisions executed in one fixed order on both engines. One daily
    pre-aggregate + one per-type aggregate; regression over a 100 TB
    fact costs two map-side-combined hash aggs, no fit loop.
    """
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    )
    idx = daily.select(
        "event_type", "cents",
        F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long").alias("x"),
    )
    sums = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("cents").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("cents")).alias("sxy"),
    )
    slope_raw = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    )
    intercept = F.round(
        (
            F.col("sy").cast("double")
            - slope_raw * F.col("sx").cast("double") / F.col("n")
        ) / F.col("n") / 100.0,
        6,
    )
    return sums.select(
        "event_type", "n",
        F.round(slope_raw / 100.0, 6).alias("slope_per_day"),
        intercept.alias("intercept"),
    )


_AQP_PCT = 10   # 10% deterministic sample


_AQP_ORACLE = f"""
WITH s AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
  WHERE CAST(('0x' || substr(md5('aqp-seed-1:' || CAST(event_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 100 < {_AQP_PCT}
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(COUNT(*) * {100 // _AQP_PCT} AS BIGINT) AS est_total_rows,
       round(CAST(SUM(cents) * {100 // _AQP_PCT} AS DOUBLE) / 100.0, 2) AS est_total_value
FROM s GROUP BY event_type
"""


@register("events_sample_estimate", oracle=_AQP_ORACLE,
          description="AQP: deterministic 10% md5 sample scaled to population "
                      "estimates (error bound vs truth asserted in pytest)")
def events_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing on a deterministic sample: rows
    whose md5(event_id) lands in the first 10% of hash space are the
    sample (reproducible across engines and reruns — no RNG), and
    count/sum estimates scale by 1/rate. The 100 TB shape: the sample
    gate is a pushable scan filter, so a dashboard estimate reads ~10%
    of the data; the same hash gate at a finer grain is how
    progressive/online aggregation refines. Accuracy (±10% on these
    uniform-ish aggregates) is bounded against the exact answer in
    tests/test_plans.py — the driver compares exactness of the
    ESTIMATES themselves, which are deterministic.
    """
    t = load_tables(spark, sf_dir)
    gate = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("aqp-seed-1:"), F.col("event_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 100
        < _AQP_PCT
    )
    scale = 100 // _AQP_PCT
    return (
        t["events"]
        .where(gate)
        .select("event_type", F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            (F.count(F.lit(1)) * scale).cast("long").alias("est_total_rows"),
            F.round((F.sum("cents") * scale).cast("double") / 100.0, 2)
            .alias("est_total_value"),
        )
    )


_SEASONAL_ORACLE = """
WITH base AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, hod,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST((100 * SUM(cents)) // COUNT(*) AS DOUBLE) / 10000.0 AS mean_value,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents
FROM base GROUP BY event_type, hod
"""
# mean at 1e-4 precision via integer division — round() of the double
# quotient sat exactly on a half-boundary at sf0.001 and the engines
# rounded it apart; truncated integer arithmetic cannot diverge.


@register("events_seasonal_baseline", oracle=_SEASONAL_ORACLE,
          description="hour-of-day seasonal baseline per event type (the "
                      "deseasonalization table for anomaly scoring)")
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality extraction: per (event_type, hour-of-day) volume and
    mean value — the baseline an anomaly detector subtracts before
    z-scoring (pairs with events_anomaly_zscore, which works on the
    raw series; deseasonalized scoring joins THIS parameter-sized
    table back, broadcast). One map-side-combined aggregate;
    means via exact integer cent sums, fixed division order.
    """
    t = load_tables(spark, sf_dir)
    base = t["events"].select(
        "event_type", F.hour("ts").cast("int").alias("hod"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return base.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        (F.expr("(100 * sum(cents)) DIV count(1)").cast("double") / 10000.0)
        .alias("mean_value"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# periodicity detection: autocorrelation of the dense hourly series
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 12, 24)

_ACF_ORACLE = f"""
WITH bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
actual AS (
  SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
dense AS (
  SELECT g.hour, COALESCE(a.n, 0) AS n FROM grid g LEFT JOIN actual a ON g.hour = a.hour
),
lagged AS (
  SELECT hour, n,
         {", ".join(f"lag(n, {k}) OVER (ORDER BY hour) AS l{k}" for k in _ACF_LAGS)}
  FROM dense
)
{" UNION ALL ".join(f'''
SELECT CAST({k} AS INT) AS lag_hours,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round((CAST(COUNT(*) AS DOUBLE) * SUM(n * l{k}) - CAST(SUM(n) AS DOUBLE) * SUM(l{k}))
             / sqrt(greatest(CAST(COUNT(*) AS DOUBLE) * SUM(n * n) - CAST(SUM(n) AS DOUBLE) * SUM(n), 1)
                    * greatest(CAST(COUNT(*) AS DOUBLE) * SUM(l{k} * l{k}) - CAST(SUM(l{k}) AS DOUBLE) * SUM(l{k}), 1)), 6)
         AS acf
FROM lagged WHERE l{k} IS NOT NULL''' for k in _ACF_LAGS)}
"""


@register("events_autocorrelation", oracle=_ACF_ORACLE,
          description="periodicity detection: hourly-series autocorrelation at lags 1/12/24")
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the purchase series repeat daily? Pearson autocorrelation
    of the dense gap-filled hourly counts at lags 1, 12, and 24 hours —
    a strong lag-24 ACF is the quantitative trigger for the
    deseasonalization the hour-of-day baseline applies. All moments
    (Σn, Σn², Σn·n₋ₖ) are exact integer sums over the GRID (hours per
    year, not events), so the series windows run on a tiny relation and
    the only doubles are the final normalized quotients
    (events_anomaly_zscore arithmetic).
    """
    from pyspark.sql.window import Window

    dense = events_hourly_gapfill(spark, sf_dir)
    w = Window.orderBy("hour")
    lagged = dense.select(
        "n", *[F.lag("n", k).over(w).alias(f"l{k}") for k in _ACF_LAGS]
    )
    outs = []
    for k in _ACF_LAGS:
        lk = F.col(f"l{k}")
        pairs = lagged.where(lk.isNotNull())
        cnt = F.count("*").cast("long")
        mom = pairs.agg(
            F.lit(k).cast("int").alias("lag_hours"),
            cnt.alias("n_pairs"),
            F.sum("n").cast("long").alias("sx"),
            F.sum(lk).cast("long").alias("sy"),
            F.sum(F.col("n") * lk).cast("long").alias("sxy"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("sxx"),
            F.sum(lk * lk).cast("long").alias("syy"),
        )
        np_ = F.col("n_pairs").cast("double")
        num = np_ * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
        dx = F.greatest(np_ * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"), F.lit(1.0))
        dy = F.greatest(np_ * F.col("syy") - F.col("sy").cast("double") * F.col("sy"), F.lit(1.0))
        outs.append(
            mom.select(
                "lag_hours", "n_pairs",
                F.round(num / F.sqrt(dx * dy), 6).alias("acf"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# heavy hitters: exact top-k users by event volume (the Count-Min
# estimate is `events_cms_heavy_hitters`)
# ---------------------------------------------------------------------------

_HH_TOPK = 20

_HH_ORACLE = f"""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM u)
SELECT u.user_id, u.n,
       CAST((10000 * u.n) // tot.t AS BIGINT) AS share_bp
FROM u CROSS JOIN tot
ORDER BY u.n DESC, u.user_id ASC
LIMIT {_HH_TOPK}
"""


@register("events_heavy_hitters_exact", oracle=_HH_ORACLE,
          description="exact top-k heavy hitters by event volume with "
                      "traffic share (hot-key detection)")
def events_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key detector: which users dominate event volume, and by
    what share of total traffic — the input to frequency capping, skew
    salting decisions, and abuse triage.

    One map-side-combined hash aggregate to |users| rows, a 1-row total
    broadcast (whitelisted scalar), TakeOrdered(k). At 100 TB the
    aggregate is the only corpus-sized work.
    """
    t = load_tables(spark, sf_dir)
    u = t["events"].groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = u.agg(F.sum("n").cast("long").alias("t"))
    return (
        u.crossJoin(F.broadcast(tot))
        .select(
            "user_id", "n",
            F.expr("CAST((10000 * n) div t AS BIGINT)").alias("share_bp"),
        )
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(_HH_TOPK)
    )


# ---------------------------------------------------------------------------
# key-skew profile: the partitioning diagnostic (Gini + tail percentiles)
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
r AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n ASC, user_id ASC) AS rk FROM u
),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM r),
s AS (
  SELECT kk.k,
         CAST(SUM(n) AS BIGINT) AS s0,
         CAST(SUM(rk * n) AS BIGINT) AS s1,
         CAST(MAX(n) AS BIGINT) AS mx,
         CAST(MIN(CASE WHEN rk = (kk.k + 1) // 2 THEN n END) AS BIGINT) AS p50_n,
         CAST(MIN(CASE WHEN rk = (99 * (kk.k + 1)) // 100 THEN n END) AS BIGINT) AS p99_n
  FROM r, kk GROUP BY kk.k
)
SELECT k AS n_keys, s0 AS total_events, mx AS max_n,
       CAST(10000 * mx // s0 AS BIGINT) AS top1_share_bp,
       p50_n, p99_n,
       CAST((2 * s1 - (k + 1) * s0) * 10000 // (k * s0) AS BIGINT) AS gini_bp
FROM s
"""


@register("events_key_skew_profile", oracle=_SKEW_ORACLE, bench=True,
          description="shuffle-key skew diagnostic: per-key volume Gini, "
                      "rank-exact p50/p99 key sizes, top-1 traffic share")
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision input for every salting / AQE-skew-join call this
    engine makes: how unequal is the user_id key distribution? Gini
    coefficient over per-key counts (0 = uniform, →10000 bp = one hot
    key), plus the rank-exact p50/p99 key sizes and top-1 share that
    size partition budgets.

    The per-key aggregate is the only fact-sized work. The Gini needs
    every key's global rank — fact-CARDINALITY input is exactly what
    VERDICT r4 banned from bare global windows, so the |keys|-sized
    count relation goes through distributed_rank (range partition +
    local row_number + broadcast offsets; total rides along), and the
    moments (Σn, Σrk·n, max, rank-picked percentiles) reduce in ONE
    conditional aggregation over the persisted ranked relation.
    Gini = (2·Σrk·n − (k+1)·Σn) / (k·Σn), floored bp — the sorted
    rank identity, nonnegative dividend, so DIV and // agree. NULL
    keys are excluded by contract (they are load errors, not a key).
    """
    from ..operators.windows import distributed_rank

    t = load_tables(spark, sf_dir)
    u = (
        t["events"].where(F.col("user_id").isNotNull())
        .groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ranked = distributed_rank(
        u, [F.col("n").asc(), F.col("user_id").asc()],
        rank_name="rk", total_name="k",
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("total_events"),
        F.sum(F.col("rk") * F.col("n")).cast("long").alias("s1"),
        F.max("n").cast("long").alias("max_n"),
        F.min(F.when(F.col("rk") == F.expr("(k + 1) div 2"), F.col("n")))
        .cast("long").alias("p50_n"),
        F.min(F.when(F.col("rk") == F.expr("(99 * (k + 1)) div 100"), F.col("n")))
        .cast("long").alias("p99_n"),
    )
    return s.select(
        "n_keys", "total_events", "max_n",
        F.expr("10000 * max_n div total_events").cast("long").alias("top1_share_bp"),
        "p50_n", "p99_n",
        F.expr(
            "(2 * s1 - (n_keys + 1) * total_events) * 10000"
            " div (n_keys * total_events)"
        ).cast("long").alias("gini_bp"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(MAX(CAST(ts AS DATE)) AS DATE) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)), 0) AS BIGINT) AS monetary_cents
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
anchor AS (SELECT MAX(last_day) AS d0 FROM u),
m AS (
  SELECT u.user_id,
         CAST(date_diff('day', u.last_day, anchor.d0) AS BIGINT) AS recency_days,
         u.freq, u.monetary_cents
  FROM u, anchor
),
scored AS (
  SELECT user_id, freq, monetary_cents,
         CAST(NTILE(4) OVER (ORDER BY recency_days DESC, user_id ASC) AS BIGINT) AS r_score,
         CAST(NTILE(4) OVER (ORDER BY freq ASC, user_id ASC) AS BIGINT) AS f_score,
         CAST(NTILE(4) OVER (ORDER BY monetary_cents ASC, user_id ASC) AS BIGINT) AS m_score
  FROM m
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(freq) AS BIGINT) AS total_events,
       CAST(SUM(monetary_cents) AS BIGINT) AS total_monetary_cents
FROM scored GROUP BY r_score, f_score, m_score
"""


@register("events_rfm_segments", oracle=_RFM_ORACLE,
          description="RFM segmentation: recency/frequency/monetary quartile "
                      "scores per user (4 = best), segment census")
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic CRM segmentation: score every user 1-4 on Recency,
    Frequency, and Monetary value (4 = best — most recent, most
    frequent, highest spend), then count the 64 (r, f, m) cells;
    'champions' are (4,4,4), churn risk is high-M low-R.

    Each quartile score is a GLOBAL ntile over user-cardinality input
    — the banned bare-window shape — so all three ride
    :func:`operators.windows.distributed_ntile` (range partition +
    offset arithmetic; the events_decile_lift contract), joined back
    by user id. Monetary uses the engine's cents convention (BIGINT,
    order-free sums); recency is whole days against the corpus
    max-activity date (one 1-row broadcast). Production note: when
    approximate quartiles suffice, the three rank passes collapse to
    one scan with GK-sketch boundaries — same routing note as the
    percentile family (events_winsorized_stats).
    """
    from ..operators.windows import distributed_ntile

    t = load_tables(spark, sf_dir)
    u = (
        t["events"].where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.coalesce(
                F.sum(F.round(F.col("value") * 100, 0).cast("long")), F.lit(0)
            ).cast("long").alias("monetary_cents"),
        )
    )
    anchor = u.agg(F.max("last_day").alias("d0"))
    m = u.crossJoin(F.broadcast(anchor)).select(
        "user_id", "freq", "monetary_cents",
        F.datediff(F.col("d0"), F.col("last_day")).cast("long").alias("recency_days"),
    )
    r = distributed_ntile(
        m.select("user_id", "recency_days"),
        [F.col("recency_days").desc(), F.col("user_id").asc()], 4, tile_name="r_score",
    ).select("user_id", F.col("r_score").cast("long").alias("r_score"))
    f_ = distributed_ntile(
        m.select("user_id", "freq"),
        [F.col("freq").asc(), F.col("user_id").asc()], 4, tile_name="f_score",
    ).select("user_id", F.col("f_score").cast("long").alias("f_score"))
    mo = distributed_ntile(
        m.select("user_id", "monetary_cents"),
        [F.col("monetary_cents").asc(), F.col("user_id").asc()], 4, tile_name="m_score",
    ).select("user_id", F.col("m_score").cast("long").alias("m_score"))
    scored = (
        m.select("user_id", "freq", "monetary_cents")
        .join(r, "user_id").join(f_, "user_id").join(mo, "user_id")
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("freq").cast("long").alias("total_events"),
        F.sum("monetary_cents").cast("long").alias("total_monetary_cents"),
    )


# ---------------------------------------------------------------------------
# velocity rule: K events inside M minutes (fraud / abuse burst detection)
# ---------------------------------------------------------------------------

_VEL_K = 3             # K events ...
_VEL_WINDOW_S = 21600  # ... within 6 hours (tuned to testdata density)

_VELOCITY_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id
  FROM events WHERE user_id IS NOT NULL
),
lagged AS (
  SELECT user_id, us,
         LAG(us, {_VEL_K - 1}) OVER (PARTITION BY user_id
                                     ORDER BY us ASC, event_id ASC) AS us_back
  FROM e
),
flags AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN us - us_back <= {_VEL_WINDOW_S * 1_000_000}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts
  FROM lagged GROUP BY user_id
)
SELECT user_id, n_events, n_bursts
FROM flags WHERE n_bursts >= 1
"""


@register("events_velocity_rule", oracle=_VELOCITY_ORACLE,
          description="fraud-style velocity rule: users firing K=3 events "
                      "inside any 6-hour span (lag-K sliding check)")
def events_velocity_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical real-time risk rule evaluated in batch: a user
    emitting K events within M minutes is bursting (card testing,
    scraping, bot traffic). An event is a burst POINT when the
    (K-1)-back event of the same user is within the window — the
    O(1)-state lag formulation of "K in any sliding M", no
    interval self-join, no explode.

    One shuffle on user_id; the lag window is partitioned (never
    global) and ordered by exact epoch MICROSECONDS (unix_micros /
    epoch_us — integer on both engines; second-truncating casts would
    disagree on sub-second data) with event_id tiebreak. The per-user
    aggregate rides the same partitioning — Catalyst reuses the
    exchange. This is also the batch twin of what
    stream_windowed_key_counts + a threshold approximates per window
    in streaming; the lag form is exact over ANY span, not
    window-aligned.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    e = (
        t["events"].where(F.col("user_id").isNotNull())
        .select(
            "user_id", F.unix_micros(F.col("ts")).alias("us"), "event_id"
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    lagged = e.withColumn("us_back", F.lag("us", _VEL_K - 1).over(w))
    flags = lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("us") - F.col("us_back") <= _VEL_WINDOW_S * 1_000_000, 1
            ).otherwise(0)
        ).cast("long").alias("n_bursts"),
    )
    return flags.where(F.col("n_bursts") >= 1)


# ---------------------------------------------------------------------------
# multi-touch attribution (linear credit within a lookback window)
# ---------------------------------------------------------------------------

_MTA_WINDOW_HOURS = 72
_MTA_TOUCH_TYPES = ("click", "view", "signup")

_MTA_ORACLE = f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts FROM events
  WHERE event_type = 'purchase' AND event_id IS NOT NULL
),
tch AS (
  SELECT event_id AS touch_id, user_id, ts, event_type
  FROM events WHERE event_type IN {_MTA_TOUCH_TYPES} AND event_id IS NOT NULL
),
p AS (
  SELECT c.conv_id, t.touch_id, t.event_type, t.ts
  FROM conv c LEFT JOIN tch t
    ON t.user_id = c.user_id
   AND t.ts <= c.ts
   AND t.ts > c.ts - INTERVAL {_MTA_WINDOW_HOURS} HOUR
),
r AS (
  SELECT conv_id, touch_id, event_type,
         CAST(COUNT(touch_id) OVER (PARTITION BY conv_id) AS BIGINT) AS n,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts ASC, touch_id ASC)
           AS BIGINT) AS rnk
  FROM p
),
cr AS (
  SELECT conv_id, COALESCE(event_type, 'unattributed') AS touch_type, touch_id,
         CASE WHEN n = 0 THEN 10000
              ELSE 10000 // n + CASE WHEN rnk <= 10000 % n THEN 1 ELSE 0 END
         END AS credit_bp
  FROM r
)
SELECT touch_type,
       CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(SUM(credit_bp) AS BIGINT) AS total_credit_bp
FROM cr GROUP BY touch_type
"""


@register("events_multitouch_attribution", oracle=_MTA_ORACLE,
          description="linear multi-touch attribution: per-conversion credit "
                      "split across lookback-window touches, exact bp")
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-analytics attribution beyond last-click (the as-of
    join's richer sibling): every purchase distributes exactly
    10000 bp of credit linearly across the user's click/view/signup
    touches inside a 72 h lookback; conversions with no touch in the
    window credit an explicit 'unattributed' bucket, so the report
    always accounts for 10000 x n_conversions — an invariant the tests
    pin. Floored equal shares would leak the remainder, so the first
    (10000 mod n) touches by (ts, id) order carry one extra bp —
    deterministic on both engines, no doubles anywhere.

    Shape at 100 TB: conversions LEFT-join touches on user_id (equi
    key — shuffle hash/SMJ, never a nested loop; the interval bound is
    a post-join predicate) with per-user amplification bounded by a
    user's touch count inside 72 h; per-conversion count/rank windows
    partition on conv_id — billions of tiny groups, no single-task
    sort; one |touch types|-sized final aggregate. Whale users are the
    skew risk — the salting pattern of skew_salted_user_join applies
    unchanged if one user owns millions of touches. 16x probe note:
    the probe multiplies events under a FIXED user domain, so pair
    rows grow ~256x (77k -> 19.6M measured) while wall time grew 6.8x
    (0.92 -> 6.28 s) — cost tracks join OUTPUT, which is linear when
    users scale with the corpus.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    # event_id NOT NULL on both sides (mirrored in the oracle): a
    # conversion without an id cannot partition the credit windows and
    # a touch without one cannot be ranked or counted — a NULL touch_id
    # would rank NULLS FIRST on Spark / NULLS LAST on DuckDB AND leak
    # credit (n counts non-NULL ids, every joined row gets a share)
    conv = ev.where(
        (F.col("event_type") == "purchase") & F.col("event_id").isNotNull()
    ).select(
        F.col("event_id").alias("conv_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    tch = ev.where(
        F.col("event_type").isin(*_MTA_TOUCH_TYPES) & F.col("event_id").isNotNull()
    ).select(
        F.col("event_id").alias("touch_id"), F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type"),
    )
    p = conv.join(
        tch,
        (F.col("t_user") == F.col("c_user"))
        & (F.col("t_ts") <= F.col("c_ts"))
        & (F.col("t_ts") > F.col("c_ts") - F.expr(f"INTERVAL {_MTA_WINDOW_HOURS} HOURS")),
        "left",
    )
    from pyspark.sql.window import Window as W

    w_cnt = W.partitionBy("conv_id")
    w_rnk = W.partitionBy("conv_id").orderBy(
        F.col("t_ts").asc(), F.col("touch_id").asc()
    )
    r = p.select(
        "conv_id", "touch_id", "t_type",
        F.count("touch_id").over(w_cnt).cast("long").alias("n"),
        F.row_number().over(w_rnk).cast("long").alias("rnk"),
    )
    cr = r.select(
        "conv_id", "touch_id",
        F.coalesce(F.col("t_type"), F.lit("unattributed")).alias("touch_type"),
        F.when(F.col("n") == 0, 10000)
        .otherwise(
            F.expr("10000 DIV n") + F.when(F.col("rnk") <= F.expr("10000 % n"), 1).otherwise(0)
        )
        .cast("long")
        .alias("credit_bp"),
    )
    return cr.groupBy("touch_type").agg(
        F.count("touch_id").cast("long").alias("n_touches"),
        F.countDistinct("conv_id").cast("long").alias("n_conversions"),
        F.sum("credit_bp").cast("long").alias("total_credit_bp"),
    )


# ---------------------------------------------------------------------------
# time-decay attribution (half-life credit, exact integer weights)
# ---------------------------------------------------------------------------

_TDA_ORACLE = f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts FROM events
  WHERE event_type = 'purchase' AND event_id IS NOT NULL
),
tch AS (
  SELECT event_id AS touch_id, user_id, ts, event_type
  FROM events WHERE event_type IN {_MTA_TOUCH_TYPES} AND event_id IS NOT NULL
),
p AS (
  SELECT c.conv_id, t.touch_id, t.event_type,
         CASE WHEN t.touch_id IS NULL THEN NULL
              ELSE CAST((epoch_us(c.ts) - epoch_us(t.ts)) // 86400000000 AS BIGINT)
         END AS age_days,
         t.ts
  FROM conv c LEFT JOIN tch t
    ON t.user_id = c.user_id
   AND t.ts <= c.ts
   AND t.ts > c.ts - INTERVAL {_MTA_WINDOW_HOURS} HOUR
),
w AS (
  SELECT conv_id, touch_id, event_type, age_days,
         CASE WHEN touch_id IS NULL THEN 0 ELSE 4 // (1 << age_days) END AS wt,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
                ORDER BY age_days ASC NULLS LAST, ts DESC, touch_id ASC) AS BIGINT) AS rnk
  FROM p
),
s AS (
  SELECT *, CAST(SUM(wt) OVER (PARTITION BY conv_id) AS BIGINT) AS w_total FROM w
),
base AS (
  SELECT *, CASE WHEN w_total = 0 THEN 0
                 ELSE (10000 * wt) // w_total END AS floor_bp
  FROM s
),
fin AS (
  SELECT conv_id, touch_id,
         COALESCE(event_type, 'unattributed') AS touch_type,
         CASE WHEN w_total = 0 THEN 10000
              ELSE floor_bp
                 + CASE WHEN rnk <= 10000 - SUM(floor_bp) OVER (PARTITION BY conv_id)
                        THEN 1 ELSE 0 END
         END AS credit_bp
  FROM base
)
SELECT touch_type,
       CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(SUM(credit_bp) AS BIGINT) AS total_credit_bp
FROM fin GROUP BY touch_type
"""


@register("events_timedecay_attribution", oracle=_TDA_ORACLE,
          description="time-decay attribution: halving credit per day of "
                      "touch age, exact integer weights and bp conservation")
def events_timedecay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution family's recency-weighted member (last-click =
    events_asof_last_click, linear = events_multitouch_attribution):
    a touch's weight HALVES for every full day between it and the
    conversion — with the 72 h lookback the ages are 0/1/2 days, so the
    weights are the exact integers 4/2/1 (no pow(), no doubles).
    Credit is (10000 * w) DIV W floored, and the floor loss (at most
    |touches|-1 bp) tops up the most-recent touches first — every
    conversion still distributes exactly 10000 bp, unattributed bucket
    included; the conservation test covers both attribution models.

    Shape: identical to the linear model — user-keyed equi join,
    per-conversion windows (count/rank/two sums, all on conv_id's tiny
    groups), one |touch types|-sized aggregate. Age arithmetic is
    integer microseconds (unix_micros / epoch_us), floor-dividing
    non-negative dividends — exact on both engines.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    conv = ev.where(
        (F.col("event_type") == "purchase") & F.col("event_id").isNotNull()
    ).select(
        F.col("event_id").alias("conv_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    tch = ev.where(
        F.col("event_type").isin(*_MTA_TOUCH_TYPES) & F.col("event_id").isNotNull()
    ).select(
        F.col("event_id").alias("touch_id"), F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"), F.col("event_type").alias("t_type"),
    )
    p = conv.join(
        tch,
        (F.col("t_user") == F.col("c_user"))
        & (F.col("t_ts") <= F.col("c_ts"))
        & (F.col("t_ts") > F.col("c_ts") - F.expr(f"INTERVAL {_MTA_WINDOW_HOURS} HOURS")),
        "left",
    ).select(
        "conv_id", "touch_id", "t_type", "t_ts",
        F.when(
            F.col("touch_id").isNotNull(),
            F.expr("CAST((unix_micros(c_ts) - unix_micros(t_ts)) DIV 86400000000 AS BIGINT)"),
        ).alias("age_days"),
    )
    from pyspark.sql.window import Window as W

    # most-recent-first top-up: youngest age, then LATEST timestamp
    # within a same-age day (t_ts DESC — ADVICE r7 caught the ASC
    # order contradicting the documented semantics), id tiebreak.
    w_rnk = W.partitionBy("conv_id").orderBy(
        F.col("age_days").asc_nulls_last(), F.col("t_ts").desc(), F.col("touch_id").asc()
    )
    w_conv = W.partitionBy("conv_id")
    wdf = p.select(
        "conv_id", "touch_id", "t_type",
        F.when(F.col("touch_id").isNull(), 0)
        .otherwise(F.expr("4 DIV shiftleft(1, CAST(age_days AS INT))"))
        .cast("long").alias("wt"),
        F.row_number().over(w_rnk).cast("long").alias("rnk"),
    ).withColumn("w_total", F.sum("wt").over(w_conv).cast("long"))
    base = wdf.withColumn(
        "floor_bp",
        F.when(F.col("w_total") == 0, 0)
        .otherwise(F.expr("(10000 * wt) DIV w_total")).cast("long"),
    ).withColumn("floor_sum", F.sum("floor_bp").over(w_conv).cast("long"))
    fin = base.select(
        "conv_id", "touch_id",
        F.coalesce(F.col("t_type"), F.lit("unattributed")).alias("touch_type"),
        F.when(F.col("w_total") == 0, 10000)
        .otherwise(
            F.col("floor_bp")
            + F.when(F.col("rnk") <= 10000 - F.col("floor_sum"), 1).otherwise(0)
        )
        .cast("long")
        .alias("credit_bp"),
    )
    return fin.groupBy("touch_type").agg(
        F.count("touch_id").cast("long").alias("n_touches"),
        F.countDistinct("conv_id").cast("long").alias("n_conversions"),
        F.sum("credit_bp").cast("long").alias("total_credit_bp"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint: per-type peak cumulative deviation, exact integers
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH x AS (
  SELECT event_type, event_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
tot AS (
  SELECT event_type, COUNT(*) AS n, SUM(cents) AS s FROM x GROUP BY event_type
),
c AS (
  SELECT x.event_type, x.event_id, x.ts, tot.n, tot.s,
         SUM(x.cents) OVER (PARTITION BY x.event_type ORDER BY x.ts, x.event_id
                            ROWS UNBOUNDED PRECEDING) AS run,
         ROW_NUMBER() OVER (PARTITION BY x.event_type
                            ORDER BY x.ts, x.event_id) AS i
  FROM x JOIN tot ON tot.event_type = x.event_type
),
k AS (
  SELECT event_type, event_id, ts, n, abs(n * run - i * s) AS dev FROM c
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY dev DESC, ts ASC, event_id ASC) AS rn
  FROM k
)
SELECT event_type, CAST(n AS BIGINT) AS n_events, CAST(dev AS BIGINT) AS cusum_peak,
       ts AS changepoint_ts, CAST(event_id AS BIGINT) AS changepoint_event
FROM r WHERE rn = 1
"""


@register("events_cusum_changepoint", oracle=_CUSUM_ORACLE,
          description="CUSUM changepoint per event type: peak |cumulative "
                      "deviation from the mean| located exactly, all-integer")
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM changepoint locator per event type: the timestamp
    where the cumulative deviation of `value` from the type's mean
    peaks — the classic level-shift detector (the offline twin of the
    streaming drift monitors). All arithmetic is integer-exact: the
    deviation sum Σ(x_j − μ) is scaled by n to n·Σx_j − i·Σx, so no
    division ever happens and both engines agree bit-for-bit.

    Rides the NEW ``distributed_cumsum_in_groups`` operator
    (operators/windows.py) — event types are the canonical few-heavy-
    groups case, where a plain per-type window would sort each type's
    full history in one task (the windows-module policy). The operator
    shares one range-partitioned pass for BOTH the running sum and the
    per-type position (`rank_name`), and the final argmax is ONE
    max(struct) hash aggregate — deviation DESC, then earliest ts /
    lowest id via negated integer keys — never a per-type sort.

    Shape at 100 TB: one |types|-sized totals broadcast, one range
    shuffle (the prefix-sum pass), one hash aggregate. The n·run and
    i·s products cap at n_type · Σ|cents| — int64-safe to ~10^5 rows
    per type at these magnitudes; at larger scale rescale cents or
    window the detector per day, as production CUSUM does.
    """
    from ..operators.windows import distributed_cumsum_in_groups

    t = load_tables(spark, sf_dir)
    x = (
        t["events"]
        .where(F.col("value").isNotNull())
        .select(
            "event_type", "event_id", "ts",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    tot = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    c = distributed_cumsum_in_groups(
        x,
        ["event_type"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        "cents",
        cumsum_name="run",
        rank_name="i",
    ).join(F.broadcast(tot), "event_type")
    k = c.select(
        "event_type", "event_id", "ts", "n",
        F.abs(F.col("n") * F.col("run") - F.col("i") * F.col("s")).alias("dev"),
    )
    best = k.groupBy("event_type").agg(
        F.max(
            F.struct(
                F.col("dev"),
                (-F.unix_micros(F.col("ts"))).alias("__neg_us"),
                (-F.col("event_id")).alias("__neg_id"),
                F.col("ts"),
                F.col("event_id"),
                F.col("n"),
            )
        ).alias("__b")
    )
    return best.select(
        "event_type",
        F.col("__b.n").cast("long").alias("n_events"),
        F.col("__b.dev").cast("long").alias("cusum_peak"),
        F.col("__b.ts").alias("changepoint_ts"),
        F.col("__b.event_id").cast("long").alias("changepoint_event"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters: mergeable counts with an EXACT twin
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_TOPK = 10


def _cms_bucket_sql(j: str, key: str) -> str:
    # identical md5 arithmetic on both engines (the simhash idiom)
    return (f"(CAST('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' ||"
            f" CAST({key} AS VARCHAR)), 1, 8) AS BIGINT) % {_CMS_WIDTH})")


_CMS_ORACLE = f"""
WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
dj AS (SELECT unnest(range(0, {_CMS_DEPTH})) AS j),
cms AS (
  SELECT j, {_cms_bucket_sql('j', 'user_id')} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ev, dj GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM ev GROUP BY user_id
  ORDER BY exact_n DESC, user_id ASC LIMIT {_CMS_TOPK}
),
est AS (
  -- explicit CROSS JOIN chain with the bucket predicate in WHERE:
  -- standard SQL (the earlier comma-join + lateral e.user_id ref in
  -- the JOIN ON leaned on DuckDB-specific scoping — ADVICE r8)
  SELECT e.user_id, e.exact_n, MIN(cms.c) AS cms_n
  FROM exact e CROSS JOIN dj JOIN cms ON cms.j = dj.j
  WHERE cms.bucket = {_cms_bucket_sql('dj.j', 'e.user_id')}
  GROUP BY e.user_id, e.exact_n
)
SELECT user_id, exact_n, CAST(cms_n AS BIGINT) AS cms_n,
       CAST(cms_n - exact_n AS BIGINT) AS overcount_n
FROM est
"""


@register("events_cms_heavy_hitters", oracle=_CMS_ORACLE,
          description="Count-Min sketch traffic estimates vs exact counts "
                      "for the top-k users — a fully oracle-checkable sketch")
def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
    readout with its error measured against the exact counts — unlike
    the HLL family (rows-only by design: register layouts differ), CMS
    is plain integer arithmetic over md5-derived buckets, so BOTH
    engines build the identical sketch and the driver hash-checks it
    end-to-end. The invariant CMS guarantees — estimate ≥ true count,
    overcount bounded by the other keys colliding into the same
    d×w cells — lands in the `overcount_n` column.

    Shape at 100 TB: the sketch is ONE fact pass (a 4-way posexplode →
    hash aggregate onto d·w = 1024 cells — mergeable across partitions
    and across time windows, which is the point of CMS); the exact side
    is a user-keyed aggregate + global top-k (TakeOrderedAndProject,
    never a full sort); estimates come from broadcasting the 1024-cell
    sketch onto the k candidate rows. The sketch size is a PARAMETER,
    independent of user cardinality — the same 1024 cells summarize
    10^9 users.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].where(F.col("user_id").isNotNull()).select("user_id")

    def bucket(j_col: str, key_col: str) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col(j_col).cast("string"),
                                      F.col(key_col).cast("string"))), 1, 8),
                16, 10,
            ).cast("long") % _CMS_WIDTH
        )

    cells = (
        ev.select(
            "user_id",
            F.explode(F.array(*[F.lit(j) for j in range(_CMS_DEPTH)])).alias("j"),
        )
        .select("j", bucket("j", "user_id").alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id").asc())
        .limit(_CMS_TOPK)
    )
    probes = exact.select(
        "user_id", "exact_n",
        F.explode(F.array(*[F.lit(j) for j in range(_CMS_DEPTH)])).alias("j"),
    ).select("user_id", "exact_n", "j", bucket("j", "user_id").alias("bucket"))
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").cast("long").alias("cms_n"))
    )
    return est.select(
        "user_id", "exact_n", "cms_n",
        (F.col("cms_n") - F.col("exact_n")).cast("long").alias("overcount_n"),
    )


# ---------------------------------------------------------------------------
# portable HLL: md5-derived registers, oracle-checkable on both engines
# ---------------------------------------------------------------------------

_PHLL_M = 64          # buckets (6 bucket bits of the 32-bit md5 prefix)
_PHLL_RHO_SCALE = 30  # harmonic sum as integers: sum(2^(SCALE - rho_j))
_PHLL_NUMER = int("%.0f" % (0.709 * _PHLL_M * _PHLL_M * 2 ** _PHLL_RHO_SCALE))

# DuckDB-side rho: lowest-set-bit index of the non-bucket hash bits
# (bit_count(x XOR (x-1)) — the same geometric(1/2) statistic as the
# classic leading-zero count), 1 when the remainder is 0.
_PHLL_RHO_SQL = (
    f"CASE WHEN h // {_PHLL_M} = 0 THEN 1"
    f" ELSE bit_count(xor(h // {_PHLL_M}, h // {_PHLL_M} - 1)) END"
)


def _phll_est_sql(reg: str, out: str) -> str:
    """Estimate CTE body: register relation ``reg`` (event_type, rho
    rows) → per-type integer HLL estimate named ``out`` (+ nonzero).
    Shared by events_hll_portable and events_sketch_rollup_merge so the
    two oracles cannot drift."""
    return f"""
  SELECT event_type, nonzero,
         CASE WHEN raw <= {int(2.5 * _PHLL_M)} AND nonzero < {_PHLL_M}
              THEN ({_PHLL_M} * CAST(floor(1000000 * ln({_PHLL_M}.0 / ({_PHLL_M} - nonzero))) AS BIGINT)) // 1000000
              ELSE raw END AS {out}
  FROM (
    SELECT event_type, nonzero, CAST({_PHLL_NUMER} AS BIGINT) // s AS raw
    FROM (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << ({_PHLL_RHO_SCALE} - rho)) AS BIGINT)
               + CAST(({_PHLL_M} - COUNT(*)) AS BIGINT) * (CAST(1 AS BIGINT) << {_PHLL_RHO_SCALE})
               AS s,
             CAST(COUNT(*) AS BIGINT) AS nonzero
      FROM {reg} GROUP BY event_type
    ) raw_s
  ) raw_e
"""


def _phll_hash_col() -> "F.Column":
    """32-bit md5-prefix hash of user_id — identical on both engines."""
    return (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
    )


def _phll_rho_col() -> "F.Column":
    h2 = F.expr(f"h div {_PHLL_M}")
    return (
        F.when(h2 == 0, F.lit(1))
        .otherwise(F.bit_count(h2.bitwiseXOR(h2 - 1)))
        .alias("rho")
    )


def _phll_estimate(reg: DataFrame, out: str) -> DataFrame:
    """(event_type, rho) register rows → per-type integer HLL estimate
    column ``out`` + nonzero — the Spark twin of _phll_est_sql."""
    hs = reg.groupBy("event_type").agg(
        (
            F.sum(F.expr(f"CAST(1 AS BIGINT) << ({_PHLL_RHO_SCALE} - rho)"))
            + (F.lit(_PHLL_M) - F.count(F.lit(1))).cast("long")
            * F.lit(2 ** _PHLL_RHO_SCALE).cast("long")
        ).cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("nonzero"),
    )
    return hs.withColumn(
        "raw", F.expr(f"CAST({_PHLL_NUMER} AS BIGINT) div s")
    ).withColumn(
        out,
        F.expr(
            f"CASE WHEN raw <= {int(2.5 * _PHLL_M)} AND nonzero < {_PHLL_M}"
            f" THEN ({_PHLL_M} * CAST(floor(1000000 * ln({_PHLL_M}.0 / ({_PHLL_M} - nonzero))) AS BIGINT)) div 1000000"
            " ELSE raw END"
        ).cast("long"),
    ).select("event_type", out, "nonzero")


# Estimate arithmetic lives in _phll_est_sql (shared with the rollup
# -merge oracle below): small-range (linear counting) correction
# exactly as published — when raw <= 2.5m and empty buckets exist,
# est = m * ln(m / V); ln runs once on identical doubles built from
# identical integers, floored at 1e6 scale (the scaled-ln convention).
_PHLL_ORACLE = f"""
WITH ev AS (
  SELECT event_type, user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
reg AS (
  SELECT event_type, h % {_PHLL_M} AS bucket, MAX({_PHLL_RHO_SQL}) AS rho
  FROM ev GROUP BY 1, 2
),
fin AS ({_phll_est_sql('reg', 'hll_users')}),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY event_type
)
SELECT fin.event_type, CAST(fin.hll_users AS BIGINT) AS hll_users,
       fin.nonzero, ex.exact_users,
       CAST(abs(fin.hll_users - ex.exact_users) * 10000 // ex.exact_users AS BIGINT) AS err_bp
FROM fin JOIN ex ON ex.event_type = fin.event_type
"""


@register("events_hll_portable", oracle=_PHLL_ORACLE,
          description="portable HyperLogLog: md5-derived registers and an "
                      "all-integer estimate, hash-checked against DuckDB")
def events_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog (Flajolet et al. 2007) built PORTABLY: both engines
    derive the same 32-bit hash from md5(user_id), split it into 6
    bucket bits + a geometric statistic rho (index of the lowest set
    bit of the remaining bits — bit_count(h XOR (h-1)), the same
    geometric(1/2) variable as the classic leading-zero count), and
    keep max-rho registers per (event_type, bucket). The harmonic mean
    is evaluated in EXACT integer arithmetic — Σ 2^(SCALE−rho) with
    empty buckets contributing 2^SCALE — so, unlike the engine-native
    sketch family (events_sketch_* — rows-only BY DESIGN: Spark's HLL++
    registers have no DuckDB twin), this one's registers AND estimate
    are value-hash-checked end-to-end. err_bp carries the measured
    estimation error against the exact per-type distinct count.

    Shape at 100 TB: registers are ONE fact-pass hash aggregate onto
    |types| × 64 cells — mergeable across partitions, files, and days
    (max of maxes), which is the whole point of HLL rollups; the
    estimate is arithmetic on the parameter-sized register table. The
    exact twin costs a user-keyed distinct only at verify scale.
    """
    t = load_tables(spark, sf_dir)
    ev = (
        t["events"]
        .where(F.col("user_id").isNotNull())
        .select("event_type", "user_id", _phll_hash_col().alias("h"))
    )
    reg = (
        ev.select(
            "event_type", (F.col("h") % _PHLL_M).alias("bucket"), _phll_rho_col()
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    # register → integer estimate (linear-counting small-range branch
    # included) — shared helper, see _phll_estimate/_phll_est_sql
    fin = _phll_estimate(reg, "hll_users")
    return fin.join(ex, "event_type").select(
        "event_type", "hll_users", "nonzero", "exact_users",
        F.expr(
            "CAST(abs(hll_users - exact_users) * 10000 div exact_users AS BIGINT)"
        ).alias("err_bp"),
    )


# ---------------------------------------------------------------------------
# portable two-level sketch rollup: stored daily registers -> merged total
# ---------------------------------------------------------------------------

_ROLLUP_MERGE_ORACLE = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, event_type, user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
daily AS (
  SELECT day, event_type, h % {_PHLL_M} AS bucket, MAX({_PHLL_RHO_SQL}) AS rho
  FROM ev GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, bucket, MAX(rho) AS rho FROM daily GROUP BY 1, 2
),
single AS (
  SELECT event_type, h % {_PHLL_M} AS bucket, MAX({_PHLL_RHO_SQL}) AS rho
  FROM ev GROUP BY 1, 2
),
m_est AS ({_phll_est_sql('merged', 'merged_users')}),
s_est AS ({_phll_est_sql('single', 'single_pass_users')}),
nd AS (
  SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY event_type
)
SELECT m_est.event_type, nd.n_days,
       CAST(m_est.merged_users AS BIGINT) AS merged_users,
       CAST(s_est.single_pass_users AS BIGINT) AS single_pass_users,
       CAST(m_est.merged_users = s_est.single_pass_users AS BIGINT) AS merge_exact,
       ex.exact_users,
       CAST(abs(m_est.merged_users - ex.exact_users) * 10000 // ex.exact_users AS BIGINT)
         AS err_bp
FROM m_est
JOIN s_est ON s_est.event_type = m_est.event_type
JOIN nd ON nd.event_type = m_est.event_type
JOIN ex ON ex.event_type = m_est.event_type
"""


@register("events_sketch_rollup_merge", oracle=_ROLLUP_MERGE_ORACLE,
          description="two-level PORTABLE HLL rollup: stored daily md5 "
                      "registers merged into per-type totals without "
                      "re-reading raw events, merge==single-pass exactness "
                      "in the hash-checked output")
def events_sketch_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-PERSISTENCE pattern events_sketch_profile stops short
    of: materialize a (day, event_type) → HLL register table (what a
    daily job would store — m=64 max-rho cells per day×type), then
    answer the per-type all-time distinct-users question by MERGING the
    stored registers (max of maxes), never touching raw events again.
    The output carries BOTH the merged estimate and a direct
    single-pass estimate plus their equality flag, so the property that
    makes stored sketches trustworthy — union-of-registers is exact —
    is itself value-hash-checked against DuckDB, not just pytest
    -asserted (VERDICT r8 item 2: the events_hll_portable md5-register
    technique retires this row from rows-only; the engine-native
    Datasketches form of the same rollup remains exercised in
    tests/test_plans.py::test_sketch_rollup_merge_exact_vs_single_pass).

    Shape at 100 TB: the daily register build is one fact pass, map
    -side combined onto |days|×|types|×64 cells (the raw scan a real
    deployment pays once per day, over that day's partition); every
    later rollup — weekly/monthly/all-time, any grouping coarser than
    stored — is an aggregate over the register table, kilobytes per
    cell.
    """
    t = load_tables(spark, sf_dir)
    ev = (
        t["events"]
        .where(F.col("user_id").isNotNull())
        .select(
            F.to_date("ts").alias("day"), "event_type", "user_id",
            _phll_hash_col().alias("h"),
        )
    )
    daily = (
        ev.select(
            "day", "event_type", (F.col("h") % _PHLL_M).alias("bucket"),
            _phll_rho_col(),
        )
        .groupBy("day", "event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    merged = daily.groupBy("event_type", "bucket").agg(F.max("rho").alias("rho"))
    single = (
        ev.select(
            "event_type", (F.col("h") % _PHLL_M).alias("bucket"), _phll_rho_col()
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    m_est = _phll_estimate(merged, "merged_users").drop("nonzero")
    s_est = _phll_estimate(single, "single_pass_users").drop("nonzero")
    nd = daily.groupBy("event_type").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        m_est.join(s_est, "event_type").join(nd, "event_type").join(ex, "event_type")
        .select(
            "event_type", "n_days", "merged_users", "single_pass_users",
            (F.col("merged_users") == F.col("single_pass_users"))
            .cast("long").alias("merge_exact"),
            "exact_users",
            F.expr(
                "CAST(abs(merged_users - exact_users) * 10000 div exact_users"
                " AS BIGINT)"
            ).alias("err_bp"),
        )
    )


# ---------------------------------------------------------------------------
# discrete-time churn hazard (life table by tenure day, per engagement stream)
# ---------------------------------------------------------------------------

_DAY_US = 86400 * 1_000_000      # precomputed BIGINT literals: DuckDB
_CENSOR_US = 2 * 86400 * 1_000_000  # evaluates small-int products in INT32

_HAZARD_ORACLE = f"""
WITH u AS (
  SELECT user_id, event_type,
         MIN(epoch_us(ts)) AS first_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id, event_type
),
h AS (SELECT MAX(last_us) AS h_us FROM u),
lt AS (
  SELECT (u.last_us - u.first_us) // {_DAY_US} AS tenure_day,
         CASE WHEN u.last_us < h.h_us - {_CENSOR_US} THEN 1 ELSE 0 END AS churned
  FROM u, h
),
g AS (
  SELECT tenure_day,
         CAST(SUM(churned) AS BIGINT) AS n_churned,
         CAST(SUM(1 - churned) AS BIGINT) AS n_censored
  FROM lt GROUP BY tenure_day
),
c AS (
  SELECT tenure_day, n_churned, n_censored,
         SUM(n_churned + n_censored) OVER () AS total_streams,
         COALESCE(SUM(n_churned + n_censored) OVER (
           ORDER BY tenure_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS left_before
  FROM g
)
SELECT CAST(tenure_day AS BIGINT) AS tenure_day, n_churned, n_censored,
       CAST(total_streams - left_before AS BIGINT) AS at_risk,
       CAST(10000 * n_churned // (total_streams - left_before) AS BIGINT)
         AS hazard_bp
FROM c
"""


@register("events_churn_hazard", oracle=_HAZARD_ORACLE,
          description="discrete-time churn hazard by tenure day over "
                      "(user, event_type) engagement streams (life table)")
def events_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention survival analysis without IEEE products: the discrete-
    time life table. The subject is the (user, event_type) engagement
    stream (feature-level churn — user-level tenure is degenerate on a
    corpus whose users all span the capture window, and the same query
    shape covers both by changing the group key). A stream's tenure is
    last-minus-first event time in whole days; it CHURNED if its last
    event predates the observation horizon (max event time) by more
    than 2 days, otherwise it is right-CENSORED (still alive at cutoff
    — the Kaplan-Meier distinction naive churn counts get wrong). For
    tenure day d: at_risk = streams whose tenure reached d, hazard_bp =
    churners at d / at_risk, exact integer bp. The survival curve is
    the running product of (1 - hazard) — left in hazard form so every
    reported number is integer-exact (products of fractions are
    IEEE-order-dependent).

    Time arithmetic is exact epoch MICROSECONDS (unix_micros /
    epoch_us — the events_velocity_rule convention); tenure is
    floor-DIV by a precomputed BIGINT literal, non-negative dividend.

    Shape at 100 TB: one stream-keyed map-side-combined aggregate (the
    only fact shuffle), a 1-row horizon broadcast onto the stream
    relation (whitelisted scalar NLJ), a days-sized aggregate, and
    days-sized cumulative windows. NULL user_id / event_type form
    ordinary groups on both engines (the table contract does not
    require them; a NULL-keyed stream is still a tenure series).
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    u = (
        t["events"]
        .select("user_id", "event_type", F.unix_micros(F.col("ts")).alias("us"))
        .groupBy("user_id", "event_type")
        .agg(F.min("us").alias("first_us"), F.max("us").alias("last_us"))
    )
    h = u.agg(F.max("last_us").alias("h_us"))
    lt = u.crossJoin(F.broadcast(h)).select(
        F.expr(f"(last_us - first_us) DIV {_DAY_US}").alias("tenure_day"),
        F.when(F.col("last_us") < F.col("h_us") - F.lit(_CENSOR_US), 1)
        .otherwise(0).alias("churned"),
    )
    g = lt.groupBy("tenure_day").agg(
        F.sum("churned").cast("long").alias("n_churned"),
        F.sum(1 - F.col("churned")).cast("long").alias("n_censored"),
    )
    # days-sized relation: cumulative windows are parameter-sized
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("tenure_day").rowsBetween(Window.unboundedPreceding, -1)
    return (
        g.select(
            F.col("tenure_day").cast("long").alias("tenure_day"),
            "n_churned", "n_censored",
            F.sum(F.col("n_churned") + F.col("n_censored")).over(w_all)
            .alias("__total"),
            F.coalesce(
                F.sum(F.col("n_churned") + F.col("n_censored")).over(w_prev),
                F.lit(0),
            ).alias("__left_before"),
        )
        .select(
            "tenure_day", "n_churned", "n_censored",
            (F.col("__total") - F.col("__left_before")).cast("long").alias("at_risk"),
            F.expr("CAST(10000 * n_churned DIV (__total - __left_before) AS BIGINT)")
            .alias("hazard_bp"),
        )
    )


# ---------------------------------------------------------------------------
# range-partition planner: exact balanced shuffle boundaries for a key
# ---------------------------------------------------------------------------

_RPP_NB = 8  # planned partition count

_RPP_ORACLE = f"""
WITH r AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (ORDER BY user_id ASC, event_id ASC) AS rn,
         COUNT(*) OVER () AS total
  FROM events
  WHERE user_id IS NOT NULL
),
bd AS (
  SELECT (rn * {_RPP_NB} + total - 1) // total AS bucket,
         user_id AS boundary_user,
         rn AS target_rank
  FROM r
  WHERE (rn * {_RPP_NB} + total - 1) // total BETWEEN 1 AND {_RPP_NB}
    AND rn = (((rn * {_RPP_NB} + total - 1) // total) * total) // {_RPP_NB}
),
c AS (
  SELECT bd.bucket, bd.boundary_user, bd.target_rank,
         CAST(SUM(CASE WHEN e.user_id <= bd.boundary_user THEN 1 ELSE 0 END)
              AS BIGINT) AS rows_le_boundary
  FROM bd CROSS JOIN events e
  GROUP BY bd.bucket, bd.boundary_user, bd.target_rank
)
SELECT CAST(bucket AS BIGINT) AS bucket, boundary_user, target_rank,
       rows_le_boundary,
       CAST(rows_le_boundary - target_rank AS BIGINT) AS overshoot_rows
FROM c
"""


@register("events_range_partition_plan", oracle=_RPP_ORACLE, bench=True,
          description="range-partition planner: exact balanced boundary keys "
                      "for an 8-way shuffle + measured key-tie overshoot")
def events_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planning half of every repartitionByRange / sorted export /
    TeraSort at cluster scale, as an exact query instead of Spark's
    internal reservoir sample: boundary key values that split the fact
    into 8 equal-count ranges, plus the OVERSHOOT each boundary pays
    because duplicate keys cannot be split (rows_le_boundary −
    target_rank — the number the skew/salting decision reads; its
    companion diagnostic is events_key_skew_profile's Gini).

    Exactness: NULL keys are excluded up front (both engines — a NULL
    boundary would compare UNKNOWN to every row; a real range shuffle
    gives NULLs their own partition), then ranks come from
    distributed_rank over (user_id, event_id) — a total order over
    non-NULL keys. Boundary k sits at the exact floor target rank
    t_k = (k·N) DIV 8, selected per-row by the inverse map
    k = ceil(rn·8 / N): for N ≥ 8 the map round-trips (t_k·8 ≤ kN and
    N > kN mod 8 give ceil(t_k·8/N) = k), so exactly one row matches
    each bucket whether or not 8 divides N. Overshoot is a plain
    subtraction (no negative DIV anywhere).

    Shape at 100 TB: one range exchange (the distributed_rank pass —
    exactly the shuffle the planned repartition would pay anyway), an
    8-row boundary relation broadcast onto one fact aggregate
    (whitelisted scalar-side NLJ: 8 rows × fact, one pass,
    map-side-combined to 8 rows), and nothing else.
    """
    from ..operators.windows import distributed_rank

    t = load_tables(spark, sf_dir)
    # NULL keys are excluded from boundary planning: a NULL boundary key
    # compares UNKNOWN to everything (rows_le would read 0) and a real
    # range shuffle routes NULL keys to their own partition anyway — the
    # planner's job is the non-NULL keyspace.
    ev = t["events"].select("user_id", "event_id").where(F.col("user_id").isNotNull())
    ranked = distributed_rank(
        ev,
        [F.col("user_id").asc(), F.col("event_id").asc()],
        rank_name="rn", total_name="total",
    )
    k_expr = f"(rn * {_RPP_NB} + total - 1) DIV total"
    bd = (
        ranked
        .where(
            F.expr(f"{k_expr} BETWEEN 1 AND {_RPP_NB}")
            & (F.col("rn") == F.expr(f"(({k_expr}) * total) DIV {_RPP_NB}"))
        )
        .select(
            F.expr(k_expr).alias("bucket"),
            F.col("user_id").alias("boundary_user"),
            F.col("rn").alias("target_rank"),
        )
    )
    # r12 negative result: counting from the relation distributed_rank
    # already persisted (instead of this re-scan) measured SLOWER —
    # the count pass prunes to the single user_id parquet column, while
    # the cache holds (user_id, event_id, rn, total). The re-scan is
    # the right shape at every scale; kept.
    c = (
        t["events"].alias("e")
        .crossJoin(F.broadcast(bd))
        .groupBy("bucket", "boundary_user", "target_rank")
        .agg(
            F.sum(
                F.when(F.col("e.user_id") <= F.col("boundary_user"), 1).otherwise(0)
            ).cast("long").alias("rows_le_boundary")
        )
    )
    return c.select(
        F.col("bucket").cast("long").alias("bucket"),
        "boundary_user", "target_rank", "rows_le_boundary",
        (F.col("rows_le_boundary") - F.col("target_rank")).cast("long")
        .alias("overshoot_rows"),
    )


# ---------------------------------------------------------------------------
# portable theta/KMV sketch: K smallest md5 hashes, oracle-checkable
# ---------------------------------------------------------------------------

_THETA_K = 64
_THETA_RANGE = 4294967296  # 2^32: the md5-prefix hash space

_THETA_ORACLE = f"""
WITH ev AS (
  SELECT event_type, user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
dh AS (SELECT DISTINCT event_type, h FROM ev),
rk AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS nd
  FROM dh
),
th AS (
  SELECT event_type, CAST(MAX(nd) AS BIGINT) AS hash_distinct,
         MAX(CASE WHEN r = {_THETA_K} THEN h END) AS theta
  FROM rk GROUP BY event_type
),
est AS (
  SELECT event_type, hash_distinct,
         CAST(CASE WHEN hash_distinct <= {_THETA_K} THEN hash_distinct
                   ELSE ({_THETA_K} - 1) * {_THETA_RANGE} // theta END AS BIGINT)
           AS theta_users
  FROM th
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY event_type
)
SELECT est.event_type, est.theta_users, est.hash_distinct, ex.exact_users,
       CAST(abs(est.theta_users - ex.exact_users) * 10000 // ex.exact_users AS BIGINT)
         AS err_bp
FROM est JOIN ex ON ex.event_type = est.event_type
"""


@register("events_theta_sketch_distinct", oracle=_THETA_ORACLE,
          description="portable theta/KMV distinct sketch: K smallest md5 "
                      "hashes per type, integer estimate hash-checked "
                      "against DuckDB")
def events_theta_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values / theta sketch (Beyer et al. 2007; the
    Datasketches theta family's estimator) built PORTABLY, the KMV
    sibling of events_hll_portable: both engines derive the same
    32-bit md5-prefix hash of user_id, keep the K=64 smallest DISTINCT
    hash values per event_type, and estimate distinct = (K-1) * 2^32 /
    h_(K) — pure integer arithmetic, so the sketch contents AND the
    estimate are value-hash-checked end-to-end (unlike the
    engine-native events_sketch_* family, whose register layouts have
    no DuckDB twin). When a type holds <= K distinct hashes the sketch
    is the exact hash-distinct set and the estimate is exact — sf0.001
    exercises that branch, sf0.01 the estimator branch. err_bp carries
    the measured error against the exact per-type user count.

    Shape at 100 TB: a KMV register is "the K smallest values" — a
    bounded, mergeable state (union = K smallest of the union), the
    same one-pass partial-aggregate shape as HLL registers. Here the
    K-th smallest per type comes from `distributed_rank_in_groups`
    over the DISTINCT (type, hash) relation — a range-partitioned
    parallel sort, never a single-task per-type window — followed by
    |types|-sized aggregates. The exact twin pays a user-keyed
    distinct only at verify scale.
    """
    from ..operators.windows import distributed_rank_in_groups

    t = load_tables(spark, sf_dir)
    ev = (
        t["events"]
        .where(F.col("user_id").isNotNull())
        .select("event_type", "user_id", _phll_hash_col().alias("h"))
    )
    dh = ev.select("event_type", "h").distinct()
    ranked = distributed_rank_in_groups(
        dh, ["event_type"], [F.col("h").asc()],
        rank_name="__r", total_name="__nd",
    )
    th = ranked.groupBy("event_type").agg(
        F.max("__nd").cast("long").alias("hash_distinct"),
        F.max(F.when(F.col("__r") == _THETA_K, F.col("h"))).alias("theta"),
    )
    est = th.select(
        "event_type", "hash_distinct",
        F.expr(
            f"CAST(CASE WHEN hash_distinct <= {_THETA_K} THEN hash_distinct"
            f" ELSE ({_THETA_K} - 1) * {_THETA_RANGE} div theta END AS BIGINT)"
        ).alias("theta_users"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return est.join(ex, "event_type").select(
        "event_type", "theta_users", "hash_distinct", "exact_users",
        F.expr(
            "CAST(abs(theta_users - exact_users) * 10000 div exact_users AS BIGINT)"
        ).alias("err_bp"),
    )


# ---------------------------------------------------------------------------
# exact bitmap distinct rollup: the roaring-bitmap warehouse pattern
# ---------------------------------------------------------------------------

_BMP_W = 32  # bits per bitmap word (32 so 1<<bit never hits BIGINT overflow)

_BITMAP_ORACLE = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, event_type, user_id,
         user_id // {_BMP_W} AS word_idx,
         CAST(user_id % {_BMP_W} AS INT) AS bit
  FROM events WHERE user_id IS NOT NULL
),
daily AS (
  SELECT event_type, day, word_idx,
         bit_or(CAST(1 AS BIGINT) << bit) AS w
  FROM ev GROUP BY 1, 2, 3
),
merged AS (
  SELECT event_type, word_idx, bit_or(w) AS w FROM daily GROUP BY 1, 2
),
single AS (
  SELECT event_type, word_idx, bit_or(CAST(1 AS BIGINT) << bit) AS w
  FROM ev GROUP BY 1, 2
),
m AS (
  SELECT event_type, CAST(SUM(bit_count(w)) AS BIGINT) AS merged_users
  FROM merged GROUP BY event_type
),
s AS (
  SELECT event_type, CAST(SUM(bit_count(w)) AS BIGINT) AS single_pass_users
  FROM single GROUP BY event_type
),
nd AS (
  SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
  FROM ev GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY event_type
)
SELECT m.event_type, nd.n_days, m.merged_users, s.single_pass_users,
       CAST(m.merged_users = s.single_pass_users AS BIGINT) AS merge_exact,
       ex.exact_users,
       CAST(m.merged_users = ex.exact_users AS BIGINT) AS bitmap_exact
FROM m
JOIN s ON s.event_type = m.event_type
JOIN nd ON nd.event_type = m.event_type
JOIN ex ON ex.event_type = m.event_type
"""


@register("events_bitmap_distinct_rollup", oracle=_BITMAP_ORACLE,
          description="EXACT bitmap distinct rollup: per-day bit_or word "
                      "bitmaps OR-merged to per-type totals, merged == "
                      "single-pass == exact in the hash-checked output")
def events_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The roaring-bitmap warehouse pattern (ClickHouse groupBitmap /
    Doris BITMAP_UNION) for EXACT mergeable distinct counts over a
    dense integer key: user_id maps to (word_idx = id div 32, bit =
    id % 32), a day's audience per type is bit_or(1 << bit) per word,
    a month's audience is bit_or over the stored daily words — no
    re-read of raw events — and distinct = sum(bit_count(word)).
    Unlike the HLL/KMV sketch rows this rollup is EXACT, which the
    output asserts twice: merge == single-pass (associativity of OR)
    and merge == count(distinct) (no information loss). 32-bit words
    keep `1 << bit` inside BIGINT on both engines (DuckDB raises on
    `1 << 63`).

    Shape at 100 TB: daily words are ONE fact-pass hash aggregate with
    map-side partial bit_or combine; stored state is |types| × |days| ×
    (max_user/32) words — the classic bitmap-index size/exactness
    trade vs HLL's fixed 64 registers — and the rollup merge touches
    only that word table. The exact twin costs a user-keyed distinct
    at verify scale only.
    """
    t = load_tables(spark, sf_dir)
    ev = (
        t["events"]
        .where(F.col("user_id").isNotNull())
        .select(
            F.to_date("ts").alias("day"), "event_type", "user_id",
            F.expr(f"user_id div {_BMP_W}").alias("word_idx"),
            F.expr(f"CAST(user_id % {_BMP_W} AS INT)").alias("bit"),
        )
    )
    word = F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))")
    daily = ev.groupBy("event_type", "day", "word_idx").agg(word.alias("w"))
    merged = daily.groupBy("event_type", "word_idx").agg(F.bit_or("w").alias("w"))
    single = ev.groupBy("event_type", "word_idx").agg(word.alias("w"))
    m = merged.groupBy("event_type").agg(
        F.sum(F.bit_count("w")).cast("long").alias("merged_users")
    )
    s = single.groupBy("event_type").agg(
        F.sum(F.bit_count("w")).cast("long").alias("single_pass_users")
    )
    nd = ev.groupBy("event_type").agg(
        F.countDistinct("day").cast("long").alias("n_days")
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        m.join(s, "event_type").join(nd, "event_type").join(ex, "event_type")
        .select(
            "event_type", "n_days", "merged_users", "single_pass_users",
            (F.col("merged_users") == F.col("single_pass_users"))
            .cast("long").alias("merge_exact"),
            "exact_users",
            (F.col("merged_users") == F.col("exact_users"))
            .cast("long").alias("bitmap_exact"),
        )
    )


# ---------------------------------------------------------------------------
# portable GK-style quantiles: deterministic md5 sample, rank-exact on both
# ---------------------------------------------------------------------------

_GKQ_QS = (5000, 9000, 9900)  # q targets in basis points
_GKQ_RATE = 8                 # keep 1 row in 8, md5(event_id)-deterministic

_GKQ_ORACLE = f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
           % {_GKQ_RATE} AS coin
  FROM events WHERE value IS NOT NULL
),
qs AS (SELECT unnest([{", ".join(str(q) for q in _GKQ_QS)}]) AS q_bp),
full_rk AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
samp_rk AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base WHERE coin = 0
),
full_t AS (
  SELECT f.event_type, q.q_bp, CAST(f.n AS BIGINT) AS full_n,
         f.cents AS exact_cents
  FROM full_rk f JOIN qs q ON f.r = (q.q_bp * f.n + 9999) // 10000
),
samp_t AS (
  SELECT s.event_type, q.q_bp, CAST(s.n AS BIGINT) AS sample_n,
         s.cents AS est_cents
  FROM samp_rk s JOIN qs q ON s.r = (q.q_bp * s.n + 9999) // 10000
)
SELECT f.event_type, CAST(f.q_bp AS BIGINT) AS q_bp, s.sample_n, f.full_n,
       CAST(s.est_cents AS DOUBLE) / 100.0 AS est_value,
       CAST(f.exact_cents AS DOUBLE) / 100.0 AS exact_value,
       CAST(abs(s.est_cents - f.exact_cents) * 10000
            // greatest(f.exact_cents, 1) AS BIGINT) AS err_bp
FROM full_t f JOIN samp_t s
  ON s.event_type = f.event_type AND s.q_bp = f.q_bp
"""


@register("events_gk_portable_quantiles", oracle=_GKQ_ORACLE,
          description="portable GK-twin quantiles: deterministic md5 sample, "
                      "rank-exact nearest-rank estimates, measured err_bp "
                      "against the exact family")
def events_gk_portable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checked portable twin of the engine-native GK summary
    (approx_percentile): a DETERMINISTIC 1-in-8 sample — keep rows
    where the 32-bit md5(event_id) prefix ≡ 0 (mod 8), so both engines
    draw the SAME sample — then nearest-rank quantiles (r = ceil(q·n),
    all-integer) on the sample vs the full data, with the measured
    estimation error in bp per (type, quantile). This gives the 100 TB
    routing note ("route heavy percentile queries to the sketch twin")
    an oracle-checked estimator with a quantified error column,
    rather than only the pytest-bounded engine-native GK rows
    (events_sketch_profile).

    Shape at 100 TB: both rank passes are `distributed_rank_in_groups`
    (range-partitioned parallel sort; never a single-task per-type
    window); the sample pass touches 1/8 of the data after a
    pushed-down deterministic filter — the sample RATE, not the data,
    is the knob that makes this the cheap path. Target-rank selection
    is a |types|×|quantiles| broadcast join.
    """
    from ..operators.windows import distributed_rank_in_groups

    t = load_tables(spark, sf_dir)
    base = (
        t["events"]
        .where(F.col("value").isNotNull())
        .select(
            "event_type", "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            (_gkq_coin_col() % _GKQ_RATE).alias("coin"),
        )
    )

    def _targets(df: DataFrame, n_name: str, cents_name: str) -> DataFrame:
        ranked = distributed_rank_in_groups(
            df, ["event_type"],
            [F.col("cents").asc(), F.col("event_id").asc()],
            rank_name="__r", total_name="__n",
        )
        qs = F.explode(F.array(*[F.lit(q) for q in _GKQ_QS])).alias("q_bp")
        return (
            ranked.select("event_type", "cents", "__r", "__n", qs)
            .where(F.expr("__r = (q_bp * __n + 9999) div 10000"))
            .select(
                "event_type",
                F.col("q_bp").cast("long").alias("q_bp"),
                F.col("__n").cast("long").alias(n_name),
                F.col("cents").alias(cents_name),
            )
        )

    full_t = _targets(base.drop("coin"), "full_n", "exact_cents")
    samp_t = _targets(
        base.where(F.col("coin") == 0).drop("coin"), "sample_n", "est_cents"
    )
    return full_t.join(samp_t, ["event_type", "q_bp"]).select(
        "event_type", "q_bp", "sample_n", "full_n",
        (F.col("est_cents").cast("double") / 100.0).alias("est_value"),
        (F.col("exact_cents").cast("double") / 100.0).alias("exact_value"),
        F.expr(
            "CAST(abs(est_cents - exact_cents) * 10000"
            " div greatest(exact_cents, 1) AS BIGINT)"
        ).alias("err_bp"),
    )


def _gkq_coin_col() -> "F.Column":
    """32-bit md5-prefix hash of event_id — identical on both engines."""
    return (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
    )


# ---------------------------------------------------------------------------
# portable t-digest-style centroid digest: B fixed bins, centroid-mean reads
# ---------------------------------------------------------------------------

_TDG_B = 32  # centroid budget per group

_TDG_ORACLE = f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
bounds AS (
  SELECT event_type, MIN(cents) AS lo, MAX(cents) AS hi FROM base GROUP BY 1
),
binned AS (
  SELECT b.event_type, b.cents,
         least({_TDG_B - 1}, (b.cents - bd.lo) * {_TDG_B} // (bd.hi - bd.lo + 1))
           AS bin
  FROM base b JOIN bounds bd ON bd.event_type = b.event_type
),
cent AS (
  SELECT event_type, bin,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(cents) AS BIGINT) AS s
  FROM binned GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, cnt, s,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum_n
  FROM cent
),
nt AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_centroids
  FROM cent GROUP BY 1
),
qs AS (SELECT unnest([{", ".join(str(q) for q in _GKQ_QS)}]) AS q_bp),
targets AS (
  SELECT nt.event_type, q.q_bp, nt.n_centroids,
         (q.q_bp * nt.n + 9999) // 10000 AS r
  FROM nt CROSS JOIN qs q
),
pick AS (
  SELECT t.event_type, t.q_bp, t.n_centroids, t.r, MIN(c.bin) AS bin
  FROM targets t JOIN cum c
    ON c.event_type = t.event_type AND c.cum_n >= t.r
  GROUP BY 1, 2, 3, 4
),
est AS (
  SELECT p.event_type, p.q_bp, p.n_centroids, c.s // c.cnt AS est_cents
  FROM pick p JOIN cent c ON c.event_type = p.event_type AND c.bin = p.bin
),
full_rk AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
exact AS (
  SELECT f.event_type, q.q_bp, f.cents AS exact_cents
  FROM full_rk f JOIN qs q ON f.r = (q.q_bp * f.n + 9999) // 10000
)
SELECT e.event_type, CAST(e.q_bp AS BIGINT) AS q_bp, e.n_centroids,
       CAST(e.est_cents AS DOUBLE) / 100.0 AS est_value,
       CAST(x.exact_cents AS DOUBLE) / 100.0 AS exact_value,
       CAST(e.est_cents - x.exact_cents AS BIGINT) AS err_cents
FROM est e JOIN exact x
  ON x.event_type = e.event_type AND x.q_bp = e.q_bp
"""


@register("events_tdigest_portable", oracle=_TDG_ORACLE,
          description="portable centroid digest (t-digest stand-in): 32 "
                      "fixed-width centroids per type, centroid-mean quantile "
                      "reads with signed err vs the rank-exact value")
def events_tdigest_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deterministic, MERGE-ORDER-FREE centroid digest — the portable
    stand-in for t-digest (Dunning & Ertl 2019), whose real centroid
    placement depends on merge order and so can never be
    value-hash-checked across engines: B=32 equal-width bins between
    each type's observed [min, max] cents, (count, sum) centroids per
    bin, quantile reads as "first centroid whose cumulative count
    reaches the nearest-rank target", answered with the centroid MEAN
    (floored integer) exactly as a t-digest read does. err_cents is
    SIGNED — fixed-width bins bias toward the dense side in skewed
    data, and showing that bias is this query's point (the q50 read
    sits in the fattest centroid; q99 in a sparse tail bin).

    Shape at 100 TB: centroid construction is ONE fact pass — a
    min/max aggregate broadcast back, then a hash aggregate onto
    |types| × 32 cells with map-side combine; centroids are mergeable
    by (count, sum) addition exactly like the production digest. The
    cumulative walk and quantile reads are windows/joins over the
    parameter-sized centroid table (each type holds ≤ 32 rows by
    construction — the bounded-size case of the per-group window
    policy). Only the err_cents audit column pays a rank-exact pass.
    """
    from pyspark.sql.window import Window

    from ..operators.windows import distributed_rank_in_groups

    t = load_tables(spark, sf_dir)
    base = (
        t["events"]
        .where(F.col("value").isNotNull())
        .select(
            "event_type", "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    bounds = base.groupBy("event_type").agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    binned = base.join(F.broadcast(bounds), "event_type").select(
        "event_type", "cents",
        F.expr(
            f"least({_TDG_B - 1}, (cents - lo) * {_TDG_B} div (hi - lo + 1))"
        ).alias("bin"),
    )
    cent = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("cents").cast("long").alias("s"),
    )
    # ≤ 32 rows per type by construction: the bounded parameter-sized
    # case where a plain per-group window is the right plan
    w_cum = (
        Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cent.withColumn("cum_n", F.sum("cnt").over(w_cum))
    nt = cent.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_centroids"),
    )
    targets = nt.select(
        "event_type", "n_centroids",
        F.explode(F.array(*[F.lit(q) for q in _GKQ_QS])).alias("q_bp"),
        F.col("n"),
    ).select(
        "event_type", "n_centroids",
        F.col("q_bp").cast("long").alias("q_bp"),
        F.expr("(q_bp * n + 9999) div 10000").alias("r"),
    )
    pick = (
        cum.join(F.broadcast(targets), "event_type")
        .where(F.col("cum_n") >= F.col("r"))
        .groupBy("event_type", "q_bp", "n_centroids", "r")
        .agg(F.min("bin").alias("bin"))
    )
    est = pick.join(cent, ["event_type", "bin"]).select(
        "event_type", "q_bp", "n_centroids",
        F.expr("s div cnt").alias("est_cents"),
    )
    ranked = distributed_rank_in_groups(
        base, ["event_type"],
        [F.col("cents").asc(), F.col("event_id").asc()],
        rank_name="__r", total_name="__n",
    )
    exact = (
        ranked.select(
            "event_type", "cents", "__r", "__n",
            F.explode(F.array(*[F.lit(q) for q in _GKQ_QS])).alias("q_bp"),
        )
        .where(F.expr("__r = (q_bp * __n + 9999) div 10000"))
        .select(
            "event_type", F.col("q_bp").cast("long").alias("q_bp"),
            F.col("cents").alias("exact_cents"),
        )
    )
    return est.join(exact, ["event_type", "q_bp"]).select(
        "event_type", "q_bp", "n_centroids",
        (F.col("est_cents").cast("double") / 100.0).alias("est_value"),
        (F.col("exact_cents").cast("double") / 100.0).alias("exact_value"),
        (F.col("est_cents") - F.col("exact_cents")).cast("long").alias("err_cents"),
    )


# ---------------------------------------------------------------------------
# incremental sessionization: stored per-user state + new batch == full batch
# ---------------------------------------------------------------------------

_SINC_CUTOFF = "2024-01-21 00:00:00"
_SINC_GAP_S = 1800

# epoch via floor() to match Spark's truncating timestamp->long cast
# exactly (DuckDB epoch() returns a fractional DOUBLE and a bare CAST
# would round-to-nearest, not truncate).
_SINC_EP = "CAST(floor(epoch(ts)) AS BIGINT)"

_SINC_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, ts, {_SINC_EP} AS ep FROM events
),
full_flags AS (
  SELECT user_id,
         CASE WHEN LAG(ep) OVER w IS NULL
                OR ep - LAG(ep) OVER w > {_SINC_GAP_S} THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
full_s AS (
  SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS sessions_full
  FROM full_flags GROUP BY user_id
),
old_e AS (SELECT * FROM e WHERE ts < TIMESTAMP '{_SINC_CUTOFF}'),
new_e AS (SELECT * FROM e WHERE ts >= TIMESTAMP '{_SINC_CUTOFF}'),
old_flags AS (
  SELECT user_id, ep,
         CASE WHEN LAG(ep) OVER w IS NULL
                OR ep - LAG(ep) OVER w > {_SINC_GAP_S} THEN 1 ELSE 0 END AS is_new
  FROM old_e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
state AS (
  SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS old_sessions,
         MAX(ep) AS last_ep, CAST(COUNT(*) AS BIGINT) AS n_old
  FROM old_flags GROUP BY user_id
),
new_flags AS (
  SELECT n.user_id,
         CASE WHEN LAG(n.ep) OVER w IS NOT NULL
              THEN CASE WHEN n.ep - LAG(n.ep) OVER w > {_SINC_GAP_S}
                        THEN 1 ELSE 0 END
              ELSE CASE WHEN st.last_ep IS NULL
                          OR n.ep - st.last_ep > {_SINC_GAP_S}
                        THEN 1 ELSE 0 END
         END AS is_new
  FROM new_e n LEFT JOIN state st ON st.user_id = n.user_id
  WINDOW w AS (PARTITION BY n.user_id ORDER BY n.ts, n.event_id)
),
newagg AS (
  SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS new_sessions,
         CAST(COUNT(*) AS BIGINT) AS n_new
  FROM new_flags GROUP BY user_id
),
inc AS (
  SELECT COALESCE(st.user_id, na.user_id) AS user_id,
         COALESCE(st.n_old, 0) AS n_old,
         COALESCE(na.n_new, 0) AS n_new,
         COALESCE(st.old_sessions, 0) + COALESCE(na.new_sessions, 0)
           AS sessions_incremental
  FROM state st FULL OUTER JOIN newagg na ON na.user_id = st.user_id
)
SELECT i.user_id, i.n_old, i.n_new, i.sessions_incremental, f.sessions_full,
       CAST(i.sessions_incremental = f.sessions_full AS BIGINT) AS match
FROM inc i JOIN full_s f ON f.user_id = i.user_id
"""


@register("events_sessionize_incremental", oracle=_SINC_ORACLE,
          description="incremental sessionization: per-user (last_ts, count) "
                      "state + new batch reproduces the full-batch session "
                      "count exactly, hash-checked per user")
def events_sessionize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch proof behind streaming session_window state handoff:
    sessionize events BEFORE a cutoff into per-user state — (last
    event epoch, sessions so far, rows seen) — then sessionize the
    post-cutoff batch INCREMENTALLY: a new-batch event opens a session
    iff its gap from the previous new-batch event exceeds 30 min, and
    the FIRST new-batch event consults the stored state's last_ep
    instead (no state → new session). The per-user output carries both
    the incremental total and the full-batch recompute, and `match`
    asserts they are equal — the associativity property that lets a
    100 TB sessionization run day-by-day against a state table instead
    of re-scanning history (the same contract the watermark-gated
    incremental runs of sinks/watermark.gate_pending_runs rely on).

    Epochs are truncated to whole seconds on BOTH engines (Spark's
    long cast; floor(epoch()) in the oracle — a bare DuckDB cast
    ROUNDS and would flip boundary gaps). Windows are per-user —
    pigeonhole-bounded (user cardinality grows with the corpus), the
    plain-window case of the per-group policy; everything else is
    user-keyed hash aggregates and one user-keyed outer join, all
    sharing the session-key shuffle.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    cutoff = F.lit(_SINC_CUTOFF).cast("timestamp")
    e = t["events"].select(
        "user_id", "event_id", "ts", F.col("ts").cast("long").alias("ep")
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def flags(df: DataFrame) -> DataFrame:
        lag_ep = F.lag("ep").over(wu)
        return df.withColumn(
            "is_new",
            F.when(lag_ep.isNull() | ((F.col("ep") - lag_ep) > _SINC_GAP_S), 1)
            .otherwise(0),
        )

    full_s = flags(e).groupBy("user_id").agg(
        F.sum("is_new").cast("long").alias("sessions_full")
    )
    state = flags(e.where(F.col("ts") < cutoff)).groupBy("user_id").agg(
        F.sum("is_new").cast("long").alias("old_sessions"),
        F.max("ep").alias("last_ep"),
        F.count(F.lit(1)).cast("long").alias("n_old"),
    )
    new_e = e.where(F.col("ts") >= cutoff)
    lag_ep = F.lag("ep").over(wu)
    new_flags = (
        new_e.join(state.select("user_id", "last_ep"), "user_id", "left")
        .withColumn(
            "is_new",
            F.when(
                lag_ep.isNotNull(),
                F.when((F.col("ep") - lag_ep) > _SINC_GAP_S, 1).otherwise(0),
            ).otherwise(
                F.when(
                    F.col("last_ep").isNull()
                    | ((F.col("ep") - F.col("last_ep")) > _SINC_GAP_S),
                    1,
                ).otherwise(0)
            ),
        )
    )
    newagg = new_flags.groupBy("user_id").agg(
        F.sum("is_new").cast("long").alias("new_sessions"),
        F.count(F.lit(1)).cast("long").alias("n_new"),
    )
    inc = (
        state.join(newagg, "user_id", "full")
        .select(
            "user_id",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            (
                F.coalesce("old_sessions", F.lit(0))
                + F.coalesce("new_sessions", F.lit(0))
            ).cast("long").alias("sessions_incremental"),
        )
    )
    return inc.join(full_s, "user_id").select(
        "user_id", "n_old", "n_new", "sessions_incremental", "sessions_full",
        (F.col("sessions_incremental") == F.col("sessions_full"))
        .cast("long").alias("match"),
    )


# ---------------------------------------------------------------------------
# late-data profile: the watermark-tuning histogram
# ---------------------------------------------------------------------------

# Lateness of an event = how far behind the maximum event-time already
# seen (in arrival order — event_id is the ingest sequence) its own
# timestamp is. This is exactly the quantity a Structured Streaming
# watermark bounds: `withWatermark(ts, D)` drops/finalizes events whose
# lateness exceeds D, so the histogram below IS the design table for
# choosing D for a windowed aggregation or a velocity alert:
# the '<=1m' share is state the 1-minute watermark keeps, the '>1h'
# share is data a 1-hour watermark would still lose.
_LATE_BUCKETS_US = (
    ("on_time", 0),
    ("<=1m", 60_000_000),
    ("<=10m", 600_000_000),
    ("<=1h", 3_600_000_000),
)

_LATE_ORACLE = """
WITH e AS (
  SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS tsu FROM events
),
pm AS (
  SELECT event_id, tsu,
         MAX(tsu) OVER (ORDER BY event_id, tsu
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_max
  FROM e
),
lat AS (
  SELECT CASE WHEN prior_max IS NULL OR prior_max <= tsu THEN CAST(0 AS BIGINT)
              ELSE prior_max - tsu END AS late_us
  FROM pm
),
b AS (
  SELECT CASE WHEN late_us = 0 THEN 'on_time'
              WHEN late_us <= 60000000 THEN '<=1m'
              WHEN late_us <= 600000000 THEN '<=10m'
              WHEN late_us <= 3600000000 THEN '<=1h'
              ELSE '>1h' END AS lateness_bucket,
         late_us
  FROM lat
),
g AS (
  SELECT lateness_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(late_us) AS BIGINT) AS max_late_us,
         CAST(SUM(late_us) AS BIGINT) AS sum_late_us
  FROM b GROUP BY lateness_bucket
)
SELECT lateness_bucket, n_events, max_late_us, sum_late_us,
       CAST((10000 * n_events) // (SELECT SUM(n_events) FROM g) AS BIGINT)
         AS share_bp
FROM g
"""


@register("events_late_data_profile", oracle=_LATE_ORACLE, bench=True,
          description="watermark design table: event lateness vs the running "
                      "event-time high-water mark, bucketed (distributed "
                      "prefix-max, no single-task sort)")
def events_late_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How late does data actually arrive? For each event, lateness =
    (max event-time seen strictly earlier in arrival order) − (its own
    event-time), clamped at 0 — `event_id` is the ingest sequence, and
    the EXCLUSIVE prefix-max means an event is never late against
    itself. Bucketed into the candidate watermark delays, this is the
    table that picks `withWatermark`'s D for a streaming operator: each
    bucket's share is the fraction of events a watermark of that delay
    would have handled in-state.

    Scale shape: the global running max rides
    :func:`~..operators.windows.distributed_running_max` (range
    partition on (event_id, tsu) → per-partition max → exclusive
    offsets over the ≤|shuffle-partitions|-row table, broadcast →
    per-partition local window) — no fact-sized single-task sort at
    any size. The share window runs over the ≤5-row bucket histogram
    (parameter-sized by the bucket ladder). Integer-exact end to end:
    lateness in BIGINT microseconds, shares in offset-free 10000·n DIV
    total basis points (all operands non-negative).

    Reference parity: the reference's incremental loads assume
    arrival is monotone in (UF, year-month) file drops
    (load_bd/siasus_raas_ps_load_bd.py:140 — one file per period,
    loaded in period order); this query is the measurement that
    validates or sizes that assumption on a real event stream.
    """
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        "event_id", F.unix_micros(F.col("ts")).alias("tsu")
    )
    return lateness_profile(e)


def lateness_profile(e: DataFrame) -> DataFrame:
    """Core of `events_late_data_profile` over an (event_id, tsu)
    relation — split out so tests can feed a HOSTILE out-of-order
    stream (the driver fixture is perfectly time-ordered, so the
    registry query's histogram is legitimately one all-on_time row;
    tests/test_operators.py pins the multi-bucket path)."""
    from ..operators.windows import distributed_running_max
    from pyspark.sql.window import Window

    pm = distributed_running_max(
        e, [F.col("event_id"), F.col("tsu")], "tsu",
        max_name="prior_max", exclusive=True,
    )
    late = pm.select(
        F.when(
            F.col("prior_max").isNull() | (F.col("prior_max") <= F.col("tsu")),
            F.lit(0),
        )
        .otherwise(F.col("prior_max") - F.col("tsu"))
        .cast("long")
        .alias("late_us")
    )
    bucket = F.when(F.col("late_us") == 0, "on_time")
    for name, hi in _LATE_BUCKETS_US[1:]:
        bucket = bucket.when(F.col("late_us") <= hi, name)
    bucket = bucket.otherwise(">1h")
    g = (
        late.select(bucket.alias("lateness_bucket"), "late_us")
        .groupBy("lateness_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.sum("late_us").cast("long").alias("sum_late_us"),
        )
    )
    # share window over the <=5-row bucket histogram — parameter-sized
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return g.select(
        "lateness_bucket", "n_events", "max_late_us", "sum_late_us",
        F.expr("CAST(10000 * n_events AS BIGINT)").alias("__n"),
        F.sum("n_events").over(w_all).cast("long").alias("__t"),
    ).select(
        "lateness_bucket", "n_events", "max_late_us", "sum_late_us",
        F.expr("CAST(__n DIV __t AS BIGINT)").alias("share_bp"),
    )


# ---------------------------------------------------------------------------
# streaming state census: what each candidate watermark delay COSTS
# ---------------------------------------------------------------------------

# the same candidate ladder as events_late_data_profile (minus on_time):
# lateness picks the delay, this query prices it in state entries.
_CENSUS_DELAYS_US = (
    ("1m", 60_000_000),
    ("10m", 600_000_000),
    ("1h", 3_600_000_000),
)


def _census_oracle() -> str:
    arms = []
    for label, d in _CENSUS_DELAYS_US:
        arms.append(f"SELECT '{label}' AS delay, CAST({d} AS BIGINT) AS d")
    return f"""
WITH delays AS ({" UNION ALL ".join(arms)}),
e AS (
  SELECT dl.delay, dl.d, ev.user_id, CAST(epoch_us(ev.ts) AS BIGINT) AS tsu
  FROM events ev CROSS JOIN delays dl
),
flg AS (
  SELECT delay, d, user_id, tsu,
         CASE WHEN tsu - lag(tsu) OVER (PARTITION BY delay, user_id
                                        ORDER BY tsu) <= d
              THEN 0 ELSE 1 END AS is_new
  FROM e
),
sess AS (
  SELECT delay, d, user_id, tsu,
         SUM(is_new) OVER (PARTITION BY delay, user_id ORDER BY tsu
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM flg
),
iv AS (
  SELECT delay, user_id, MIN(tsu) AS t_open, MAX(tsu) + MAX(d) AS t_close
  FROM sess GROUP BY delay, user_id, sid
),
pts AS (
  SELECT delay, t_open AS t, CAST(1 AS BIGINT) AS delta, user_id FROM iv
  UNION ALL
  SELECT delay, t_close AS t, CAST(-1 AS BIGINT) AS delta, user_id FROM iv
),
sweep AS (
  SELECT delay,
         SUM(delta) OVER (PARTITION BY delay ORDER BY t, delta, user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS open_now
  FROM pts
)
SELECT i.delay,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(i.t_close - i.t_open) AS BIGINT) AS sum_open_us,
       s.peak_state
FROM iv i
JOIN (SELECT delay, CAST(MAX(open_now) AS BIGINT) AS peak_state
      FROM sweep GROUP BY delay) s ON s.delay = i.delay
GROUP BY i.delay, s.peak_state
"""


@register("events_stream_state_census", oracle=_census_oracle(),
          description="watermark cost table: exact PEAK concurrent per-user "
                      "state for each candidate delay (merged-interval "
                      "endpoint sweep on the grouped distributed prefix-sum)")
def events_stream_state_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The companion to `events_late_data_profile`: lateness picks the
    watermark delay D, this prices it. A streaming per-user aggregate
    holds state for a user from an event until D after their last
    event, so the state at time t is the number of users whose merged
    [first, last+D) intervals cover t — and the PEAK of that sweep is
    the executor-memory high-water mark `withWatermark(D)` commits the
    cluster to. Computed exactly: per-(delay, user) events merge into
    intervals (gap-D sessionize — the pigeonhole-bounded per-user
    window), each interval emits (+1 at open, −1 at close) endpoints,
    and the running sum over (t, delta, user_id) per delay — ridden on
    :func:`~..operators.windows.distributed_cumsum_in_groups` (3
    delays = few heavy groups, its exact contract) — maxes into the
    peak. Endpoint ties process −1 before +1 (half-open intervals),
    matching state eviction-before-insert; the per-delay MAX is
    tie-order invariant (within an equal-(t,delta) block the running
    sum is a monotone ramp, so the block max is its last row whatever
    the intra-block order).

    Output per delay: interval count, total open state-time (the
    integral a cost model multiplies by per-key state bytes), and
    peak_state. On the driver fixture peak_1m < peak_10m < peak_1h
    pins the monotone sanity.
    """
    t = load_tables(spark, sf_dir)
    return state_census(
        t["events"].select("user_id", F.unix_micros(F.col("ts")).alias("tsu"))
    )


def state_census(
    ev: DataFrame,
    delays_us: tuple[tuple[str, int], ...] = _CENSUS_DELAYS_US,
) -> DataFrame:
    """Core of `events_stream_state_census` over a (user_id, tsu)
    relation — split out so tests can feed hostile fixtures (nested /
    back-to-back intervals, simultaneous endpoints across users) with
    hand-computable peaks. Intervals merge events ``d`` apart and close
    at ``last + d``: a per-user aggregate with watermark delay d."""
    from ..operators.windows import distributed_groupwise_peak

    delays = F.array(*[
        F.struct(F.lit(label).alias("delay"), F.lit(d).cast("long").alias("d"))
        for label, d in delays_us
    ])
    e = ev.select(
        "user_id", "tsu", F.explode(delays).alias("dl"),
    ).select("user_id", "tsu", F.col("dl.delay").alias("delay"),
             F.col("dl.d").alias("d"))
    from pyspark.sql.window import Window
    w_u = Window.partitionBy("delay", "user_id").orderBy("tsu")
    flg = e.withColumn(
        "is_new",
        F.when(F.col("tsu") - F.lag("tsu").over(w_u) <= F.col("d"), 0)
        .otherwise(1),
    )
    sess = flg.withColumn(
        "sid",
        F.sum("is_new").over(w_u.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = (
        sess.groupBy("delay", "user_id", "sid")
        .agg(
            F.min("tsu").alias("t_open"),
            (F.max("tsu") + F.max("d")).alias("t_close"),
        )
    )
    from ..cache import persist_tracked
    iv = persist_tracked(iv)  # feeds both the sweep and the interval stats
    pts = iv.select(
        "delay", F.col("t_open").alias("t"),
        F.lit(1).cast("long").alias("delta"), "user_id",
    ).unionByName(iv.select(
        "delay", F.col("t_close").alias("t"),
        F.lit(-1).cast("long").alias("delta"), "user_id",
    ))
    # r13: the sweep's only consumer is the per-delay MAX, so the fused
    # peak operator replaces cumsum→max (drops the per-row cumsum
    # materialization, its persist, and the offsets join-back —
    # identical values, see distributed_groupwise_peak)
    peak = distributed_groupwise_peak(
        pts, ["delay"],
        [F.col("t"), F.col("delta"), F.col("user_id")],
        "delta", peak_name="peak_state",
    )
    stats = iv.groupBy("delay").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("t_close") - F.col("t_open")).cast("long")
        .alias("sum_open_us"),
    )
    return stats.join(peak, "delay").select(
        "delay", "n_intervals", "sum_open_us", "peak_state"
    )


# ---------------------------------------------------------------------------
# the watermark TRADE-OFF table: completeness lost vs state paid, per delay
# ---------------------------------------------------------------------------

def _tradeoff_oracle() -> str:
    drops = []
    for label, d in _CENSUS_DELAYS_US:
        drops.append(f"""
  SELECT '{label}' AS delay,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN late_us > {d} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped
  FROM lat""")
    return f"""
WITH e AS (
  SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS tsu FROM events
),
pm AS (
  SELECT event_id, tsu,
         MAX(tsu) OVER (ORDER BY event_id, tsu
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_max
  FROM e
),
lat AS (
  SELECT CASE WHEN prior_max IS NULL OR prior_max <= tsu THEN CAST(0 AS BIGINT)
              ELSE prior_max - tsu END AS late_us
  FROM pm
),
drops AS ({" UNION ALL ".join(drops)}),
census AS ({_census_oracle()})
SELECT d.delay, d.n_events, d.n_dropped,
       CAST((10000 * d.n_dropped) // d.n_events AS BIGINT) AS dropped_bp,
       c.peak_state, c.n_intervals, c.sum_open_us
FROM drops d JOIN census c ON c.delay = d.delay
"""


@register("events_watermark_tradeoff", oracle=_tradeoff_oracle(),
          description="the watermark DECISION table: per candidate delay, "
                      "exact data lost (events later than D) vs state paid "
                      "(peak concurrent per-user entries)")
def events_watermark_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The artifact the late-data profile and the state census build
    toward, joined on the delay ladder: for each candidate
    `withWatermark` delay D, what the stream LOSES (events whose
    lateness against the running event-time high-water mark exceeds D
    — they'd arrive after their window finalized) against what the
    cluster PAYS (the census's exact peak concurrent per-user state
    and total open state-time). Reading this table IS the watermark
    decision: pick the smallest D whose dropped_bp clears the
    completeness bar and whose peak_state fits executor memory.

    Shape: the lateness arm is one distributed prefix-max pass with
    THREE conditional-count columns (no per-delay explode — the ladder
    lives in the aggregate, so adding a candidate delay costs one
    column, not one scan); the census arm is
    :func:`state_census`; the join is ladder-sized. Integer-exact
    throughout (BIGINT microseconds, offset-free bp DIVs).
    """
    t = load_tables(spark, sf_dir)
    base = t["events"].select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("tsu")
    )
    return watermark_tradeoff_table(base)


def watermark_tradeoff_table(base: DataFrame) -> DataFrame:
    """Core of `events_watermark_tradeoff` over an (event_id, user_id,
    tsu) relation, so the decision table can be computed on any batch
    history slice, for each delay of `_CENSUS_DELAYS_US`."""
    from ..operators.windows import distributed_running_max

    pm = distributed_running_max(
        base.select("event_id", "tsu"),
        [F.col("event_id"), F.col("tsu")], "tsu",
        max_name="prior_max", exclusive=True,
    )
    late = pm.select(
        F.when(
            F.col("prior_max").isNull() | (F.col("prior_max") <= F.col("tsu")),
            F.lit(0),
        )
        .otherwise(F.col("prior_max") - F.col("tsu"))
        .cast("long")
        .alias("late_us")
    )
    agg_cols = [F.count(F.lit(1)).cast("long").alias("n_events")]
    for label, d in _CENSUS_DELAYS_US:
        agg_cols.append(
            F.sum(F.when(F.col("late_us") > d, 1).otherwise(0))
            .cast("long").alias(f"__drop_{label}")
        )
    one = late.agg(*agg_cols)
    ladder = F.array(*[
        F.struct(
            F.lit(label).alias("delay"),
            F.col(f"__drop_{label}").alias("n_dropped"),
        )
        for label, _ in _CENSUS_DELAYS_US
    ])
    drops = one.select(
        "n_events", F.explode(ladder).alias("x")
    ).select(
        F.col("x.delay").alias("delay"), "n_events",
        F.col("x.n_dropped").alias("n_dropped"),
        F.expr("CAST((10000 * x.n_dropped) DIV n_events AS BIGINT)")
        .alias("dropped_bp"),
    )
    census = state_census(base.select("user_id", "tsu"), _CENSUS_DELAYS_US)
    return drops.join(census, "delay").select(
        "delay", "n_events", "n_dropped", "dropped_bp",
        "peak_state", "n_intervals", "sum_open_us",
    )


# ---------------------------------------------------------------------------
# RFM migration: monetary-quartile transition matrix across the two halves
# ---------------------------------------------------------------------------

_MIG_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL
),
mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS m FROM e),
u1 AS (
  SELECT user_id,
         CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS monetary
  FROM e, mid WHERE us < m GROUP BY user_id
),
u2 AS (
  SELECT user_id,
         CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS monetary
  FROM e, mid WHERE us >= m GROUP BY user_id
),
q1 AS (
  SELECT user_id, monetary,
         CAST(NTILE(4) OVER (ORDER BY monetary ASC, user_id ASC) AS BIGINT) AS seg
  FROM u1
),
q2 AS (
  SELECT user_id, monetary,
         CAST(NTILE(4) OVER (ORDER BY monetary ASC, user_id ASC) AS BIGINT) AS seg
  FROM u2
)
SELECT CAST(COALESCE(q1.seg, 0) AS BIGINT) AS seg_h1,
       CAST(COALESCE(q2.seg, 0) AS BIGINT) AS seg_h2,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COALESCE(SUM(q1.monetary), 0) AS BIGINT) AS monetary_h1_cents,
       CAST(COALESCE(SUM(q2.monetary), 0) AS BIGINT) AS monetary_h2_cents
FROM q1 FULL OUTER JOIN q2 ON q1.user_id = q2.user_id
GROUP BY 1, 2
"""


@register("events_rfm_migration", oracle=_MIG_ORACLE,
          description="segment-migration matrix: per-user monetary quartile "
                      "in the first vs second half of the corpus window, with "
                      "explicit new/churned rows (segment 0)")
def events_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temporal companion to events_rfm_segments: segmentation is a
    snapshot, but the DECISIONS (win-back, upsell, churn save) live in
    the transitions — so split the corpus at its midpoint timestamp,
    score every user's monetary quartile within each half, and count
    the (seg_h1, seg_h2) migration cells. Users absent from a half get
    the explicit segment 0 (new joiners / churned), so the matrix's
    margins reconcile to each half's user census instead of silently
    dropping movers — the matrix is ≤ 5×5 minus the impossible (0,0).

    Exactness: the midpoint is integer-DIV of BIGINT microseconds (one
    1-row broadcast, the whitelisted scalar pattern); monetary is the
    cents convention with COALESCE 0 (hostile NULL values); each half's
    quartile is ntile(4) with the (monetary, user_id) unique tiebreak,
    ridden on :func:`operators.windows.distributed_ntile` exactly as
    events_rfm_segments rides it (no bare user-cardinality window).

    Shape at 100 TB: two user-keyed hash aggregates (one per half —
    same shuffle key, so AQE coalesces them), two distributed-ntile
    rank passes, one user-keyed full outer join, ≤25-cell output.
    """
    from ..operators.windows import distributed_ntile

    t = load_tables(spark, sf_dir)
    e = t["events"].where(F.col("user_id").isNotNull()).select(
        "user_id", F.unix_micros(F.col("ts")).alias("us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    mid = e.agg(
        F.expr("CAST((MIN(us) + MAX(us)) DIV 2 AS BIGINT)").alias("m")
    )
    em = e.crossJoin(F.broadcast(mid))

    def half(pred) -> DataFrame:
        u = em.where(pred).groupBy("user_id").agg(
            F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("monetary")
        )
        return distributed_ntile(
            u, [F.col("monetary").asc(), F.col("user_id").asc()], 4,
            tile_name="seg",
        ).select("user_id", "monetary", F.col("seg").cast("long").alias("seg"))

    q1 = half(F.col("us") < F.col("m"))
    q2 = half(F.col("us") >= F.col("m"))
    j = q1.select(
        "user_id", F.col("seg").alias("seg1"), F.col("monetary").alias("m1")
    ).join(
        q2.select(
            "user_id", F.col("seg").alias("seg2"), F.col("monetary").alias("m2")
        ),
        "user_id", "full_outer",
    )
    return j.groupBy(
        F.coalesce(F.col("seg1"), F.lit(0)).cast("long").alias("seg_h1"),
        F.coalesce(F.col("seg2"), F.lit(0)).cast("long").alias("seg_h2"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.coalesce(F.sum("m1"), F.lit(0)).cast("long").alias("monetary_h1_cents"),
        F.coalesce(F.sum("m2"), F.lit(0)).cast("long").alias("monetary_h2_cents"),
    )


# ---------------------------------------------------------------------------
# dedup-state census: pricing dropDuplicatesWithinWatermark per delay
# ---------------------------------------------------------------------------

_DDC_ROUNDS = 3  # unrolled suppression-chain depth (test-asserted sufficient)


def _ddc_oracle() -> str:
    arms = " UNION ALL ".join(
        f"SELECT '{label}' AS delay, CAST({d} AS BIGINT) AS d"
        for label, d in _CENSUS_DELAYS_US
    )
    return f"""
WITH delays AS ({arms}),
occ AS (
  SELECT dl.delay, dl.d, ev.event_id AS k, CAST(epoch_us(ev.ts) AS BIGINT) AS tsu
  FROM events ev CROSS JOIN delays dl
),
s0 AS (
  SELECT delay, d, k, MIN(tsu) AS s FROM occ GROUP BY delay, d, k
),
s1 AS (
  SELECT o.delay, o.d, o.k, MIN(o.tsu) AS s
  FROM occ o JOIN s0 ON s0.delay = o.delay AND s0.k = o.k
  WHERE o.tsu > s0.s + o.d GROUP BY o.delay, o.d, o.k
),
s2 AS (
  SELECT o.delay, o.d, o.k, MIN(o.tsu) AS s
  FROM occ o JOIN s1 ON s1.delay = o.delay AND s1.k = o.k
  WHERE o.tsu > s1.s + o.d GROUP BY o.delay, o.d, o.k
),
trunc AS (
  SELECT o.delay, CAST(COUNT(DISTINCT o.k) AS BIGINT) AS truncated_keys
  FROM occ o JOIN s2 ON s2.delay = o.delay AND s2.k = o.k
  WHERE o.tsu > s2.s + o.d GROUP BY o.delay
),
iv AS (
  SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2
),
pts AS (
  SELECT delay, s AS t, CAST(1 AS BIGINT) AS delta, k FROM iv
  UNION ALL
  SELECT delay, s + d AS t, CAST(-1 AS BIGINT) AS delta, k FROM iv
),
sweep AS (
  SELECT delay,
         SUM(delta) OVER (PARTITION BY delay ORDER BY t, delta, k
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS open_now
  FROM pts
),
stats AS (
  SELECT i.delay,
         CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(MIN(ne.n) AS BIGINT) AS n_events
  FROM iv i CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events) ne
  GROUP BY i.delay
)
SELECT st.delay, st.n_events, st.n_intervals,
       CAST(st.n_events - st.n_intervals AS BIGINT) AS n_suppressed,
       p.peak_state,
       CAST(COALESCE(tr.truncated_keys, 0) AS BIGINT) AS truncated_keys
FROM stats st
JOIN (SELECT delay, CAST(MAX(open_now) AS BIGINT) AS peak_state
      FROM sweep GROUP BY delay) p ON p.delay = st.delay
LEFT JOIN trunc tr ON tr.delay = st.delay
"""


@register("events_dedup_state_census", oracle=_ddc_oracle(), bench=True,
          description="dedup-state cost table: per candidate delay, exact "
                      "first-pass/suppressed split and PEAK concurrent "
                      "distinct-key state for dropDuplicatesWithinWatermark")
def events_dedup_state_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the streaming-state pricing family: the session census
    (`events_stream_state_census`) prices per-user AGGREGATE state;
    this prices the DEDUP operator — `dropDuplicatesWithinWatermark`
    holds one entry per distinct key from its first sight until the
    event-time high-water mark passes first_seen + D, suppressing
    duplicates inside that window and RE-ADMITTING the key after
    eviction. Per candidate D: how many rows pass (n_intervals — the
    rows a streaming dedup emits), how many are suppressed, and the
    exact peak concurrent key state the cluster pays.

    The suppression chain per key (first sight → next occurrence
    strictly past s + D opens a new entry) is data-dependent, so it is
    UNROLLED to `_DDC_ROUNDS` segments — the knn_graph_kcore fixed-R
    convention: no data-dependent termination for the engines to
    disagree on, and the `truncated_keys` column reports (hash-checked
    on both engines) how many keys would need a deeper chain — 0 on
    every fixture, pinned in tests.

    Shape at 100 TB (r13): the whole chain is ONE key-keyed aggregate
    over the duplicate-key slice (sorted per-key occurrence lists,
    bounded by key multiplicity) plus a per-(key, delay) fold — no
    per-round joins; the peak rides
    :func:`~..operators.windows.distributed_cumsum_in_groups` over the
    interval endpoints (|delays| heavy groups — its exact contract).
    Eviction-before-insert ties: endpoints order (t, delta, k) with
    −1 < +1, matching half-open [s, s+D).
    """
    t = load_tables(spark, sf_dir)
    return dedup_state_census(
        t["events"].select(
            F.col("event_id").alias("k"),
            F.unix_micros(F.col("ts")).alias("tsu"),
        ),
        _CENSUS_DELAYS_US,
    )


def dedup_state_census(ev: DataFrame, delays_us: tuple[tuple[str, int], ...]) -> DataFrame:
    """Core of `events_dedup_state_census` over a (k, tsu) relation —
    split out (the :func:`state_census` pattern) so a test can price an
    arbitrary fixture and pin a real `dropDuplicatesWithinWatermark`
    stream's emitted/evicted counts against it."""
    from ..cache import persist_tracked
    from ..operators.windows import distributed_groupwise_peak

    delays = F.array(*[
        F.struct(F.lit(label).alias("delay"), F.lit(d).cast("long").alias("d"))
        for label, d in delays_us
    ])
    # one delay-independent pass over the fact: per-key first sight +
    # multiplicity. Only keys seen MORE than once can ever chain past
    # segment 0, so the chain work below runs on the (tiny on real
    # data) duplicate-key slice instead of the full per-delay explode —
    # the same prune the dedup family applies before candidate joins.
    per_k = persist_tracked(
        ev.groupBy("k").agg(
            F.min("tsu").alias("s"), F.count(F.lit(1)).alias("c")
        )
    )
    # n_events from the persisted per-key aggregate — one pass over
    # |keys| rows instead of a second full scan of the fact
    # (VERDICT r10 item 2). r13: it rides the final 3-row result as a
    # broadcast 1-row relation instead of a driver collect — the
    # collect was a full blocking job per execution (guide §2.6); the
    # value is identical (same aggregate, attached as a column).
    n_ev = per_k.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("__n_events")
    )
    # r13 (guide §2.4 — remove shuffles outright): the suppression chain
    # is a strictly PER-KEY walk over that key's occurrences in time
    # order, so the former _DDC_ROUNDS sequential join+aggregate rounds
    # (each one a SortMergeJoin + shuffle over the duplicate-occurrence
    # × delay slice — 14 SMJs / 150+ Exchanges in the captured r13
    # before-plan) collapse into ONE aggregate that collects each
    # duplicate key's SORTED timestamp list, plus a per-(key, delay)
    # higher-order fold emitting exactly the same segment starts:
    # s0 = first sight, s_{i+1} = first occurrence strictly past
    # s_i + d (the sorted-order first IS the old GROUP BY ... MIN), and
    # truncated = some occurrence past s_{_DDC_ROUNDS-1} + d, flagged
    # only once the chain is full — bit-identical iv / truncated_keys
    # rows (driver-rechecked; FORCE_RECHECK per window_plan convention).
    # The collected lists cover the duplicate-key slice only, so list
    # length is that key's multiplicity — the same bound the old
    # multi_occ join rounds carried per key.
    dup_ts = (
        ev.join(per_k.where(F.col("c") > 1).select("k"), "k")
        .groupBy("k")
        .agg(F.sort_array(F.collect_list("tsu")).alias("__ts"))
    )

    def _walk(ts, d):
        """Fold the sorted occurrence list into (starts[≤_DDC_ROUNDS],
        cur, truncated) for one delay d — exact long arithmetic."""
        first = F.element_at(ts, 1)
        init = F.struct(
            F.array(first).alias("starts"),
            first.alias("cur"),
            F.lit(False).alias("tr"),
        )

        def step(acc, t):
            opened = t > acc["cur"] + d
            grow = F.struct(
                F.concat(acc["starts"], F.array(t)).alias("starts"),
                t.alias("cur"),
                acc["tr"].alias("tr"),
            )
            full = F.struct(
                acc["starts"].alias("starts"),
                acc["cur"].alias("cur"),
                F.lit(True).alias("tr"),
            )
            return (
                F.when(opened & (F.size(acc["starts"]) < _DDC_ROUNDS), grow)
                .when(opened, full)
                .otherwise(acc)
            )

        return F.aggregate(ts, init, step)

    segs = persist_tracked(
        dup_ts.select("k", "__ts", F.explode(delays).alias("dl"))
        .select(
            F.col("dl.delay").alias("delay"), F.col("dl.d").alias("d"), "k",
            _walk(F.col("__ts"), F.col("dl.d")).alias("__w"),
        )
        .select(
            "delay", "d", "k",
            F.col("__w.starts").alias("__starts"),
            F.col("__w.tr").alias("__tr"),
        )
    )  # feeds the chain intervals and the truncation count
    trunc = (
        segs.where(F.col("__tr"))
        .groupBy("delay")
        .agg(F.count(F.lit(1)).cast("long").alias("truncated_keys"))
    )
    # segment 0 for ALL keys: the per-key min exploded by the ladder
    s0 = per_k.select(
        "k", "s", F.explode(delays).alias("dl")
    ).select(
        F.col("dl.delay").alias("delay"), F.col("dl.d").alias("d"), "k", "s",
    )
    chain = segs.select(
        "delay", "d", "k",
        F.explode(F.slice(F.col("__starts"), 2, _DDC_ROUNDS - 1)).alias("s"),
    )
    # iv is NOT persisted (r13): both its inputs (per_k, segs) are
    # already cached and the union is explode-only on top of them, so
    # a third cache would pay a |keys|×|delays| materialization to save
    # two trivial re-explodes.
    iv = s0.unionByName(chain)  # feeds the sweep and the interval count
    pts = iv.select(
        "delay", F.col("s").alias("t"), F.lit(1).cast("long").alias("delta"),
        "k",
    ).unionByName(iv.select(
        "delay", (F.col("s") + F.col("d")).alias("t"),
        F.lit(-1).cast("long").alias("delta"), "k",
    ))
    # r13: fused peak-of-prefix-sum — the sweep's only consumer was the
    # per-delay MAX (see distributed_groupwise_peak; identical values)
    peak = distributed_groupwise_peak(
        pts, ["delay"], [F.col("t"), F.col("delta"), F.col("k")],
        "delta", peak_name="peak_state",
    )
    stats = iv.groupBy("delay").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals")
    )
    return (
        stats.join(peak, "delay").join(trunc, "delay", "left")
        .crossJoin(F.broadcast(n_ev))
        .select(
            "delay",
            F.col("__n_events").alias("n_events"),
            "n_intervals",
            (F.col("__n_events") - F.col("n_intervals")).cast("long")
            .alias("n_suppressed"),
            "peak_state",
            F.coalesce(F.col("truncated_keys"), F.lit(0)).cast("long")
            .alias("truncated_keys"),
        )
    )
