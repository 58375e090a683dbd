"""Relational operator queries (SURVEY §2.3–§2.8) with DuckDB oracles.

Each query exercises one operator family from the reference inventory,
phrased over the driver's TPC-H-ish tables so the oracle can verify it.
Numeric conventions: money is summed as cents-longs (exact, order-
independent), quantities as longs; doubles appear only after the final
division — see plans/registry.py docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cleaning, dates
from ..operators import filters, joins
from ..operators.aggregates import null_counts, sorted_set_agg
from ..operators.reshape import melt, union_harmonized
from ..tables import load_tables
from .registry import register


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("long")


def _bp(col: str) -> F.Column:  # basis points (discount/tax are 2-decimal)
    return F.round(F.col(col) * 100, 0).cast("long")


# ---------------------------------------------------------------------------
# TPC-H-flavored headline aggregations (A-family + F filters)
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
WITH base AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_bp,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_bp
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(SUM(cents * (100 - disc_bp)) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(SUM(cents * (100 - disc_bp) * (100 + tax_bp)) AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(SUM(qty) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_price,
       CAST(SUM(disc_bp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM base
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE, bench=True,
          description="TPC-H Q1 shape: scan+filter+8-agg groupBy (SURVEY A-family)")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = t["lineitem"].where(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"),
        _cents("l_extendedprice").alias("cents"),
        _bp("l_discount").alias("disc_bp"),
        _bp("l_tax").alias("tax_bp"),
    )
    n = F.count(F.lit(1))
    return base.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        (F.sum("cents").cast("double") / 100.0).alias("sum_base_price"),
        (F.sum(F.col("cents") * (100 - F.col("disc_bp"))).cast("double") / 10000.0).alias("sum_disc_price"),
        (F.sum(F.col("cents") * (100 - F.col("disc_bp")) * (100 + F.col("tax_bp"))).cast("double") / 1000000.0).alias("sum_charge"),
        (F.sum("qty").cast("double") / n.cast("double")).alias("avg_qty"),
        (F.sum("cents").cast("double") / n.cast("double") / 100.0).alias("avg_price"),
        (F.sum("disc_bp").cast("double") / n.cast("double") / 100.0).alias("avg_disc"),
        n.alias("count_order"),
    )


_Q3_ORACLE = """
SELECT l_orderkey,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE, bench=True,
          description="TPC-H Q3 shape: 3-way join + agg + deterministic top-k")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1997-06-15 00:00:00").cast("timestamp")
    joined = (
        t["customer"].where(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"].where(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"].where(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    rev = F.sum(_cents("l_extendedprice") * (100 - _bp("l_discount"))).cast("double") / 10000.0
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev.alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_Q5_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@register("q5_region_revenue", oracle=_Q5_ORACLE, bench=True,
          description="TPC-H Q5 shape: 6-way join with broadcast dims (J2/J3)")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    nation_asia = (
        t["nation"].join(
            F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    joined = (
        t["customer"]
        .join(F.broadcast(nation_asia), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    rev = F.sum(_cents("l_extendedprice") * (100 - _bp("l_discount"))).cast("double") / 10000.0
    return joined.groupBy("n_name").agg(rev.alias("revenue"))


# ---------------------------------------------------------------------------
# F-family: filters
# ---------------------------------------------------------------------------

_F1_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_suppkey IN (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
GROUP BY l_returnflag
"""


@register("f1_panel_semi_join", oracle=_F1_ORACLE,
          description="F1: panel membership as broadcast LEFT SEMI join")
def f1_panel_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    panel = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    kept = filters.panel_semi_join(t["lineitem"], panel, "l_suppkey", "s_suppkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
    )


_F2_ORACLE = """
SELECT p_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(p_partkey) AS BIGINT) AS min_partkey,
       CAST(MAX(p_partkey) AS BIGINT) AS max_partkey
FROM part
WHERE p_type = 'PROMO'
   OR p_name LIKE 'red%'
   OR regexp_matches(p_name, '(gear|gizmo)$')
   OR p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
GROUP BY p_type
"""


@register("f2_composite_predicate", oracle=_F2_ORACLE,
          description="F2: flagship OR-composite of equality/prefix/regex/isin")
def f2_composite_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cond = filters.composite_condition(
        equals=[(F.col("p_type"), "PROMO")],
        prefixes=[(F.col("p_name"), ["red"])],
        rlikes=[(F.col("p_name"), "(gear|gizmo)$")],
        isin=[(F.col("p_brand"), ["Brand#1", "Brand#2", "Brand#3"])],
    )
    return (
        t["part"].where(cond)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("p_partkey").alias("min_partkey"),
            F.max("p_partkey").alias("max_partkey"),
        )
    )


_F3_ORACLE = """
WITH base AS (
  SELECT l_linestatus,
         CASE WHEN CAST(round(l_discount * 100) AS BIGINT) = 0 THEN NULL
              ELSE CAST(round(l_discount * 100) AS BIGINT) END AS disc_bp,
         CASE WHEN l_returnflag = 'N' THEN NULL
              ELSE CAST(round(l_tax * 100) AS BIGINT) END AS tax_bp
  FROM lineitem
)
SELECT l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(disc_bp) AS BIGINT) AS n_disc,
       CAST(COUNT(tax_bp) AS BIGINT) AS n_tax,
       CAST(SUM(COALESCE(disc_bp, 0)) AS BIGINT) AS sum_disc_bp
FROM base
GROUP BY l_linestatus
"""


@register("f3_conditional_null", oracle=_F3_ORACLE,
          description="F3: predicate-driven column nulling (update_where)")
def f3_conditional_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    base = t["lineitem"].select(
        "l_linestatus",
        "l_returnflag",
        _bp("l_discount").alias("disc_bp"),
        _bp("l_tax").alias("tax_bp"),
    )
    base = filters.null_when(base, F.col("disc_bp") == 0, "disc_bp")
    base = filters.null_when(base, F.col("l_returnflag") == "N", "tax_bp")
    return base.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("disc_bp").alias("n_disc"),
        F.count("tax_bp").alias("n_tax"),
        F.sum(F.coalesce(F.col("disc_bp"), F.lit(0))).alias("sum_disc_bp"),
    )


_F6_ORACLE = """
WITH w AS (
  SELECT o_orderstatus, o_orderdate,
         MAX(o_orderdate) OVER (PARTITION BY o_orderstatus) AS max_d
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(o_orderdate) AS min_date,
       MAX(o_orderdate) AS max_date
FROM w
WHERE o_orderdate >= max_d - INTERVAL 13 MONTH
GROUP BY o_orderstatus
"""


@register("f6_retention_window", oracle=_F6_ORACLE,
          description="F6: keep-last-13-months per group via window max")
def f6_retention_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    kept = filters.retention_window(t["orders"], ["o_orderstatus"], "o_orderdate", months=13)
    return kept.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


# ---------------------------------------------------------------------------
# J-family: joins & period lookups
# ---------------------------------------------------------------------------

_J1_ORACLE = """
WITH periodos AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS data_inicio FROM orders
), p2 AS (
  SELECT data_inicio,
         last_day(data_inicio) AS data_fim,
         CAST(year(data_inicio) AS VARCHAR) || '.M' || CAST(month(data_inicio) AS VARCHAR) AS codigo
  FROM periodos
)
SELECT codigo AS periodo_codigo,
       CAST(data_inicio AS TIMESTAMP) AS periodo_data_inicio,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
FROM orders JOIN p2
  ON CAST(o_orderdate AS DATE) BETWEEN data_inicio AND data_fim
GROUP BY 1, 2
"""


def _month_periods(orders: DataFrame) -> DataFrame:
    """The reference's `periodos` dim derived from the fact's date span
    (FIXTURES.md §1.1): one row per month with inicio/fim/codigo."""
    return (
        orders.select(F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("data_inicio"))
        .distinct()
        .withColumn("data_fim", F.last_day(F.col("data_inicio")))
        .withColumn(
            "codigo",
            F.concat(
                F.year("data_inicio").cast("string"), F.lit(".M"), F.month("data_inicio").cast("string")
            ),
        )
    )


@register("j1_period_range_join", oracle=_J1_ORACLE, bench=True,
          description="J1: date→period broadcast range join (general interval form)")
def j1_period_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..cache import persist_tracked

    t = load_tables(spark, sf_dir)
    # r13 (guide §2.4): the period dim is itself derived from the
    # fact's dates, so derive BOTH it and range_join's distinct-date
    # decide relation from ONE persisted distinct-date pass — the plan
    # had three orders scans (periods, distinct dates, fact), now two.
    # Same months (month set over distinct days == month set over all
    # rows), same dates, row-identical output.
    dates = persist_tracked(
        t["orders"].select(F.to_date(F.col("o_orderdate")).alias("__d")).distinct()
    )
    periods = (
        dates.select(
            F.to_date(F.date_trunc("month", F.col("__d"))).alias("data_inicio")
        )
        .distinct()
        .withColumn("data_fim", F.last_day(F.col("data_inicio")))
        .withColumn(
            "codigo",
            F.concat(
                F.year("data_inicio").cast("string"), F.lit(".M"),
                F.month("data_inicio").cast("string"),
            ),
        )
    )
    enriched = joins.range_join(
        t["orders"],
        periods,
        F.to_date(F.col("o_orderdate")),
        attach={"codigo": "periodo_codigo", "data_inicio": "periodo_data_inicio"},
        dates=dates,
    )
    return enriched.groupBy("periodo_codigo", "periodo_data_inicio").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (F.sum(_cents("o_totalprice")).cast("double") / 100.0).alias("total_price"),
    ).withColumn("periodo_data_inicio", F.col("periodo_data_inicio").cast("timestamp"))


@register("j1_period_equi_join", oracle=_J1_ORACLE,
          description="J1 fast path: calendar-month equi-join (BroadcastHashJoin)")
def j1_period_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    periods = _month_periods(t["orders"])
    enriched = joins.period_equi_join(
        t["orders"],
        periods,
        F.col("o_orderdate"),
        attach={"codigo": "periodo_codigo", "data_inicio": "periodo_data_inicio"},
    )
    return enriched.groupBy("periodo_codigo", "periodo_data_inicio").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (F.sum(_cents("o_totalprice")).cast("double") / 100.0).alias("total_price"),
    ).withColumn("periodo_data_inicio", F.col("periodo_data_inicio").cast("timestamp"))


@register("j1_period_bucketed_range_join", oracle=_J1_ORACLE, bench=True,
          description="J1 scale path: interval→month-bucket explode + hash join + residual filter")
def j1_period_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    periods = _month_periods(t["orders"])
    enriched = joins.bucketed_range_join(
        t["orders"],
        periods,
        F.to_date(F.col("o_orderdate")),
        attach={"codigo": "periodo_codigo", "data_inicio": "periodo_data_inicio"},
    )
    return enriched.groupBy("periodo_codigo", "periodo_data_inicio").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (F.sum(_cents("o_totalprice")).cast("double") / 100.0).alias("total_price"),
    ).withColumn("periodo_data_inicio", F.col("periodo_data_inicio").cast("timestamp"))


_J4_ORACLE = """
WITH periodos AS (
  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS data_inicio FROM orders
), p2 AS (
  SELECT data_inicio, last_day(data_inicio) AS data_fim FROM periodos
)
SELECT CAST(data_inicio AS TIMESTAMP) AS data_inicio,
       CAST(data_fim AS TIMESTAMP) AS data_fim,
       CAST(LEAD(data_inicio) OVER (ORDER BY data_inicio) AS TIMESTAMP) AS next_data_inicio
FROM p2
"""


@register("j4_next_period_lead", oracle=_J4_ORACLE,
          description="J4: successor period via lead() over the period dim")
def j4_next_period_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    periods = _month_periods(t["orders"]).select("data_inicio", "data_fim")
    out = joins.with_next_period(periods, order_col="data_inicio")
    return out.select(
        F.col("data_inicio").cast("timestamp").alias("data_inicio"),
        F.col("data_fim").cast("timestamp").alias("data_fim"),
        F.col("next_data_inicio").cast("timestamp").alias("next_data_inicio"),
    )


# ---------------------------------------------------------------------------
# A-family: aggregation shapes
# ---------------------------------------------------------------------------

_A1_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price,
       MIN(o_orderdate) AS first_date,
       MAX(o_orderdate) AS last_date
FROM orders
GROUP BY o_orderstatus
"""


@register("a1_partition_rollup", oracle=_A1_ORACLE,
          description="A1: groupBy multi-agg incl. deterministic list agg")
def a1_partition_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["orders"].groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        # string_agg semantics: NULLs are skipped, and a group with no
        # non-NULL priority aggregates to NULL — not '' (collect_set
        # already skips NULLs; the empty-set case needs the explicit
        # NULL to match the oracle when a hostile NULL-priority row
        # forms its own group).
        F.when(
            F.size(sorted_set_agg("o_orderpriority")) == 0, F.lit(None).cast("string")
        ).otherwise(F.array_join(sorted_set_agg("o_orderpriority"), ","))
        .alias("priorities"),
        (F.sum(_cents("o_totalprice")).cast("double") / 100.0).alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


_A4_ORACLE = """
WITH cleaned AS (
  SELECT
    CASE WHEN regexp_matches(cnpj, '^0+$') THEN NULL ELSE cnpj END AS cnpj,
    CASE WHEN regexp_matches(muni, '^0+$') OR regexp_matches(muni, '^9+$') THEN NULL ELSE muni END AS muni,
    CASE WHEN idade = '999' THEN NULL ELSE idade END AS idade
  FROM (
    SELECT
      CASE WHEN o_orderkey % 37 = 0 THEN repeat('0', 14)
           ELSE lpad(CAST(o_orderkey AS VARCHAR), 14, '0') END AS cnpj,
      CASE WHEN o_orderkey % 41 = 0 THEN '999999'
           ELSE lpad(CAST(o_orderkey % 1000 AS VARCHAR), 6, '0') END AS muni,
      CASE WHEN o_orderkey % 43 = 0 THEN '999'
           ELSE CAST(o_orderkey % 120 AS VARCHAR) END AS idade
    FROM orders
  )
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN cnpj IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_cnpj,
       CAST(SUM(CASE WHEN muni IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_muni,
       CAST(SUM(CASE WHEN idade IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_idade
FROM cleaned
"""


def _synthetic_codes(orders: DataFrame) -> DataFrame:
    """DATASUS-style code columns synthesized from orderkeys: all-zero
    CNPJs, all-nine municipality codes, '999' ages (FIXTURES.md §2.1)."""
    return orders.select(
        F.when(F.col("o_orderkey") % 37 == 0, F.lit("0" * 14))
        .otherwise(F.lpad(F.col("o_orderkey").cast("string"), 14, "0"))
        .alias("cnpj"),
        F.when(F.col("o_orderkey") % 41 == 0, F.lit("999999"))
        .otherwise(F.lpad((F.col("o_orderkey") % 1000).cast("string"), 6, "0"))
        .alias("muni"),
        F.when(F.col("o_orderkey") % 43 == 0, F.lit("999"))
        .otherwise((F.col("o_orderkey") % 120).cast("string"))
        .alias("idade"),
    )


@register("a4_null_validator", oracle=_A4_ORACLE,
          description="A4 + C3/C4: null-normalization then null-count validation")
def a4_null_validator(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    codes = _synthetic_codes(t["orders"])
    cleaned = codes.select(
        cleaning.all_zeros_to_null(F.col("cnpj")).alias("cnpj"),
        cleaning.all_nines_to_null(cleaning.all_zeros_to_null(F.col("muni"))).alias("muni"),
        cleaning.literal_to_null(F.col("idade"), "999").alias("idade"),
    )
    return null_counts(cleaned, ["cnpj", "muni", "idade"])


# ---------------------------------------------------------------------------
# R-family: reshape
# ---------------------------------------------------------------------------

_R1_ORACLE = """
SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part
"""


@register("r1_unpivot_melt", oracle=_R1_ORACLE,
          description="R1: wide→long unpivot (SISAB melt)")
def r1_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    wide = t["part"].select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    )
    return melt(wide, ["p_partkey"], ["p_size", "p_retailprice"], "variable", "value")


_R2_ORACLE = """
SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS mktsegment, 'customer' AS src FROM customer
UNION ALL
SELECT s_name, s_acctbal, CAST(NULL AS VARCHAR), 'supplier' FROM supplier
"""


@register("r2_union_harmonized", oracle=_R2_ORACLE,
          description="R2/P4: unionByName with missing-column harmonization")
def r2_union_harmonized(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("src"),
    )
    supp = t["supplier"].select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("src"),
    )
    return union_harmonized(cust, supp).select("name", "acctbal", "mktsegment", "src")


# ---------------------------------------------------------------------------
# P-family: projections / string surgery
# ---------------------------------------------------------------------------

_P7_ORACLE = """
SELECT p_partkey,
       substr(lpad(CAST(p_partkey AS VARCHAR), 9, '0'), 1, 3) AS servico,
       substr(lpad(CAST(p_partkey AS VARCHAR), 9, '0'), 4, 6) AS classificacao,
       CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS BIGINT) AS brand_num
FROM part
"""


@register("p7_p8_code_split", oracle=_P7_ORACLE,
          description="P7/P8: substring split + regex extraction")
def p7_p8_code_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    code = cleaning.zfill(F.col("p_partkey").cast("string"), 9)
    return t["part"].select(
        "p_partkey",
        F.substring(code, 1, 3).alias("servico"),
        F.substring(code, 4, 6).alias("classificacao"),
        F.regexp_extract(F.col("p_brand"), r"Brand#(\d+)", 1).cast("long").alias("brand_num"),
    )


# ---------------------------------------------------------------------------
# C-family: scalar cleaning / typing / dates
# ---------------------------------------------------------------------------

_C1_ORACLE = """
WITH flags AS (
  SELECT CASE o_orderstatus WHEN 'O' THEN '1' WHEN 'F' THEN '0' ELSE '' END AS f01,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 'M' ELSE 'I' END AS fm
  FROM orders
)
SELECT CAST(CASE WHEN f01 = '1' THEN TRUE WHEN f01 = '0' THEN FALSE ELSE NULL END AS VARCHAR) AS decoded,
       CAST(CASE WHEN fm IS NULL THEN NULL ELSE fm = 'M' END AS VARCHAR) AS mantido,
       CAST(COUNT(*) AS BIGINT) AS n
FROM flags
GROUP BY 1, 2
"""


@register("c1_c2_bool_decode", oracle=_C1_ORACLE,
          description="C1/C2: tri-state '0'/'1' and letter-flag boolean decode")
def c1_c2_bool_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    flags = t["orders"].select(
        F.when(F.col("o_orderstatus") == "O", "1")
        .when(F.col("o_orderstatus") == "F", "0")
        .otherwise("")
        .alias("f01"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "M").otherwise("I").alias("fm"),
    )
    # boolean semantics computed natively; cast to string at the output
    # boundary so NULL-able booleans compare identically across engines
    return flags.select(
        cleaning.decode_bool_01(F.col("f01")).cast("string").alias("decoded"),
        cleaning.decode_bool_flag(F.col("fm"), "M").cast("string").alias("mantido"),
    ).groupBy("decoded", "mantido").agg(F.count(F.lit(1)).alias("n"))


def _build_roman_case() -> str:
    from ..functions.cleaning import _int_to_roman

    whens = "\n".join(
        f"         WHEN r = '{_int_to_roman(n)}' THEN '{n}'" for n in range(1, 51)
    )
    return f"CASE\n{whens}\n         ELSE r END"


def _roman_of_n_sql() -> str:
    from ..functions.cleaning import _int_to_roman

    whens = "\n".join(f"    WHEN n = {k} THEN '{_int_to_roman(k)}'" for k in range(1, 27))
    return f"CASE\n{whens}\n    ELSE 'ABC' END"


_C6_ORACLE = f"""
WITH src AS (
  SELECT CAST(c_custkey % 27 AS INTEGER) AS n FROM customer
), src2 AS (
  SELECT CASE WHEN n = 0 THEN 'ABC' ELSE {_roman_of_n_sql()} END AS r FROM src
)
SELECT r AS roman, {_build_roman_case()} AS decoded, CAST(COUNT(*) AS BIGINT) AS n
FROM src2 GROUP BY 1, 2
"""


@register("c6_roman_numerals", oracle=_C6_ORACLE,
          description="C6: roman numeral decode with pass-through on invalid")
def c6_roman_numerals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.cleaning import _int_to_roman

    t = load_tables(spark, sf_dir)
    n = (F.col("c_custkey") % 27).cast("int")
    roman_expr = None
    for k in range(1, 27):
        cond = n == k
        val = F.lit(_int_to_roman(k))
        roman_expr = F.when(cond, val) if roman_expr is None else roman_expr.when(cond, val)
    roman_expr = roman_expr.otherwise(F.lit("ABC"))
    src = t["customer"].select(F.when(n == 0, "ABC").otherwise(roman_expr).alias("r"))
    return src.select(
        F.col("r").alias("roman"),
        cleaning.roman_to_int_string(F.col("r"), max_value=50).alias("decoded"),
    ).groupBy("roman", "decoded").agg(F.count(F.lit(1)).alias("n"))


_C9_ORACLE = """
WITH raw AS (
  SELECT o_orderkey, o_orderdate,
         CASE WHEN o_orderkey % 97 = 0 THEN '000000' ELSE strftime(o_orderdate, '%Y%m') END AS ym,
         strftime(o_orderdate, '%Y%m')
           || CASE WHEN day(o_orderdate) < 10 THEN ' ' || CAST(day(o_orderdate) AS VARCHAR)
                   ELSE lpad(CAST(day(o_orderdate) AS VARCHAR), 2, '0') END AS ymd_sp,
         strftime(o_orderdate, '%d/%m/%Y') AS dmy,
         CASE month(o_orderdate)
           WHEN 1 THEN 'JAN' WHEN 2 THEN 'FEV' WHEN 3 THEN 'MAR' WHEN 4 THEN 'ABR'
           WHEN 5 THEN 'MAI' WHEN 6 THEN 'JUN' WHEN 7 THEN 'JUL' WHEN 8 THEN 'AGO'
           WHEN 9 THEN 'SET' WHEN 10 THEN 'OUT' WHEN 11 THEN 'NOV' WHEN 12 THEN 'DEZ'
         END || '/' || CAST(year(o_orderdate) AS VARCHAR) AS pt
  FROM orders
)
SELECT CAST(try_strptime(ym, '%Y%m') AS TIMESTAMP) AS parsed_ym,
       CAST(try_strptime(replace(ymd_sp, ' ', '0'), '%Y%m%d') AS TIMESTAMP) AS parsed_ymd,
       CAST(try_strptime(dmy, '%d/%m/%Y') AS TIMESTAMP) AS parsed_dmy,
       CAST(try_strptime(
         substr(pt, 5, 4) || CASE substr(pt, 1, 3)
           WHEN 'JAN' THEN '01' WHEN 'FEV' THEN '02' WHEN 'MAR' THEN '03' WHEN 'ABR' THEN '04'
           WHEN 'MAI' THEN '05' WHEN 'JUN' THEN '06' WHEN 'JUL' THEN '07' WHEN 'AGO' THEN '08'
           WHEN 'SET' THEN '09' WHEN 'OUT' THEN '10' WHEN 'NOV' THEN '11' WHEN 'DEZ' THEN '12' END,
         '%Y%m') AS TIMESTAMP) AS parsed_pt,
       CAST(COUNT(*) AS BIGINT) AS n
FROM raw
GROUP BY 1, 2, 3, 4
"""


@register("c9_c14_date_parse", oracle=_C9_ORACLE,
          description="C9/C10/C11/C14: date dialect parsing incl. coerce-to-NULL")
def c9_c14_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = F.col("o_orderdate")
    day = F.dayofmonth(d)
    pt_month = None
    for m, ab in enumerate(
        ["JAN", "FEV", "MAR", "ABR", "MAI", "JUN", "JUL", "AGO", "SET", "OUT", "NOV", "DEZ"], start=1
    ):
        cond = F.month(d) == m
        pt_month = F.when(cond, ab) if pt_month is None else pt_month.when(cond, ab)
    raw = t["orders"].select(
        F.when(F.col("o_orderkey") % 97 == 0, "000000")
        .otherwise(F.date_format(d, "yyyyMM"))
        .alias("ym"),
        F.concat(
            F.date_format(d, "yyyyMM"),
            F.when(day < 10, F.concat(F.lit(" "), day.cast("string"))).otherwise(
                F.lpad(day.cast("string"), 2, "0")
            ),
        ).alias("ymd_sp"),
        F.date_format(d, "dd/MM/yyyy").alias("dmy"),
        F.concat(pt_month, F.lit("/"), F.year(d).cast("string")).alias("pt"),
    )
    # parse as DATE (the engine semantics), emit as TIMESTAMP so both
    # engines' pandas interchange agrees on the dtype
    return raw.select(
        dates.from_yyyymm(F.col("ym")).cast("timestamp").alias("parsed_ym"),
        dates.from_yyyymmdd(F.col("ymd_sp")).cast("timestamp").alias("parsed_ymd"),
        dates.from_ddmmyyyy(F.col("dmy")).cast("timestamp").alias("parsed_dmy"),
        dates.from_month_abbrev_pt(F.col("pt")).cast("timestamp").alias("parsed_pt"),
    ).groupBy("parsed_ym", "parsed_ymd", "parsed_dmy", "parsed_pt").agg(
        F.count(F.lit(1)).alias("n")
    )


_C16_ORACLE = """
SELECT CASE WHEN days IS NULL THEN NULL ELSE CAST(days AS VARCHAR) || ' days' END AS permanencia,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
GROUP BY 1
"""


@register("c16_interval_text", oracle=_C16_ORACLE,
          description="C16: day-count → 'N days' interval text")
def c16_interval_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    joined = t["lineitem"].join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long")
    return (
        joined.select(dates.days_to_interval_text(days).alias("permanencia"))
        .groupBy("permanencia")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_C19_ORACLE = """
WITH s AS (
  SELECT o_totalprice,
         translate(format('{:,}', CAST(round(o_totalprice * 100) AS BIGINT) // 100), ',', '.')
           || ',' || lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS VARCHAR), 2, '0') AS ptbr
  FROM orders
), p AS (
  SELECT o_totalprice,
         CAST(replace(replace(ptbr, '.', ''), ',', '.') AS DOUBLE) AS parsed
  FROM s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(parsed * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(SUM(CASE WHEN parsed <> o_totalprice THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
FROM p
"""


@register("c19_decimal_comma", oracle=_C19_ORACLE,
          description="C19: decimal-comma/thousands-dot round-trip parse")
def c19_decimal_comma(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cents = _cents("o_totalprice")
    # build the pt-BR rendering ('1.234,56') from exact integer cents
    int_part = F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100")
    ptbr = F.concat(
        F.translate(F.format_number(int_part, 0), ",", "."),
        F.lit(","),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )
    parsed = cleaning.parse_decimal_comma(ptbr)
    return t["orders"].select(
        parsed.alias("parsed"), F.col("o_totalprice").alias("orig")
    ).select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("parsed") * 100, 0).cast("long")).alias("sum_cents"),
        F.sum(F.when(F.col("parsed") != F.col("orig"), 1).otherwise(0)).cast("long").alias("n_mismatch"),
    )


_C18_ORACLE = """
WITH typed AS (
  SELECT l_linestatus,
         CASE WHEN l_orderkey % 7 = 0 THEN NULL
              ELSE CAST(CAST(CAST(round(l_quantity) AS BIGINT) AS VARCHAR) || '.0' AS DOUBLE) END AS qty_d,
         CASE WHEN l_orderkey % 2 = 0 THEN 'True' ELSE 'False' END AS flag_str
  FROM lineitem
)
SELECT l_linestatus,
       CAST(SUM(COALESCE(CAST(qty_d AS BIGINT), 0)) AS BIGINT) AS sum_filled,
       CAST(SUM(CASE WHEN qty_d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(SUM(CASE WHEN flag_str = 'True' THEN 1 ELSE 0 END) AS BIGINT) AS n_true
FROM typed
GROUP BY l_linestatus
"""


@register("c18_c20_typed_measures", oracle=_C18_ORACLE,
          description="C18/C20: NULL→0 fill + two-phase str→long cast + 'True' decode")
def c18_c20_typed_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    qty_str = F.concat(F.round(F.col("l_quantity"), 0).cast("long").cast("string"), F.lit(".0"))
    typed = t["lineitem"].select(
        "l_linestatus",
        F.when(F.col("l_orderkey") % 7 == 0, None)
        .otherwise(qty_str.cast("double"))
        .alias("qty_d"),
        F.when(F.col("l_orderkey") % 2 == 0, "True").otherwise("False").alias("flag_str"),
    )
    return typed.groupBy("l_linestatus").agg(
        F.sum(cleaning.fill_zero_long(F.col("qty_d").cast("long"))).alias("sum_filled"),
        F.sum(F.when(F.col("qty_d").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.sum(F.when(F.col("flag_str") == "True", 1).otherwise(0)).cast("long").alias("n_true"),
    )


# ---------------------------------------------------------------------------
# market-basket pair mining: support / confidence / lift over order items
# ---------------------------------------------------------------------------

_MB_MIN_PAIR = 3   # minimum co-occurrence count (a-priori support prune)

_MARKET_BASKET_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
item_n AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM items GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MB_MIN_PAIR}
)
SELECT p.part_a, p.part_b, p.n_pair,
       CAST(p.n_pair * 10000 // o.n AS BIGINT) AS support_bp,
       CAST(p.n_pair * 10000 // na.n_item AS BIGINT) AS conf_a_to_b_bp,
       CAST(p.n_pair * 10000 // nb.n_item AS BIGINT) AS conf_b_to_a_bp,
       CAST(p.n_pair * o.n * 1000 // (na.n_item * nb.n_item) AS BIGINT) AS lift_milli
FROM pairs p
JOIN item_n na ON na.l_partkey = p.part_a
JOIN item_n nb ON nb.l_partkey = p.part_b
CROSS JOIN n_orders o
"""


@register("orders_market_basket", oracle=_MARKET_BASKET_ORACLE,
          description="market-basket pair mining: co-occurrence support, "
                      "directional confidence, lift over order item pairs "
                      "(a-priori level 2)")
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori level-2 association mining over orders: which part
    pairs co-occur beyond chance (lift > 1000 milli), with directional
    confidence for the "customers who bought A…" readout.

    Scale shape: the pair enumeration is a self-equi-join of the
    distinct (order, part) relation ON THE ORDER KEY — fan-out per
    order is C(items,2) with basket size bounded by the schema (≤7
    lineitems/order in TPC-H; real baskets are similarly tiny), so the
    explode is linear in orders, then immediately aggregated
    map-side. The a-priori prune (HAVING n_pair ≥ minsup) happens at
    the aggregate BEFORE the metric joins; item marginals are a
    |parts|-sized broadcast; the order total is a 1-row scalar
    (whitelisted). All metrics are floored integer bp/milli off BIGINT
    counts — engine-exact.
    """
    t = load_tables(spark, sf_dir)
    items = t["lineitem"].select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    item_n = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= _MB_MIN_PAIR)
    )
    na = item_n.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    nb = item_n.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_pair",
            F.expr("n_pair * 10000 div n").cast("long").alias("support_bp"),
            F.expr("n_pair * 10000 div n_a").cast("long").alias("conf_a_to_b_bp"),
            F.expr("n_pair * 10000 div n_b").cast("long").alias("conf_b_to_a_bp"),
            F.expr("n_pair * n * 1000 div (n_a * n_b)").cast("long").alias("lift_milli"),
        )
    )
