"""Oracle-checked query for the generic fact-pipeline machinery.

Synthesizes an all-string raw frame from `orders` (DATASUS-shaped:
yyyyMM competências, '0'/'1' flags, zero-padded codes, '999'
sentinels), pushes it through :func:`pipelines.base.transform_fact`
with a miniature FactSpec — panel filter, composite condition, rename,
date coerce, null normalization, boolean decode, split, period + geo
lookups — and mirrors the whole chain in SQL. This puts the pipeline
ENGINE (not just its operators) under the driver's hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.filters import composite_condition
from ..pipelines.base import FactSpec, transform_fact
from ..tables import load_tables
from .registry import register

_PANEL = [f"{i:06d}" for i in range(10)]  # munis '000000'..'000009'

_MINI_SPEC = FactSpec(
    rename={
        "O_KEY": "pedido_id",
        "COMPETEN": "competencia_data_inicio",
        "FLAG01": "desfecho",
        "MANT": "mantido",
        "CODE": "codigo",
        "MUNI": "muni_id_sus",
        "SRV": "servico_codigo",
        "IDADE": "idade",
    },
    yyyymm_dates=("competencia_data_inicio",),
    zeros_to_null=("codigo",),
    sentinels={"idade": ("999",)},
    bool01=("desfecho",),
    flag_true={"mantido": "M"},
    split3={"servico_codigo": ("servico", "classificacao")},
    period_date_col="competencia_data_inicio",
    geo_key_col="muni_id_sus",
    panel_raw_cols=("MUNI",),
    condition=lambda: composite_condition(
        equals=[(F.col("FLAG01"), "1"), (F.col("IDADE"), "999"), (F.col("CODE"), "00000000")],
    ),
)

_ORACLE = f"""
WITH raw AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS o_key,
         CASE WHEN o_orderkey % 97 = 0 THEN '000000' ELSE strftime(o_orderdate, '%Y%m') END AS competen,
         CASE o_orderstatus WHEN 'O' THEN '1' WHEN 'F' THEN '0' ELSE '' END AS flag01,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 'M' ELSE 'I' END AS mant,
         CASE WHEN o_orderkey % 37 = 0 THEN '00000000' ELSE lpad(CAST(o_orderkey AS VARCHAR), 8, '0') END AS code,
         lpad(CAST(o_custkey % 50 AS VARCHAR), 6, '0') AS muni,
         lpad(CAST(o_orderkey % 1000000 AS VARCHAR), 6, '0') AS srv,
         CASE WHEN o_orderkey % 43 = 0 THEN '999' ELSE CAST(o_orderkey % 120 AS VARCHAR) END AS idade
  FROM orders
),
filtered AS (
  SELECT * FROM raw
  WHERE muni IN ({", ".join(f"'{m}'" for m in _PANEL)})
    AND (flag01 = '1' OR idade = '999' OR code = '00000000')
)
SELECT o_key AS pedido_id,
       CAST(try_strptime(competen, '%Y%m') AS TIMESTAMP) AS competencia_data_inicio,
       CAST(CASE WHEN flag01 = '1' THEN TRUE WHEN flag01 = '0' THEN FALSE ELSE NULL END AS VARCHAR) AS desfecho,
       mant = 'M' AS mantido,
       CASE WHEN regexp_matches(code, '^0+$') THEN NULL ELSE code END AS codigo,
       muni AS muni_id_sus,
       CASE WHEN idade = '999' THEN NULL ELSE idade END AS idade,
       substr(srv, 1, 3) AS servico,
       substr(srv, 4) AS classificacao,
       CASE WHEN try_strptime(competen, '%Y%m') IS NOT NULL
            THEN 'p-' || strftime(try_strptime(competen, '%Y%m'), '%Y%m') END AS periodo_id,
       'm-' || muni AS unidade_geografica_id,
       'MINI2408.dbc' AS ftp_arquivo_nome
FROM filtered
"""


@register("pipeline_fact_transform", oracle=_ORACLE, bench=True,
          description="generic fact pipeline (transform_fact) under the hash gate")
def pipeline_fact_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    raw = o.select(
        F.col("o_orderkey").cast("string").alias("O_KEY"),
        F.when(F.col("o_orderkey") % 97 == 0, "000000")
        .otherwise(F.date_format("o_orderdate", "yyyyMM"))
        .alias("COMPETEN"),
        F.when(F.col("o_orderstatus") == "O", "1")
        .when(F.col("o_orderstatus") == "F", "0")
        .otherwise("")
        .alias("FLAG01"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "M").otherwise("I").alias("MANT"),
        F.when(F.col("o_orderkey") % 37 == 0, "00000000")
        .otherwise(F.lpad(F.col("o_orderkey").cast("string"), 8, "0"))
        .alias("CODE"),
        F.lpad((F.col("o_custkey") % 50).cast("string"), 6, "0").alias("MUNI"),
        F.lpad((F.col("o_orderkey") % 1000000).cast("string"), 6, "0").alias("SRV"),
        F.when(F.col("o_orderkey") % 43 == 0, "999")
        .otherwise((F.col("o_orderkey") % 120).cast("string"))
        .alias("IDADE"),
        F.lit("MINI2408.dbc").alias("ftp_arquivo_nome"),
    )
    periods = (
        o.select(F.to_date(F.date_trunc("month", "o_orderdate")).alias("data_inicio"))
        .distinct()
        .withColumn("id", F.concat(F.lit("p-"), F.date_format("data_inicio", "yyyyMM")))
    )
    geo = raw.select(F.col("MUNI").alias("id_sus")).distinct().withColumn(
        "id", F.concat(F.lit("m-"), F.col("id_sus"))
    )
    out = transform_fact(
        raw,
        _MINI_SPEC,
        panel_ids=_PANEL,
        periods=periods,
        geo=geo,
    )
    return out.select(
        "pedido_id",
        F.col("competencia_data_inicio").cast("timestamp").alias("competencia_data_inicio"),
        F.col("desfecho").cast("string").alias("desfecho"),
        "mantido",
        "codigo",
        "muni_id_sus",
        "idade",
        "servico",
        "classificacao",
        "periodo_id",
        "unidade_geografica_id",
        "ftp_arquivo_nome",
    )
