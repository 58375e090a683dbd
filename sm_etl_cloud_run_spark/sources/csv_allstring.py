"""All-string CSV scan (SURVEY §2.1 S6).

The reference reads every bronze CSV with `dtype=str`
(utilitarios/cloud_storage.py:57,109) — schema-on-read suppressed, typing
deferred to the load stage (C20). Spark reads every CSV column as a
string unless `inferSchema` is set, which would both scan twice and
guess types the load stage owns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv_allstring(spark: SparkSession, path: str) -> DataFrame:
    """Read a headed CSV with every column as a nullable string. Only
    the header line is read up front, in one tiny job, to name the
    columns — not an inference pass."""
    return spark.read.option("header", True).csv(path)
