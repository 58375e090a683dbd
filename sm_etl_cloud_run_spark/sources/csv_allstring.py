"""All-string CSV scan (SURVEY §2.1 S6).

The reference reads every bronze CSV with `dtype=str`
(utilitarios/cloud_storage.py:57,109) — schema-on-read suppressed, typing
deferred to the load stage (C20). Spark equivalent: explicit all-
StringType schema (never `inferSchema`, which would both scan twice and
guess types the load stage owns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv_allstring(
    spark: SparkSession,
    path: str,
    *,
    columns: list[str] | None = None,
    encoding: str = "UTF-8",
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """Read CSV with every column as nullable string.

    If `columns` is given, the schema is fixed up front (single pass, no
    inference job); otherwise only the header line is read to discover
    names.
    """
    reader = spark.read.option("header", header).option("encoding", encoding).option("sep", sep)
    if columns is None:
        # One tiny job over the header only — not an inference pass.
        head = spark.read.option("header", True).option("encoding", encoding).option("sep", sep).csv(path)
        columns = head.columns
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
    return reader.schema(schema).csv(path)
