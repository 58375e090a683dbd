"""JDBC warehouse source (SURVEY §2.1 S7) — deploy-time connector.

The reference reflects Postgres tables lazily and queries them
per-value (utilitarios/bd_utilitarios.py:33-82); the Spark-native read
is one whole-table JDBC scan — right for the small dims the engine
broadcasts (periodos, ufs, unidades_geograficas) and for reading a
loaded table back. Credentials travel in the JDBC url
(`jdbc:postgresql://host/db?user=...&password=...`).

Verified live against the embedded Derby database whose driver ships in
Spark's own classpath (tests/test_jdbc_live.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jdbc_table(
    spark: SparkSession, url: str, table: str, *, num_partitions: int = 1,
) -> DataFrame:
    """S7: read a whole JDBC table over one connection, 10k rows per
    fetch. `num_partitions` is accepted and ignored: a whole-table read
    is one partition, and the benchmark's lifecycle workload
    (`perfbench/etl.py`) passes it."""
    if not url.startswith("jdbc:"):
        raise ValueError(f"not a JDBC url: {url!r}")
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", 10_000)
        .load()
    )
