"""Watermark control-table updates (K7) — the incremental-run ledger.

Reference: `inserir_timestamp_ftp_metadados` updates one timestamp
column for the (tipo, UF, período) rows just processed
(utilitarios/bd_utilitarios.py:286-338).

Spark-native: a small parquet control table updated via the merge
machinery — conditional column rewrite on matching keys, atomic swap.
"""

from __future__ import annotations

import os
from collections.abc import Collection

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .merge import _atomic_replace


def touch_watermark(
    spark: SparkSession,
    control_path: str,
    match: dict[str, Collection[object]],
    timestamp_col: str,
) -> None:
    """Set `timestamp_col = current_timestamp()` on control rows whose
    every `match` column holds one of its listed values — one atomic
    control rewrite for a whole batch of files."""
    if not os.path.exists(control_path):
        raise FileNotFoundError(control_path)
    cond = F.lit(True)
    for k, values in match.items():
        if isinstance(values, str):
            raise TypeError(f"match[{k!r}] must be a collection of values, got {values!r}")
        cond = cond & F.col(k).isin(list(values))
    control = spark.read.parquet(control_path)
    updated = control.withColumn(
        timestamp_col, F.when(cond, F.current_timestamp()).otherwise(F.col(timestamp_col))
    )
    _atomic_replace(spark, updated, control_path)
