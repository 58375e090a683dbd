"""Aggregation operators (SURVEY §2.6).

- A1 deterministic list aggregation
  (etl/datasus_ftp_metadados.py:129-161 — `particao=list, tamanho=sum,
  ts=max/min/first`)
- A4 null-count validators (etl/siasus_procedimentos_ambulatoriais.py:366-378)

Scale: all aggregations are hash aggregates with map-side partial
aggregation (Spark does this automatically); list aggregation uses
`collect_list` bounded by per-group cardinality — fine for the
partition-name use-case, guarded elsewhere for unbounded groups.
Deterministic variants sort the collected array (distributed collect
order is not stable).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sorted_set_agg(col: str | Column) -> Column:
    """Deterministic distinct list aggregation."""
    return F.array_sort(F.collect_set(col))


def null_counts(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """A4: one row with a null count per listed column — the validation
    aggregate the reference asserts on before sinking."""
    return df.select(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in columns],
    )
