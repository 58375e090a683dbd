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


def null_counts(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """A4: one row with a null count per column — the validation aggregate
    the reference asserts on before sinking."""
    cols = list(columns) if columns else df.columns
    return df.select(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in cols],
    )


def assert_no_nulls(df: DataFrame, columns: Sequence[str]) -> None:
    """Fail-fast validator (reference wraps these into RuntimeError)."""
    row = null_counts(df, columns).collect()[0]
    bad = {c: row[f"nulls_{c}"] for c in columns if row[f"nulls_{c}"]}
    if bad:
        raise RuntimeError(f"null values in guarded columns: {bad}")


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    candidates: Sequence[int],
    *,
    eps: float = 0.0001,
    confidence: float = 0.99,
    seed: int = 42,
) -> list[tuple[int, int]]:
    """Count-Min-sketch frequency estimates for `candidates` — the
    one-pass sketch twin of the exact heavy-hitters aggregate
    (`events_heavy_hitters_exact`): O(eps⁻¹·log δ⁻¹) state instead of a
    |keys|-sized aggregate, mergeable across partitions/days like the
    HLL family, with the classic CMS guarantee true ≤ est ≤ true+eps·N.

    The sketch is built distributed (`F.count_min_sketch`, one
    map-side-combined aggregate to a ~KB blob); estimation deserializes
    the blob driver-side via Spark's own CountMinSketch — parameter-
    sized work on a parameter-sized object, the same contract as the
    kmeans/PQ seed collects. Accuracy is pytest-bounded against the
    exact twin (tests/test_plans.py); no DuckDB oracle exists because
    the blob layout is Spark-specific (same rows-only reasoning as the
    HLL queries).
    """
    blob = df.agg(
        F.count_min_sketch(
            F.col(key_col).cast("long"), F.lit(float(eps)),
            F.lit(float(confidence)), F.lit(seed),
        ).alias("s")
    ).collect()[0]["s"]
    jvm = df.sparkSession._jvm
    bio = jvm.java.io.ByteArrayInputStream(bytes(blob))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bio)
    return [(int(k), int(cms.estimateCount(int(k)))) for k in candidates]
