"""Projection / column-shaping operators (SURVEY §2.3 P1–P6).

Reference cites (into /root/reference/):
- P1 bulk rename via de-para map — etl/siasus_procedimentos_ambulatoriais.py:36-99
  applied :229-230 (and every other ETL)
- P2 header normalization (strip/upper) — ibid. :229
- P3 constant/audit columns — ibid. :348-356
- P5 drop — ibid. :325
- P6 reorder/projection to fixed list — etl/sisab_resolutividade_por_condicao.py:100-111

All narrow transformations — pure projections, zero shuffle, fully
codegen'd; Catalyst collapses chains of these into one project node.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame


def normalize_headers(df: DataFrame, *, case: str = "upper") -> DataFrame:
    """P2: strip whitespace and unify case of column names."""
    fn = str.upper if case == "upper" else str.lower
    return df.toDF(*[fn(c.strip()) for c in df.columns])


def rename_map(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P1: bulk rename via source→target map; absent sources are ignored
    (vintage tolerance, like pandas `rename`)."""
    present = {k: v for k, v in mapping.items() if k in df.columns}
    return df.withColumnsRenamed(present)


def add_constants(df: DataFrame, constants: Mapping[str, Column]) -> DataFrame:
    """P3: attach constant/audit columns (literals, current_timestamp...)."""
    return df.withColumns(dict(constants))


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P6: fixed column list + order (reindex/reorder_columns)."""
    return df.select(*columns)
