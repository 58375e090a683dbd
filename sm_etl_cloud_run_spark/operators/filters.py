"""Filter operators (SURVEY §2.4).

Reference cites (into /root/reference/):
- F1 panel membership — utilitarios/config_painel_sm.py:8-20 applied
  etl/siasus_procedimentos_ambulatoriais.py:206-209. The reference pulls
  the id list to the client and uses `isin`; at scale that list doesn't
  fit a literal, so the idiomatic form is a broadcast LEFT SEMI join.
- F2 mental-health condition predicate — utilitarios/config_painel_sm.py:67
  (equality + startswith prefixes + regex + IN-list, OR-combined).
- F3 conditional null update — etl/siasus_procedimentos_ambulatoriais.py:281-313.
- F6 keep-last-N-months per group — etl/datasus_ftp_metadados.py:203-205.

Scale: the semi-join broadcasts the panel (thousands of rows); the
composite predicate is a single codegen'd boolean expression pushed at
the parquet scan where columns allow.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def panel_semi_join(fact: DataFrame, panel: DataFrame, fact_key: str, panel_key: str) -> DataFrame:
    """F1: keep fact rows whose key appears in the (small) panel dim.

    LEFT SEMI + broadcast — no shuffle of the fact side, no row
    duplication if the panel has repeated keys.
    """
    cond = fact[fact_key] == panel[panel_key]
    return fact.join(F.broadcast(panel), cond, "left_semi")


def composite_condition(
    *,
    equals: Sequence[tuple[Column, str]] = (),
    prefixes: Sequence[tuple[Column, Sequence[str]]] = (),
    rlikes: Sequence[tuple[Column, str]] = (),
    isin: Sequence[tuple[Column, Sequence[str]]] = (),
) -> Column:
    """F2: OR-combination of equality / prefix / regex / membership tests.

    Mirrors the reference's flagship filter shape (`condicoes_pa`): a big
    OR of `==`, `str.startswith`, `str.contains(regex)` and `isin` terms,
    as one Catalyst boolean column.
    """
    terms: list[Column] = []
    terms += [col == val for col, val in equals]
    for col, prefs in prefixes:
        terms += [col.startswith(p) for p in prefs]
    terms += [col.rlike(pat) for col, pat in rlikes]
    terms += [col.isin(list(vals)) for col, vals in isin]
    if not terms:
        return F.lit(True)
    out = terms[0]
    for t in terms[1:]:
        out = out | t
    return out


def null_when(df: DataFrame, cond: Column, *columns: str) -> DataFrame:
    """F3: set `columns` to NULL where `cond` holds (pyjanitor
    `update_where` semantics)."""
    return df.withColumns({c: F.when(cond, None).otherwise(F.col(c)) for c in columns})


def retention_window(
    df: DataFrame, group_cols: Sequence[str], date_col: str, months: int = 13
) -> DataFrame:
    """F6: keep rows within `months` of each group's max date.

    Window max (one shuffle on the group key) — at scale prefer this to a
    groupBy+join because it reuses a single exchange.
    """
    w = Window.partitionBy(*group_cols)
    max_d = F.max(date_col).over(w)
    return (
        df.withColumn("__max_d", max_d)
        .where(F.col(date_col) >= F.add_months(F.col("__max_d"), -months))
        .drop("__max_d")
    )


def watermark_gate(
    control: DataFrame,
    *,
    source_ts: str,
    sink_ts: str,
) -> DataFrame:
    """F4: rows whose source is newer than the sink (or never sunk).

    `sink_ts IS NULL OR source_ts > sink_ts` — the reference's
    run/skip predicate (scripts/verificar_e_executar.py:36-58).
    """
    return control.where(F.col(sink_ts).isNull() | (F.col(source_ts) > F.col(sink_ts)))


def sliding_month_gate(control: DataFrame, date_col: str) -> DataFrame:
    """F5: SISAB sliding window — periods between (first-of-month − 5mo)
    and (first-of-month − 2mo) (scripts/verificar_e_executar.py:170-198)."""
    first = F.trunc(F.current_date(), "MM")
    lo = F.add_months(first, -5)
    hi = F.add_months(first, -2)
    return control.where((F.col(date_col) >= lo) & (F.col(date_col) <= hi))
