"""Date/time parsing and formatting (SURVEY §2.8 C9–C17).

Reference behaviors (file:line cites into /root/reference/):

- C9  `YYYYMM → date`, invalid → NULL   — etl/siasus_procedimentos_ambulatoriais.py:231-239
- C10 `YYYYMMDD → date`, space-padded zeros tolerated — utilitarios/datas.py:28-62
- C11 `DD/MM/YYYY → date`               — etl/scnes_habilitacoes.py:203-210
- C12 (year, month) int cols → date     — etl/sihsus_aih_rd.py:246-260
- C13 US FTP `MM-DD-YY HH:MMAM` parse   — etl/datasus_ftp_metadados.py:188-198
      (parsed driver-side with the listing, in `sources/ftp_list.py`)
- C14 pt-BR month abbrev `ABR/2024`     — utilitarios/sisab_relatorio_producao_utilitarios.py:29-42
- C15 now() in GMT−3                    — utilitarios/datas.py:23-25
- C16 days-int → `'N days'` text        — etl/siasus_raas_ps.py:219-225
- C17 ISO-8601 serialization            — utilitarios/bd_utilitarios.py:207-211

Invalid-input semantics follow pandas `errors="coerce"` (→ NULL); the
session runs with ANSI off so Spark's `to_date`/`to_timestamp` return
NULL on malformed input.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def from_yyyymm(col: Column) -> Column:
    """C9: `'202408' → 2024-08-01`; malformed → NULL."""
    return F.to_date(col, "yyyyMM")


def from_yyyymmdd(col: Column) -> Column:
    """C10: `'20240801' → date`; tolerates the DATASUS space-for-zero quirk
    (`'2024 801'`) by pre-translating blanks to zeros; malformed → NULL."""
    return F.to_date(F.translate(col, " ", "0"), "yyyyMMdd")


def from_ddmmyyyy(col: Column) -> Column:
    """C11: `'01/08/2024' → date`; malformed → NULL."""
    return F.to_date(col, "dd/MM/yyyy")


def make_date_from_year_month(ano: Column, mes: Column) -> Column:
    """C12: integer (or numeric-string) year + month → first-of-month date."""
    return F.make_date(ano.cast("int"), mes.cast("int"), F.lit(1))


_PT_MONTHS = {
    "JAN": "01", "FEV": "02", "MAR": "03", "ABR": "04", "MAI": "05", "JUN": "06",
    "JUL": "07", "AGO": "08", "SET": "09", "OUT": "10", "NOV": "11", "DEZ": "12",
}


def from_month_abbrev_pt(col: Column) -> Column:
    """C14: `'AGO/2024' → 2024-08-01` via the 12-entry pt-BR month map."""
    expr = None
    for abbrev, mm in _PT_MONTHS.items():
        cond = F.upper(F.substring(col, 1, 3)) == abbrev
        val = F.to_date(F.concat(F.substring(col, 5, 4), F.lit(mm)), "yyyyMM")
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    assert expr is not None
    return expr.otherwise(F.lit(None).cast("date"))


def now_gmt_minus3() -> Column:
    """C15: current timestamp in GMT−3 (America/Sao_Paulo audit columns)."""
    return F.convert_timezone(F.lit("UTC"), F.lit("America/Sao_Paulo"), F.current_timestamp())


def days_to_interval_text(col: Column) -> Column:
    """C16: integer-string day count → `'N days'` text; NULL stays NULL."""
    return F.when(col.isNull(), None).otherwise(F.concat(col.cast("long").cast("string"), F.lit(" days")))


def to_iso8601(col: Column) -> Column:
    """C17: timestamp → ISO-8601 string (`2024-08-01T15:45:00`)."""
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
