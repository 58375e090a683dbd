"""Null-normalization, flag decoding and code cleaning (SURVEY §2.8 C1–C8, C18–C20).

Reference behaviors reproduced (file:line cites into /root/reference/):

- C1 `'0'/'1' → bool, else NULL`  — etl/siasus_procedimentos_ambulatoriais.py:107-114
- C2 single-letter flag → bool    — etl/siasus_raas_ps.py:191-198
- C3 all-zeros code → NULL        — etl/siasus_procedimentos_ambulatoriais.py:242-266
- C4 all-nines code → NULL        — ibid. :267-280
- C6 roman numeral → int string   — etl/scnes_vinculos.py:99-105
- C7 strip non-digits             — etl/scnes_vinculos.py:208-234
- C8 zero left-pad                — etl/scnes_vinculos.py:214-225
- C18 NULL→0 + int cast           — utilitarios/sisab_relatorio_producao_utilitarios.py:311-314
- C19 decimal-comma parse         — ibid. :213-221
- empty-string → NULL             — etl/siasus_procedimentos_ambulatoriais.py:241

All are pure Column → Column combinators: composable, codegen-friendly,
no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def empty_to_null(col: Column) -> Column:
    """`'' → NULL` (reference: `.replace("", np.nan)`)."""
    return F.when(col == "", None).otherwise(col)


def all_zeros_to_null(col: Column) -> Column:
    """C3: a code consisting only of '0's (any length ≥1) becomes NULL."""
    return F.when(col.rlike(r"^0+$"), None).otherwise(col)


def all_nines_to_null(col: Column) -> Column:
    """C4: a code consisting only of '9's becomes NULL."""
    return F.when(col.rlike(r"^9+$"), None).otherwise(col)


def literal_to_null(col: Column, *sentinels: str) -> Column:
    """F3-style sentinel knockout, e.g. `'999'` age → NULL."""
    return F.when(col.isin(list(sentinels)), None).otherwise(col)


def decode_bool_01(col: Column) -> Column:
    """C1: `'1' → true, '0' → false, anything else → NULL` (tri-state)."""
    return F.when(col == "1", F.lit(True)).when(col == "0", F.lit(False)).otherwise(F.lit(None).cast("boolean"))


def decode_bool_flag(col: Column, truthy: str) -> Column:
    """C2: flag equals `truthy` → true, NULL stays NULL, else false."""
    return F.when(col.isNull(), F.lit(None).cast("boolean")).otherwise(col == truthy)


def roman_to_int_string(col: Column, max_value: int = 50) -> Column:
    """C6: roman numeral → decimal string; non-roman input passes through.

    The reference parses with `roman.fromRoman` and keeps the original on
    error; observed domain is I..XXIV, so a CASE map over 1..`max_value`
    keeps this JVM-side (no UDF).
    """
    expr = None
    # Build romans for 1..max_value and fold into a CASE chain.
    for n in range(1, max_value + 1):
        r = _int_to_roman(n)
        cond = col == r
        expr = F.when(cond, str(n)) if expr is None else expr.when(cond, str(n))
    assert expr is not None
    return expr.otherwise(col)


def _int_to_roman(n: int) -> str:
    out = []
    for val, sym in (
        (1000, "M"), (900, "CM"), (500, "D"), (400, "CD"),
        (100, "C"), (90, "XC"), (50, "L"), (40, "XL"),
        (10, "X"), (9, "IX"), (5, "V"), (4, "IV"), (1, "I"),
    ):
        while n >= val:
            out.append(sym)
            n -= val
    return "".join(out)


def strip_non_digits(col: Column) -> Column:
    """C7: remove every non-digit character."""
    return F.regexp_replace(col, "[^0-9]", "")


def zfill(col: Column, width: int) -> Column:
    """C8: left-pad with zeros to `width` (pandas `str.zfill`).

    Unlike raw `lpad`, longer strings pass through untruncated — pandas
    zfill never shortens.
    """
    return F.when(F.length(col) >= width, col).otherwise(F.lpad(col, width, "0"))


def fill_zero_long(col: Column) -> Column:
    """C18: NULL → 0, cast to long (report measures)."""
    return F.coalesce(col, F.lit(0)).cast("long")


def parse_decimal_comma(col: Column) -> Column:
    """C19: `'1.234,56' → 1234.56` (thousands '.', decimal ',')."""
    return F.regexp_replace(F.regexp_replace(col, r"\.", ""), ",", ".").cast("double")
