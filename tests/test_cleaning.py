"""Unit tests for the scalar cleaning layer (SURVEY §2.8 C1–C8, C18–C20).

Edge rows mirror FIXTURES.md: empty strings, all-zeros, all-nines,
'999' sentinels, invalid romans, short codes needing zfill.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.functions import cleaning


def _col(spark, values, fn):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    return [r["y"] for r in df.select(fn(F.col("x")).alias("y")).collect()]


def test_empty_to_null(spark):
    assert _col(spark, ["", "a", " "], cleaning.empty_to_null) == [None, "a", " "]


def test_all_zeros_to_null(spark):
    vals = ["0", "00000000000000", "010", "", None]
    assert _col(spark, vals, cleaning.all_zeros_to_null) == [None, None, "010", "", None]


def test_all_nines_to_null(spark):
    vals = ["9", "999999", "919", "99a"]
    assert _col(spark, vals, cleaning.all_nines_to_null) == [None, None, "919", "99a"]


def test_literal_to_null(spark):
    vals = ["999", "99", "998", None]
    out = _col(spark, vals, lambda c: cleaning.literal_to_null(c, "999"))
    assert out == [None, "99", "998", None]


def test_decode_bool_01_tristate(spark):
    vals = ["1", "0", "", "2", None]
    out = _col(spark, vals, cleaning.decode_bool_01)
    assert out == [True, False, None, None, None]


def test_decode_bool_flag_keeps_null(spark):
    vals = ["M", "I", None]
    out = _col(spark, vals, lambda c: cleaning.decode_bool_flag(c, "M"))
    assert out == [True, False, None]


def test_roman_decode_with_passthrough(spark):
    vals = ["I", "IV", "XII", "XXIV", "ABC", "", "XLIX"]
    out = _col(spark, vals, lambda c: cleaning.roman_to_int_string(c, max_value=50))
    assert out == ["1", "4", "12", "24", "ABC", "", "49"]


def test_strip_non_digits(spark):
    vals = ["CRM-12345", "12.34/5", "abc"]
    assert _col(spark, vals, cleaning.strip_non_digits) == ["12345", "12345", ""]


def test_zfill(spark):
    vals = ["7", "1234", "12345"]
    assert _col(spark, vals, lambda c: cleaning.zfill(c, 4)) == ["0007", "1234", "12345"]


def test_parse_decimal_comma(spark):
    vals = ["1.234,56", "0,5", "12", None]
    out = _col(spark, vals, cleaning.parse_decimal_comma)
    assert out == [1234.56, 0.5, 12.0, None]


def test_fill_zero_long(spark):
    df = spark.createDataFrame([(1,), (None,)], "x long")
    out = [r["y"] for r in df.select(cleaning.fill_zero_long(F.col("x")).alias("y")).collect()]
    assert out == [1, 0]
