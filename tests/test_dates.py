"""Unit tests for the date-dialect layer (SURVEY §2.8 C9–C17)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.functions import dates


def _col(spark, values, fn):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    return [r["y"] for r in df.select(fn(F.col("x")).alias("y")).collect()]


def test_from_yyyymm_coerce(spark):
    vals = ["202408", "000000", "2024xx", None]
    out = _col(spark, vals, dates.from_yyyymm)
    assert out == [dt.date(2024, 8, 1), None, None, None]


def test_from_yyyymmdd_space_padded(spark):
    # DATASUS quirk: zeros rendered as spaces (utilitarios/datas.py:28-62)
    vals = ["20240801", "2024 801", "19991231", "invalid!"]
    out = _col(spark, vals, dates.from_yyyymmdd)
    assert out == [dt.date(2024, 8, 1), dt.date(2024, 8, 1), dt.date(1999, 12, 31), None]


def test_from_ddmmyyyy(spark):
    out = _col(spark, ["01/08/2024", "31/02/2024"], dates.from_ddmmyyyy)
    assert out == [dt.date(2024, 8, 1), None]


def test_make_date_from_year_month(spark):
    df = spark.createDataFrame([("2024", "8"), ("2024", "13")], "a string, m string")
    out = [
        r["y"]
        for r in df.select(
            dates.make_date_from_year_month(F.col("a"), F.col("m")).alias("y")
        ).collect()
    ]
    assert out == [dt.date(2024, 8, 1), None]


def test_from_month_abbrev_pt(spark):
    vals = ["AGO/2024", "JAN/2023", "XXX/2024"]
    out = _col(spark, vals, dates.from_month_abbrev_pt)
    assert out == [dt.date(2024, 8, 1), dt.date(2023, 1, 1), None]


def test_days_to_interval_text(spark):
    df = spark.createDataFrame([("5",), (None,)], "x string")
    out = [r["y"] for r in df.select(dates.days_to_interval_text(F.col("x")).alias("y")).collect()]
    assert out == ["5 days", None]


def test_to_iso8601(spark):
    df = spark.createDataFrame([(dt.datetime(2024, 8, 1, 15, 45, 30),)], "x timestamp")
    out = [r["y"] for r in df.select(dates.to_iso8601(F.col("x")).alias("y")).collect()]
    assert out == ["2024-08-01T15:45:30"]
