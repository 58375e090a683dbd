"""Source-connector tests: FTP LIST, all-string CSV, JDBC, ORC."""

from __future__ import annotations

import datetime as dt

from sm_etl_cloud_run_spark.sources.ftp_list import parse_ftp_list_lines, parse_list_lines


def test_parse_ftp_list_lines(spark):
    lines = [
        "09-03-24  03:45PM       123456 PASP2408.dbc",
        "01-31-24  12:00AM            7 BISP2408_1.dbc",
        "garbage line",
    ]
    out = {r["nome"]: r for r in parse_ftp_list_lines(spark, lines).collect()}
    assert out["PASP2408.dbc"]["tamanho"] == 123456
    assert out["PASP2408.dbc"]["timestamp_modificacao_ftp"] == dt.datetime(2024, 9, 3, 15, 45)
    assert len(out) == 2


def test_parse_list_lines_driver_side():
    utc = dt.timezone.utc
    lines = [
        "08-20-99  03:45PM           12 PASP2408a.dbc",  # yy 99 is 2099, as in Spark
        "02-30-24  03:45PM           12 PASP2402.dbc",   # no such date
        "09-03-24  00:45AM           12 PASP2409.dbc",   # hh is 01-12
        "total 4 files",
        "\u0660\u0669-03-24  03:45PM   12 PASP2410.dbc",   # Arabic-Indic digits
        "09-03-24  03:45PM           12 BISP2408.dbc",
    ]
    out = {r["nome"]: r for r in parse_list_lines(lines, ("PA",))}
    assert set(out) == {"PASP2408a.dbc", "PASP2402.dbc", "PASP2409.dbc"}
    assert out["PASP2408a.dbc"]["timestamp_modificacao_ftp"] == dt.datetime(
        2099, 8, 20, 15, 45, tzinfo=utc)
    assert out["PASP2408a.dbc"]["tamanho"] == 12
    assert out["PASP2402.dbc"]["timestamp_modificacao_ftp"] is None
    assert out["PASP2409.dbc"]["timestamp_modificacao_ftp"] is None
    assert len(parse_list_lines(lines)) == 4


def test_read_csv_allstring_and_cast(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("a,b,c\n1,2.5,True\n,0.5,False\n")
    # EP2's bronze read: an all-string schema, checked against the header
    df = (spark.read.schema("a string, b string, c string").option("header", True)
          .option("enforceSchema", False).csv(str(p)))
    assert df.columns == ["a", "b", "c"]
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)
    # nothing is typed at read time; the load stage casts
    assert sorted(map(tuple, df.collect()), key=lambda r: r[1]) == [
        (None, "0.5", "False"), ("1", "2.5", "True"),
    ]


def test_read_jdbc_table_argument_contract(spark):
    """Deploy-time connector: smoke the argument validation (no driver
    jar in this container to run a real scan)."""
    import pytest

    from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table

    with pytest.raises(ValueError, match="not a JDBC url"):
        read_jdbc_table(spark, "postgres://x?user=u&password=p", "t")


def test_orc_roundtrip_with_predicate_pushdown(spark, sf_dir, tmp_path):
    """ORC is the second columnar format Spark ships natively; the
    engine's sources are format-agnostic DataFrames, so an ORC lake is
    a one-line swap from parquet. Pin (a) a lossless roundtrip of a
    real fact slice (timestamps included) and (b) that filters still
    reach the ORC scan (PushedFilters) — the property that makes the
    swap scale-neutral."""
    import contextlib
    import io

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "li_orc")
    li.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == li.schema
    assert back.count() == li.count()
    assert back.exceptAll(li).count() == 0 and li.exceptAll(back).count() == 0

    filtered = back.where("l_quantity > 40").select("l_orderkey", "l_quantity")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "l_quantity" in plan
    assert filtered.count() == li.where("l_quantity > 40").count()
