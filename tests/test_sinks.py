"""Sink semantics: last-write-wins source dedupe, watermark touch
(SURVEY §2.2 K1–K7)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sm_etl_cloud_run_spark.operators.dedup import dedupe_last_write
from sm_etl_cloud_run_spark.sinks import touch_watermark
from sm_etl_cloud_run_spark.sinks.watermark import read_control, write_control


def test_dedupe_last_write(spark):
    df = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 1, "x")], "k string, ver int, v string"
    )
    out = {r["k"]: r["v"] for r in dedupe_last_write(df, ["k"], "ver").collect()}
    assert out == {"a": "new", "b": "x"}


def test_touch_watermark_k7(spark, tmp_path):
    path = str(tmp_path / "control")
    write_control(path, [
        {"tipo": "PA", "uf": "SP", "timestamp_etl_gcs": None},
        {"tipo": "PA", "uf": "RJ", "timestamp_etl_gcs": None},
    ])
    touch_watermark(path, {"tipo": ["PA"], "uf": ["SP"]}, "timestamp_etl_gcs")
    rows = {r["uf"]: r["timestamp_etl_gcs"] for r in read_control(path)}
    assert rows["SP"] is not None and rows["RJ"] is None
    # the ledger is one parquet file Spark reads with a TimestampType watermark
    assert os.path.isfile(path)
    ctl = spark.read.parquet(path)
    assert ctl.schema["timestamp_etl_gcs"].dataType == T.TimestampType()
    assert ctl.where(F.col("timestamp_etl_gcs").isNotNull()).count() == 1

    # a batch: one rewrite stamps exactly the rows whose key is listed
    path = str(tmp_path / "control_batch")
    write_control(path, [
        {"tipo": "PA", "uf": uf, "timestamp_etl_gcs": None} for uf in ("SP", "RJ", "MG")
    ])
    touch_watermark(path, {"uf": ["SP", "MG"]}, "timestamp_etl_gcs")
    rows = {r["uf"]: r["timestamp_etl_gcs"] for r in read_control(path)}
    assert rows["SP"] is not None and rows["SP"] == rows["MG"] and rows["RJ"] is None
    # a bare string is a collection of characters: rejected, not matched
    with pytest.raises(TypeError):
        touch_watermark(path, {"uf": "SP"}, "timestamp_etl_gcs")
    with pytest.raises(FileNotFoundError):
        touch_watermark(str(tmp_path / "missing"), {"uf": ["SP"]}, "timestamp_etl_gcs")
