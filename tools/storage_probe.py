"""Storage-layout probe: compression codec × sort order.

Writes sf0.1 lineitem four ways (snappy/zstd × arrival-order/
range-sorted-by-ship-date), then measures on-disk size and a
date-filtered aggregate's scan time. The point at 100 TB: zstd trades
CPU for ~25-40% smaller scans, and range-sorting by the dominant
filter column gives every file a tight min/max footer so the filter
prunes row groups — the lever `sources/manifest.py` exploits (file
skipping).

Usage: python tools/storage_probe.py    # one JSON line per layout
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.session import get_spark

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".storage_probe")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    spark = get_spark()
    li = spark.read.parquet(os.path.join(BASE, "lineitem.parquet")).where(
        F.col("l_shipdate").isNotNull()
    )
    shutil.rmtree(OUT, ignore_errors=True)
    layouts = {}
    for codec in ("snappy", "zstd"):
        for sort in ("arrival", "shipdate"):
            df = li
            if sort == "shipdate":
                df = df.repartitionByRange(8, "l_shipdate")
            else:
                df = df.repartition(8)
            path = os.path.join(OUT, f"{codec}_{sort}")
            df.write.option("compression", codec).parquet(path)
            layouts[(codec, sort)] = path

    month_lo = F.lit("1995-03-01 00:00:00").cast("timestamp")
    month_hi = F.lit("1995-04-01 00:00:00").cast("timestamp")
    for (codec, sort), path in layouts.items():
        scan = spark.read.parquet(path)
        q = (
            scan.where((F.col("l_shipdate") >= month_lo) & (F.col("l_shipdate") < month_hi))
            .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")))
        )
        q.collect()  # warm
        best = min(
            (lambda s: (q.collect(), time.time() - s)[1])(time.time()) for _ in range(3)
        )
        print(json.dumps({
            "codec": codec,
            "sort": sort,
            "bytes": _dir_bytes(path),
            "month_scan_sec": round(best, 4),
        }))
    shutil.rmtree(OUT, ignore_errors=True)


if __name__ == "__main__":
    main()
