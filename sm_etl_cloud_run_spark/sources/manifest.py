"""Parquet footer-stats manifest — the metadata layer of a table
format, built on plain parquet.

Delta/Iceberg keep a manifest of per-file column statistics so queries
open only the files whose [min, max] ranges can match. Those jars are
absent from this environment (see ARCHITECTURE.md), but the mechanism
is reproducible from public parquet metadata alone: read each file's
FOOTER (metadata-only — no data pages), collect per-column min/max and
row counts into a manifest table, and prune the file list with a range
predicate before `spark.read.parquet(*files)`.

Scale shape: footer reads distribute over executors (mapInPandas over
the file list — each footer is a few KB regardless of file size); the
manifest is file-count-sized and is itself a DataFrame, so pruning is
a filter on metadata, never a data scan. Files written range-sorted on
the filter column (`repartitionByRange` + `sortWithinPartitions`) have
disjoint enough per-file ranges to prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PARQUET_EXT = ".parquet"

MANIFEST_SCHEMA = (
    "file string, n_rows long, col_name string, min_str string, max_str string"
)


def _data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(_PARQUET_EXT) and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return sorted(out)


def build_manifest(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """Per-file min/max/row-count manifest from parquet footers.

    Stats are serialized as strings (the parquet logical-type value's
    repr) — callers compare after casting to the column's type, which
    `prune_files` does. Executors read FOOTERS only; a 1 GB file costs
    the same few-KB read as a 1 MB file.
    """
    files = _data_files(path)
    cols = list(columns)

    def scan(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fpath in pdf["file"]:
                md = pq.ParquetFile(fpath).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                mins: dict[str, object] = {c: None for c in cols}
                maxs: dict[str, object] = {c: None for c in cols}
                for rg in range(md.num_row_groups):
                    for c in cols:
                        if c not in idx:
                            continue
                        st = md.row_group(rg).column(idx[c]).statistics
                        if st is None or not st.has_min_max:
                            continue
                        if mins[c] is None or st.min < mins[c]:
                            mins[c] = st.min
                        if maxs[c] is None or st.max > maxs[c]:
                            maxs[c] = st.max
                for c in cols:
                    rows.append(
                        (fpath, md.num_rows, c,
                         None if mins[c] is None else str(mins[c]),
                         None if maxs[c] is None else str(maxs[c]))
                    )
            yield pd.DataFrame(
                rows, columns=["file", "n_rows", "col_name", "min_str", "max_str"]
            )

    flist = spark.createDataFrame([(f,) for f in files], "file string")
    return flist.repartition(max(1, min(len(files), 64))).mapInPandas(
        scan, MANIFEST_SCHEMA
    )


def prune_files(
    manifest: DataFrame, col_name: str, lo, hi, *, cast_to: str = "long"
) -> list[str]:
    """Files whose [min, max] range for `col_name` intersects [lo, hi]
    (files with no stats for the column are conservatively KEPT —
    pruning must never drop a possible match)."""
    m = manifest.where(F.col("col_name") == col_name)
    mn = F.col("min_str").cast(cast_to)
    mx = F.col("max_str").cast(cast_to)
    keep = (
        F.col("min_str").isNull() | F.col("max_str").isNull()
        | ((mx >= F.lit(lo)) & (mn <= F.lit(hi)))
    )
    return [r["file"] for r in m.where(keep).select("file").collect()]


def read_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    col_name: str,
    lo,
    hi,
    *,
    cast_to: str = "long",
) -> DataFrame:
    """Scan only the manifest files whose stats can match [lo, hi].

    The caller still applies the row-level predicate — file pruning is
    a superset guarantee, exactly like a table format's data skipping.
    Returns an empty-but-typed frame if every file prunes away.
    """
    files = prune_files(manifest, col_name, lo, hi, cast_to=cast_to)
    if not files:
        any_file = manifest.select("file").first()
        empty = spark.read.parquet(any_file["file"]).limit(0)
        return empty
    return spark.read.parquet(*files)
