"""Watermark control table (K7) — the incremental-run ledger.

Reference: `inserir_timestamp_ftp_metadados` updates one timestamp
column for the (tipo, UF, período) rows just processed
(utilitarios/bd_utilitarios.py:286-338), on a single node.

The ledger holds one row per FTP file — about 10⁴ rows at DATASUS
scale — so it is read and written on the driver with pyarrow, never
through a Spark job. It is ONE parquet file at `control_path`;
:func:`read_control` and :func:`write_control` are the only code that
knows that format. Timestamps are `timestamp[us, tz=UTC]`, which Spark
reads as `TimestampType`, so `spark.read.parquet(control_path)` still
works for ad-hoc inspection.

A write lands a complete temp file beside the ledger, fsyncs it and
swaps it in with ONE `os.replace`: a crash at any point leaves either
the old ledger or the new one, never no ledger.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import uuid
from collections.abc import Collection

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_TS = pa.timestamp("us", tz="UTC")


def read_control(path: str) -> list[dict]:
    """All ledger rows, as dicts; timestamps are UTC-aware datetimes."""
    return pq.read_table(path).to_pylist()


def write_control(path: str, rows: list[dict]) -> None:
    """Replace the ledger at `path` with `rows` (all with the same keys).

    Column types come from the values. A column with no value yet is a
    stage watermark no run has set, so it is typed as a timestamp like
    every other datetime column."""
    table = pa.Table.from_pylist(rows)
    for i, field in enumerate(table.schema):
        if pa.types.is_null(field.type) or pa.types.is_timestamp(field.type):
            # naive datetimes are taken as UTC, like the Spark session
            table = table.set_column(i, field.name, table.column(i).cast(_TS))
    _replace(path, table)


def _replace(path: str, table: pa.Table) -> None:
    """Write `table` to a temp file in `path`'s directory, make it
    durable, then swap it in with a single rename."""
    directory = os.path.dirname(os.path.abspath(path))
    os.makedirs(directory, exist_ok=True)
    # a leading dot hides the temp file from Spark/Hadoop directory listings
    tmp = os.path.join(directory, f".{os.path.basename(path)}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "xb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise
    fd = os.open(directory, os.O_RDONLY)
    try:
        os.fsync(fd)  # make the rename itself durable
    finally:
        os.close(fd)


def touch_watermark(
    control_path: str,
    match: dict[str, Collection[object]],
    timestamp_col: str,
) -> None:
    """Set `timestamp_col` to now (UTC) on ledger rows whose every
    `match` column holds one of its listed values — one atomic ledger
    rewrite for a whole batch of files."""
    if not os.path.exists(control_path):
        raise FileNotFoundError(control_path)
    table = pq.read_table(control_path)
    mask = pa.array([True] * table.num_rows)
    for k, values in match.items():
        if isinstance(values, str):
            raise TypeError(f"match[{k!r}] must be a collection of values, got {values!r}")
        column = table.column(k)
        mask = pc.and_(mask, pc.is_in(column, value_set=pa.array(list(values), column.type)))
    ts_type = table.schema.field(timestamp_col).type  # KeyError for an unknown column
    now = pa.scalar(dt.datetime.now(dt.timezone.utc), ts_type)
    touched = pc.if_else(mask, now, table.column(timestamp_col))
    i = table.schema.get_field_index(timestamp_col)
    _replace(control_path, table.set_column(i, timestamp_col, touched))
