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

The gate (SURVEY §2.9 I2/I3, §3) reads the same rows. The reference's
control flow (scripts/verificar_e_executar.py) runs a stage for a file
only when its upstream timestamp is newer than its downstream one:

- download stage: `timestamp_etl_gcs IS NULL OR
  timestamp_modificacao_ftp > timestamp_etl_gcs`   (:36-38)
- insert stage:   `timestamp_load_bd IS NULL OR
  timestamp_etl_gcs > timestamp_load_bd`           (:39-41)

Retroactive source updates simply re-trigger the file, and the
idempotent sinks (partition overwrite, per-file delete + insert) make
the re-run safe — the reference's late-data story, which survives at
100 TB because the gate reads only the ledger, in plain Python, with
no Spark job.
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

# every ledger row carries every column, in this order
LEDGER_SCHEMA = pa.schema([
    ("tipo", pa.string()),
    ("arquivo", pa.string()),
    ("sigla_uf", pa.string()),
    ("periodo", pa.string()),
    ("tamanho", pa.int64()),
    ("timestamp_modificacao_ftp", _TS),
    ("timestamp_etl_gcs", _TS),
    ("timestamp_load_bd", _TS),
])


# stage name → (source_ts_col, sink_ts_col)
STAGE_CONDITIONS: dict[str, tuple[str, str]] = {
    "baixar": ("timestamp_modificacao_ftp", "timestamp_etl_gcs"),
    "inserir": ("timestamp_etl_gcs", "timestamp_load_bd"),
}


def read_control(path: str) -> list[dict]:
    """All ledger rows, as dicts; timestamps are UTC-aware datetimes."""
    return pq.read_table(path).to_pylist()


def write_control(path: str, rows: list[dict]) -> None:
    """Replace the ledger at `path` with `rows`, which must all have the
    same keys: the columns come from the first row, so a key the others
    lack or add would be dropped or filled with NULL without a word.

    Each `LEDGER_SCHEMA` column takes its type from there, even with no
    value yet: a stage watermark no run has set, or `tamanho` in a
    ledger migrated from the format without it. Naive datetimes are
    taken as UTC, like the Spark session. No rows write an empty ledger
    with every `LEDGER_SCHEMA` column, so the first EP3 over an empty
    listing leaves a ledger that watermark touches can read."""
    if any(r.keys() != rows[0].keys() for r in rows):
        raise ValueError("ledger rows must all have the same columns")
    table = pa.Table.from_pylist(rows) if rows else LEDGER_SCHEMA.empty_table()
    for i, name in enumerate(table.column_names):
        if name in LEDGER_SCHEMA.names:
            to = LEDGER_SCHEMA.field(name).type
            table = table.set_column(i, name, table.column(i).cast(to))
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
    mask = pa.array([True] * table.num_rows, pa.bool_())
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


def _stale(row: dict, stage: str) -> bool:
    """`stage` has never run for the row, or its upstream is newer.
    A NULL upstream never compares newer, as in SQL."""
    source_ts, sink_ts = STAGE_CONDITIONS[stage]
    source, sink = row[source_ts], row[sink_ts]
    return sink is None or (source is not None and source > sink)


def gate_pending_runs(rows: list[dict], stage: str, **match: object) -> list[dict]:
    """Ledger rows that need (re-)processing for `stage`, optionally
    scoped by key columns (tipo/sigla_uf/período)."""
    return [
        r for r in rows
        if _stale(r, stage) and all(r[k] == v for k, v in match.items())
    ]
