"""Watermark-gated incremental batch orchestration (SURVEY §2.9 I2/I3, §3).

The reference's control flow (scripts/verificar_e_executar.py):
per (tipo, UF, período) the control table stores three timestamps —
source modification, bronze-landing, warehouse-load — and a job runs
only when its upstream is newer than its downstream:

- download stage: `timestamp_etl_gcs IS NULL OR
  timestamp_modificacao_ftp > timestamp_etl_gcs`   (:36-38)
- insert stage:   `timestamp_load_bd IS NULL OR
  timestamp_etl_gcs > timestamp_load_bd`           (:39-41)

Retroactive source updates simply re-trigger the partition, and the
idempotent sinks (partition overwrite / merge) make the re-run safe —
that's the reference's late-data story, and it survives at 100 TB
because the gate touches only the tiny control table. That table is
the driver-side ledger of `sinks/watermark.py`, so the gate works on
its rows in plain Python and launches no Spark job.
"""

from __future__ import annotations

STAGE_CONDITIONS: dict[str, tuple[str, str]] = {
    # stage name → (source_ts_col, sink_ts_col)
    "baixar": ("timestamp_modificacao_ftp", "timestamp_etl_gcs"),
    "inserir": ("timestamp_etl_gcs", "timestamp_load_bd"),
}


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

