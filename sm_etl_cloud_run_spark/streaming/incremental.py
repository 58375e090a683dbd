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
because the gate touches only the tiny control table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STAGE_CONDITIONS: dict[str, tuple[str, str]] = {
    # stage name → (source_ts_col, sink_ts_col)
    "baixar": ("timestamp_modificacao_ftp", "timestamp_etl_gcs"),
    "inserir": ("timestamp_etl_gcs", "timestamp_load_bd"),
}


def _stale(stage: str) -> Column:
    """`stage` has never run for the row, or its upstream is newer."""
    source_ts, sink_ts = STAGE_CONDITIONS[stage]
    return F.col(sink_ts).isNull() | (F.col(source_ts) > F.col(sink_ts))


def gate_pending_runs(control: DataFrame, stage: str, **match: object) -> DataFrame:
    """Rows of the control table that need (re-)processing for `stage`,
    optionally scoped by key columns (tipo/sigla_uf/período)."""
    cond = _stale(stage)
    for k, v in match.items():
        cond = cond & (F.col(k) == F.lit(v))
    return control.where(cond)


def plan_backfill(
    control: DataFrame,
    stage: str,
    *,
    period_col: str = "periodo",
    start: str | None = None,
    end: str | None = None,
    force: bool = False,
    max_partitions: int | None = None,
) -> DataFrame:
    """Plan an idempotent backfill: the control-table rows to re-run for
    `stage` within an optional [start, end] period range.

    `force=False` (default) re-runs only genuinely stale rows (the
    normal watermark gate scoped to the range — "heal this window");
    `force=True` re-runs EVERY row in the range regardless of
    watermarks — the "upstream logic changed, rebuild the window" case.
    Because all sinks are idempotent (partition overwrite / keyed
    merge), replans and overlapping backfills are safe to dispatch
    repeatedly; `max_partitions` caps one wave (ordered oldest-first so
    repeated waves drain the backlog deterministically).
    """
    scoped = control
    if start is not None:
        scoped = scoped.where(F.col(period_col) >= F.lit(start))
    if end is not None:
        scoped = scoped.where(F.col(period_col) <= F.lit(end))
    if not force:
        scoped = scoped.where(_stale(stage))
    planned = scoped.orderBy(F.col(period_col).asc())
    if max_partitions is not None:
        planned = planned.limit(max_partitions)
    return planned
