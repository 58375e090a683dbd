"""Incremental job-runner CLI (SURVEY §3, §7.1 M5).

The Spark analog of the reference's HTTP route + dispatch layer
(sm_cloud_run/app.py:22-123 + scripts/verificar_e_executar.py): a job is
addressed by (tipo, ação), gated by the watermark control table, and
idempotent to re-runs. Instead of Flask routes, jobs are plain callables
resolved from a `module:function` path — schedulable by any orchestrator
(Airflow task, cron, spark-submit).

A job is `job(spark, rows)`, called ONCE with every pending control row,
so a job can run the whole batch as one Spark plan and touch the
watermark table in as few rewrites as its recovery contract allows.

Usage:
    python -m sm_etl_cloud_run_spark.runner \\
        --control /path/sm_metadados_ftp --tipo PA --acao baixar \\
        [--job mypkg.jobs:baixar_pa] [--dry-run]

The gate reads the driver-side watermark ledger (`sinks/watermark.py`)
and runs no Spark job; the Spark session starts only when a job runs.
The first stdout line is the gate decision:
`{"tipo", "acao", "pending", "arquivos"}`, with the pending files sorted.
Without --job, or with --dry-run, that line is all it does, and it
exits 0 if nothing is pending — the reference's "skip-if-fresh" reply.
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys
from collections.abc import Callable

from .session import get_spark
from .sinks.watermark import gate_pending_runs, read_control


def _resolve(path: str) -> Callable:
    mod_name, _, fn_name = path.partition(":")
    if not fn_name:
        raise SystemExit(f"--job must be module:function, got {path!r}")
    try:
        mod = importlib.import_module(mod_name)
    except ModuleNotFoundError as e:
        raise SystemExit(f"--job {path!r}: {e}") from e
    if not hasattr(mod, fn_name):
        raise SystemExit(f"--job {path!r}: module {mod_name!r} has no {fn_name!r}")
    return getattr(mod, fn_name)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="watermark-gated incremental job runner")
    ap.add_argument("--control", required=True, help="parquet file of the watermark ledger")
    ap.add_argument("--tipo", required=True, help="source type key (PA, BI, PS, RD, HB, PF, ...)")
    ap.add_argument("--acao", required=True, choices=["baixar", "inserir"], help="pipeline stage")
    ap.add_argument("--job", help="module:function called once with (spark, pending_rows)")
    # no-op, still accepted because existing callers (perfbench/etl.py) pass it
    ap.add_argument("--batch", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--dry-run", action="store_true", help="gate only; never execute")
    args = ap.parse_args(argv)

    rows = gate_pending_runs(read_control(args.control), args.acao, tipo=args.tipo)
    print(json.dumps({
        "tipo": args.tipo, "acao": args.acao, "pending": len(rows),
        "arquivos": sorted(r["arquivo"] for r in rows),
    }))

    if not rows or args.dry_run or not args.job:
        return 0
    job = _resolve(args.job)
    job(get_spark("runner"), rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
