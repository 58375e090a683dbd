"""Sinks + idempotent load semantics (SURVEY §2.2).

The reference's warehouse loads are transactional delete-then-insert
against Postgres; the engine keeps those semantics:

- K1 bronze write            → per-file bronze CSV (`partitioned`)
- K2/K3 delete-then-insert   → staged transactional JDBC load (`jdbc`)
- K7 watermark update        → driver-side parquet ledger, one-rename swap

The control table's keyed upsert with change detection (K5) and its
13-month retention (K6) are plain Python over that ledger, in
`pipelines/rehearsal.refresh_control`.
"""

from .partitioned import write_bronze_csv  # noqa: F401
from .watermark import touch_watermark  # noqa: F401
