"""Sinks + idempotent load semantics (SURVEY §2.2).

The reference's warehouse loads are transactional delete-then-insert
against Postgres; the engine keeps those semantics:

- K1 bronze write            → partitioned parquet/csv writes
- K2/K3 delete-then-insert   → staged transactional JDBC load (`jdbc`),
                               dynamic partition overwrite for parquet
- K7 watermark update        → driver-side parquet ledger, one-rename swap

The control table's keyed upsert with change detection (K5) and its
13-month retention (K6) are plain Python over that ledger, in
`pipelines/rehearsal.refresh_control`.

Beyond the reference surface: `bucketed` writes hash-clustered catalog
tables so repeated joins/aggregations on the cluster key run with no
exchange (the 100 TB co-location primitive).
"""

from .bucketed import (  # noqa: F401
    enable_sorted_bucket_scan,
    plan_has_exchange,
    read_bucketed,
    write_bucketed,
)
from .partitioned import write_partition_overwrite, write_bronze_csv  # noqa: F401
from .watermark import touch_watermark  # noqa: F401
