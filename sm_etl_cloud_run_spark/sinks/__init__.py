"""Sinks + idempotent load semantics (SURVEY §2.2).

The reference's warehouse loads are transactional delete-then-insert /
upsert against Postgres; without a txn table format on the classpath
(no Delta/Iceberg jars in this image) the engine reproduces those
semantics over plain Parquet:

- K1 bronze write            → partitioned parquet/csv writes
- K3/K4 delete-then-insert   → dynamic partition overwrite
- K5 keyed upsert (MERGE)    → anti-join + union + staged atomic swap
- K6 retention delete        → per-group threshold anti-filter rewrite
- K7 watermark update        → driver-side parquet ledger, one-rename swap

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
from .merge import merge_upsert, retention_delete  # noqa: F401
from .watermark import touch_watermark  # noqa: F401
