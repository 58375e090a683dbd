"""Change-data-capture apply: collapse a change log to its snapshot.

The standard CDC materialization (Debezium/Delta-CDF-style public
pattern): each key's latest change wins by a monotonic sequence, and a
terminal delete removes the key from the snapshot. It produces the
CURRENT state only, not a history of versions.

Scale shape: one shuffle on the key columns (row_number window), then
a codegen filter. At 100 TB the change log is typically date-partitioned,
so the window reads only the partitions newer than the last applied
watermark; the operator itself is incremental-friendly because applying
log[t0..t1] then log[t1..t2] equals applying log[t0..t2] whenever the
sequence is monotonic per key (tested in tests/test_operators.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def apply_cdc(
    changes: DataFrame,
    keys: Sequence[str],
    seq_cols: Sequence[str],
    *,
    op_col: str = "op",
) -> DataFrame:
    """Latest-writer-wins snapshot of a change log.

    `seq_cols` must be a total order within each key (add a unique
    tiebreaker — e.g. the change id — when the timestamp can tie;
    without one, last-writer is nondeterministic on BOTH engines).
    Keys whose latest op is `'D'` (delete) are dropped.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return latest.where(~F.col(op_col).isin("D"))
