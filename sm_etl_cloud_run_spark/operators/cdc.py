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
    delete_ops: Sequence[str] = ("D",),
) -> DataFrame:
    """Latest-writer-wins snapshot of a change log.

    `seq_cols` must be a total order within each key (add a unique
    tiebreaker — e.g. the change id — when the timestamp can tie;
    without one, last-writer is nondeterministic on BOTH engines).
    Rows whose latest op is in `delete_ops` are dropped.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return latest.where(~F.col(op_col).isin(*delete_ops))


def cdc_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    *,
    op_col: str = "op",
) -> DataFrame:
    """Diff two snapshots into a minimal change log (the inverse of
    `apply_cdc`): keys only in `new` → I, only in `old` → D, present in
    both with any non-key column changed → U; unchanged keys emit
    nothing. Null-safe comparison throughout (NULL == NULL is a match,
    SQL MERGE-style).

    Roundtrip contract (tested): applying the diff to `old` with
    last-writer-wins semantics reproduces `new` exactly. Shape: one
    full outer join on the keys — at warehouse scale both sides are
    typically partition-pruned to the compared snapshot slices.

    Delete rows carry the key with non-key columns NULLed (the
    Debezium convention for tombstone payloads).
    """
    value_cols = [c for c in new.columns if c not in keys]
    # explicit presence markers, NOT key-null probes: the join is
    # null-safe, so a legitimately NULL key row exists on a side even
    # though its key column is NULL there
    o = old.withColumn("__in_old", F.lit(True)).alias("o")
    n = new.withColumn("__in_new", F.lit(True)).alias("n")
    key_cond = None
    for k in keys:
        term = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        key_cond = term if key_cond is None else (key_cond & term)
    joined = o.join(n, key_cond, "full_outer")
    in_old = F.col("o.__in_old").isNotNull()
    in_new = F.col("n.__in_new").isNotNull()
    changed = None
    for c in value_cols:
        term = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = term if changed is None else (changed | term)
    if changed is None:
        changed = F.lit(False)
    op = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_key_cols = [
        F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys
    ]
    out_val_cols = [F.col(f"n.{c}").alias(c) for c in value_cols]
    return (
        joined.select(*out_key_cols, *out_val_cols, op.alias(op_col))
        .where(F.col(op_col).isNotNull())
    )
