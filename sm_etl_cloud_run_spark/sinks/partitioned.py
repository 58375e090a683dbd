"""Bronze landing (K1): the stage-1 all-string CSV of each source file.

Each file lands in its own directory, overwritten whole on a re-run,
so EP1 is idempotent per file. The warehouse side of the reference's
delete-then-insert idempotency (K2/K3) is the staged JDBC load in
`sinks/jdbc.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_bronze_csv(df: DataFrame, path: str, *, encoding: str = "UTF-8", coalesce: int | None = None) -> None:
    """K1: bronze CSV landing (header, explicit encoding).

    Booleans serialize pandas-style ('True'/'False', NULL → empty) so the
    bronze bytes match the reference's `df.to_csv` output and the stage-2
    decode (`== 'True'`, load_bd/*:128-131) reads them back faithfully —
    Spark's native CSV writer would emit lowercase 'true'.

    `coalesce` caps output files for small batches; leave None at scale
    so every task writes its own file.
    """
    bool_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.BooleanType)]
    out = df.withColumns(
        {c: F.when(F.col(c), "True").when(~F.col(c), "False") for c in bool_cols}
    )
    out = out.coalesce(coalesce) if coalesce else out
    out.write.mode("overwrite").option("header", True).option("encoding", encoding).csv(path)
