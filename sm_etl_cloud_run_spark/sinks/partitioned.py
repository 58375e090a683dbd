"""Bronze landing (K1): the stage-1 all-string CSV of each source file.

Each file lands in its own directory (`bronze_dir`), overwritten whole
on a re-run, so EP1 is idempotent per file. The warehouse side of the
reference's delete-then-insert idempotency (K2/K3) is the staged JDBC
load in `sinks/jdbc.py`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


def bronze_dir(root: str, arquivo: str) -> str:
    """The bronze directory of the source file `arquivo` under `root`."""
    return f"{root}/ftp_arquivo_nome={arquivo}"


def write_bronze_csv(df: DataFrame, root: str, arquivos: Sequence[str]) -> None:
    """K1: bronze CSV landing (header, UTF-8) of the batch `arquivos` in
    one dynamic-overwrite write partitioned by `ftp_arquivo_nome`, which
    replaces the directories it writes rows to and no other. Each batch
    file it wrote no row for (an `Observation` on the write says which,
    at no extra job) is then overwritten with a header-only CSV, one job
    per such file, which clears a stale landing of that file.

    Booleans serialize pandas-style ('True'/'False', NULL → empty) so the
    bronze bytes match the reference's `df.to_csv` output and the stage-2
    decode (`== 'True'`, load_bd/*:128-131) reads them back faithfully —
    Spark's native CSV writer would emit lowercase 'true'.
    """
    bool_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.BooleanType)]
    out = df.withColumns(
        {c: F.when(F.col(c), "True").when(~F.col(c), "False") for c in bool_cols}
    )
    landed = Observation()
    (
        out.observe(landed, F.collect_set("ftp_arquivo_nome").alias("arquivos"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("header", True)
        .partitionBy("ftp_arquivo_nome")
        .csv(root)
    )
    empty = out.drop("ftp_arquivo_nome").limit(0)
    for arquivo in sorted(set(arquivos) - set(landed.get["arquivos"])):
        empty.write.mode("overwrite").option("header", True).csv(bronze_dir(root, arquivo))
