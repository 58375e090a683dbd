"""JDBC warehouse sink (SURVEY §2.2 K2) — deploy-time connector.

The reference bulk-loads Postgres with `COPY ... FROM STDIN WITH CSV`
in 10k-row transactional batches (utilitarios/bd_utilitarios.py:85-251).
The Spark-native equivalent is a partition-parallel JDBC write in
`DEFAULT_BATCH_SIZE` row batches; for Postgres, `reWriteBatchedInserts=true`
turns executeBatch into multi-row inserts, the closest JVM-side analog
of COPY.

The reference's atomicity contract — delete the reload scope and
bulk-load the fresh rows, all-or-nothing (bd_utilitarios.py:160-251
savepoint + rollback;
load_bd/siasus_procedimentos_ambulatoriais_load_bd.py:205-215) — cannot
span executor-parallel JDBC writes (each partition is its own
connection). The staged load re-expresses it Spark-first, in two
phases: `write_jdbc_append(..., mode="overwrite")` writes a whole batch
of files in parallel to ONE staging table (no transactional
requirement), then `commit_staged_load` creates an absent target like
the staging table and runs one driver-side transaction per file: delete the file's rows → INSERT..SELECT the
file's staged rows → commit, and the staging table is dropped after the
last commit. The heavy bytes move in parallel; only the cheap
set-shuffling is serialized, and each file's part of it is atomic. The
watermark is not part of that transaction: it lives in the driver-side
ledger (`sinks/watermark.py`), touched by the caller after each commit
(`pipelines/rehearsal.ep2_inserir_lote`).

Verified live against the embedded Derby database whose driver ships in
Spark's own classpath (tests/test_jdbc_live.py), including the
rollback-on-failure path.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

DEFAULT_BATCH_SIZE = 10_000  # reference `carregar_dataframe(passo=10000)`


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    column_types: str | None = None,
) -> None:
    """K2: write `df` to a JDBC table in `DEFAULT_BATCH_SIZE` row
    batches, one connection per Spark partition. `mode="overwrite"`
    (re)creates a staging table; `"append"` adds to the target.
    Credentials travel in `url`."""
    if not url.startswith("jdbc:"):
        raise ValueError(f"not a JDBC url: {url!r}")
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", DEFAULT_BATCH_SIZE)
        .option("isolationLevel", "READ_COMMITTED")
        .option("reWriteBatchedInserts", "true")
    )
    if column_types:
        # dialect DDL override (e.g. "periodo VARCHAR(16)") — Spark's
        # default string mapping is TEXT/CLOB, which some engines (Derby)
        # cannot compare or index
        writer = writer.option("createTableColumnTypes", column_types)
    writer.mode(mode).save()


@contextmanager
def _driver_connection(spark: SparkSession, url: str):
    """One JVM-side java.sql.Connection on the driver, autocommit off."""
    dm = spark._jvm.java.sql.DriverManager  # noqa: SLF001 — public JDBC API via the session JVM
    conn = dm.getConnection(url)
    conn.setAutoCommit(False)
    try:
        yield conn
    finally:
        conn.close()


def _qcols(columns: list[str]) -> str:
    """Quote identifiers the way Spark's JDBC writer created them
    (double-quoted, case-sensitive)."""
    return ", ".join('"' + c.replace('"', '""') + '"' for c in columns)


def commit_staged_load(
    spark: SparkSession,
    url: str,
    target: str,
    staging: str,
    columns: list[str],
    *,
    arquivos: Sequence[str],
    on_commit: Callable[[str], None],
) -> None:
    """Phase 2 of the staged load. An absent `target` is first created
    with the staging table's columns, which the JDBC writer gave the
    DDL a Spark-side bootstrap would (`CREATE TABLE … AS SELECT … WITH
    NO DATA`, no Spark job). Then, for each file name of `arquivos`, in
    order, ONE driver transaction: delete the target's rows whose
    `ftp_arquivo_nome` (the provenance column every fact carries, P3)
    is that name, INSERT..SELECT the staged rows of that name, commit
    or roll both back; then `on_commit(arquivo)`, where the caller
    records the file as loaded.

    A failure stops the loop: earlier files stay committed, the failed
    one is rolled back, and the staging table is kept. After the last
    file's commit, and before its `on_commit`, the staging table is
    dropped in its own statement, so a failed drop never rolls back a
    committed load, yet leaves that file unrecorded: the caller's rerun
    reloads it, which drops the staging table. Keeping it would save
    nothing (the next stage's JDBC overwrite recreates it) and would
    leave stale staged rows behind. `arquivos` is not empty.
    """
    cols = _qcols(columns)
    with _driver_connection(spark, url) as conn:
        stmt = conn.createStatement()
        try:  # the existence probe Spark's JDBC writer uses
            stmt.executeQuery(f"SELECT 1 FROM {target} WHERE 1 = 0").close()  # noqa: S608
        except Py4JJavaError:
            conn.rollback()
            stmt.executeUpdate(f"CREATE TABLE {target} AS SELECT * FROM {staging} WITH NO DATA")  # noqa: S608
            conn.commit()
        for i, arquivo in enumerate(arquivos):
            name = arquivo.replace("'", "''")
            where = f"\"ftp_arquivo_nome\" = '{name}'"
            try:
                stmt.executeUpdate(f"DELETE FROM {target} WHERE {where}")  # noqa: S608
                stmt.executeUpdate(
                    f"INSERT INTO {target} ({cols}) SELECT {cols} FROM {staging} WHERE {where}"  # noqa: S608
                )
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            if i == len(arquivos) - 1:
                stmt.executeUpdate(f"DROP TABLE {staging}")
                conn.commit()
            on_commit(arquivo)
