"""JDBC warehouse sink (SURVEY §2.2 K2) — deploy-time connector.

The reference bulk-loads Postgres with `COPY ... FROM STDIN WITH CSV`
in 10k-row transactional batches (utilitarios/bd_utilitarios.py:85-251).
The Spark-native equivalent is a partition-parallel JDBC write with
`batchsize` + `rewriteBatchedStatements`; for Postgres specifically,
`reWriteBatchedInserts=true` turns executeBatch into multi-row inserts,
the closest JVM-side analog of COPY.

The reference's atomicity contract — delete the reload scope, bulk-load
the fresh rows, touch the watermark, all-or-nothing
(bd_utilitarios.py:160-251 savepoint + rollback;
load_bd/siasus_procedimentos_ambulatoriais_load_bd.py:205-215) — cannot
span executor-parallel JDBC writes (each partition is its own
connection). `staged_transactional_load` re-expresses it Spark-first:
the cluster appends in parallel to a STAGING table (unbounded
parallelism, no transactional requirement), then ONE driver-side
transaction does delete-scope → INSERT..SELECT from staging → watermark
update → commit, and the staging table is dropped afterwards. The heavy
bytes move in parallel; only the cheap set-shuffling is serialized, and
it is atomic. The two phases are also public (`stage_jdbc_load`,
`commit_staged_load`) so a batch of files can stage concurrently into
disjoint staging tables and commit one at a time.

Verified live against the embedded Derby database whose driver ships in
Spark's own classpath (tests/test_jdbc_live.py), including the
rollback-on-failure path.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BATCH_SIZE = 10_000  # reference `carregar_dataframe(passo=10000)`


def write_jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    num_partitions: int | None = None,
    mode: str = "append",
    column_types: str | None = None,
) -> None:
    """K2: append `df` to a JDBC table in `batch_size` row batches.

    Each Spark partition opens one connection; `num_partitions` caps the
    DB's concurrent-writer load (the reference serialized through one
    connection — a cluster write wants a handful, not thousands).
    """
    if not url.startswith("jdbc:"):
        raise ValueError(f"not a JDBC url: {url!r}")
    out = df.repartition(num_partitions) if num_partitions else df
    writer = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batch_size)
        .option("isolationLevel", "READ_COMMITTED")
        .option("reWriteBatchedInserts", "true")
    )
    if column_types:
        # dialect DDL override (e.g. "periodo VARCHAR(16)") — Spark's
        # default string mapping is TEXT/CLOB, which some engines (Derby)
        # cannot compare or index
        writer = writer.option("createTableColumnTypes", column_types)
    if user is not None:
        writer = writer.option("user", user).option("password", password or "")
    writer.mode(mode).save()


@contextmanager
def _driver_connection(spark: SparkSession, url: str, user: str | None, password: str | None):
    """One JVM-side java.sql.Connection on the driver, autocommit off."""
    dm = spark._jvm.java.sql.DriverManager  # noqa: SLF001 — public JDBC API via the session JVM
    conn = dm.getConnection(url, user, password or "") if user is not None else dm.getConnection(url)
    conn.setAutoCommit(False)
    try:
        yield conn
    finally:
        conn.close()


def _qcols(columns: list[str]) -> str:
    """Quote identifiers the way Spark's JDBC writer created them
    (double-quoted, case-sensitive)."""
    return ", ".join('"' + c.replace('"', '""') + '"' for c in columns)


def staged_transactional_load(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    target: str,
    *,
    delete_where: str | None = None,
    watermark_sql: str | None = None,
    user: str | None = None,
    password: str | None = None,
    staging: str | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    num_partitions: int | None = None,
    column_types: str | None = None,
) -> None:
    """K2+K3/K4+K7 for a JDBC warehouse: idempotent reload, atomically.

    1. Create the target if missing (an empty append), then an
       executor-parallel overwrite of a staging table (cluster-speed
       transfer; crashes here leave the target's rows untouched).
    2. One driver transaction: `DELETE FROM target WHERE delete_where`,
       `INSERT INTO target (cols) SELECT cols FROM staging`, then the
       optional `watermark_sql` — commit, or roll everything back; the
       staging table is dropped after the commit.

    Mirrors the reference's delete+COPY+watermark single-commit
    (bd_utilitarios.py:160-251) with the bulk transfer parallelized.
    Identifier note: Spark's JDBC writer creates case-sensitive quoted
    columns, so `delete_where`/`watermark_sql` must quote column names
    (e.g. ``\"periodo\" = '2024.08'``).
    """
    staging = staging or f"{target}_stg"
    # target must exist before INSERT..SELECT; an empty append creates
    # it with the same dialect-generated DDL as the staging table.
    write_jdbc_append(
        df.limit(0), url, target, user=user, password=password,
        column_types=column_types,
    )
    stage_jdbc_load(
        spark, df, url, staging,
        user=user, password=password, column_types=column_types,
        batch_size=batch_size, num_partitions=num_partitions,
    )
    commit_staged_load(
        spark, url, target, staging, df.columns,
        delete_where=delete_where, watermark_sql=watermark_sql,
        user=user, password=password,
    )


def stage_jdbc_load(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    staging: str,
    *,
    user: str | None = None,
    password: str | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    num_partitions: int | None = None,
    column_types: str | None = None,
) -> None:
    """Phase 1 of `staged_transactional_load`: the executor-parallel
    overwrite of `staging`. Safe to run CONCURRENTLY for different
    `staging` tables — staging writes touch disjoint tables and crashes
    leave the target untouched — which is what
    `rehearsal.ep2_inserir_pa_lote` exploits against a single-writer
    warehouse: stage N files in parallel, then serialize only the cheap
    commit sections. The caller bootstraps the shared target once, up
    front: racing CREATE TABLEs are not atomic on any engine."""
    write_jdbc_append(
        df, url, staging,
        user=user, password=password, column_types=column_types,
        batch_size=batch_size, num_partitions=num_partitions, mode="overwrite",
    )


def commit_staged_load(
    spark: SparkSession,
    url: str,
    target: str,
    staging: str,
    columns: list[str],
    *,
    delete_where: str | None = None,
    watermark_sql: str | None = None,
    user: str | None = None,
    password: str | None = None,
) -> None:
    """Phase 2 of `staged_transactional_load`: ONE driver transaction —
    delete the reload scope, INSERT..SELECT from staging, optional
    watermark update, commit or roll everything back.

    The staging table is then dropped in its own statement, so a failed
    drop never rolls back the committed load. Keeping it would save
    nothing (the next stage's JDBC overwrite recreates it) and would
    leave stale staged rows behind.
    """
    cols = _qcols(columns)
    with _driver_connection(spark, url, user, password) as conn:
        stmt = conn.createStatement()
        try:
            if delete_where:
                stmt.executeUpdate(f"DELETE FROM {target} WHERE {delete_where}")  # noqa: S608
            stmt.executeUpdate(
                f"INSERT INTO {target} ({cols}) SELECT {cols} FROM {staging}"  # noqa: S608
            )
            if watermark_sql:
                stmt.executeUpdate(watermark_sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        stmt.executeUpdate(f"DROP TABLE {staging}")
        conn.commit()
