"""Live JDBC verification (K2/S7) against embedded Derby.

Derby's driver ships inside Spark's own classpath (it backs the Hive
metastore), so the JDBC sink/source paths that previously could only be
argument-smoked now execute against a real database: parallel append,
whole-table read, and the staged transactional load's
delete+insert single commit with rollback-on-failure
(reference contract: bd_utilitarios.py:85-251,
load_bd/siasus_procedimentos_ambulatoriais_load_bd.py:205-215).
"""

from __future__ import annotations

import pytest

from sm_etl_cloud_run_spark.sinks.jdbc import _driver_connection, commit_staged_load, write_jdbc_append
from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table


@pytest.fixture
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


_TYPES = "ftp_arquivo_nome VARCHAR(64)"  # Derby cannot compare Spark's default CLOB mapping


def _facts(spark, arquivo: str, start: int, n: int):
    return spark.createDataFrame(
        [(start + i, arquivo, (start + i) * 10) for i in range(n)],
        "id bigint, ftp_arquivo_nome string, qty bigint",
    )


def _staged_load(spark, df, url, target, *, arquivo, column_types):
    """One file's EP2 load: bootstrap the target, stage, commit."""
    write_jdbc_append(df.limit(0), url, target, column_types=column_types)
    write_jdbc_append(df, url, f"{target}_stg", mode="overwrite", column_types=column_types)
    commit_staged_load(spark, url, target, f"{target}_stg", df.columns,
                       arquivos=[arquivo], on_commit=lambda arquivo: None)


def _read_all(spark, url, table="facts"):
    rows = read_jdbc_table(spark, url, table).collect()
    return sorted((r["id"], r["ftp_arquivo_nome"], r["qty"]) for r in rows)


def test_append_and_read(spark, derby_url):
    write_jdbc_append(_facts(spark, "PASP2408.dbc", 0, 40).repartition(4), derby_url, "facts")
    whole = _read_all(spark, derby_url)
    assert len(whole) == 40 and whole[0] == (0, "PASP2408.dbc", 0)
    assert whole == [(i, "PASP2408.dbc", i * 10) for i in range(40)]


def test_staged_load_is_idempotent(spark, derby_url):
    df = _facts(spark, "PASP2408.dbc", 0, 25)
    for _ in range(2):  # re-run reloads the scope without duplicating
        _staged_load(
            spark, df, derby_url, "facts", arquivo="PASP2408.dbc",
            column_types=_TYPES,
        )
    assert len(_read_all(spark, derby_url)) == 25
    # a different file appends alongside, untouched by the first scope
    _staged_load(
        spark, _facts(spark, "PASP2409.dbc", 100, 5), derby_url, "facts",
        arquivo="PASP2409.dbc", column_types=_TYPES,
    )
    assert len(_read_all(spark, derby_url)) == 30


def test_staged_load_rolls_back_atomically(spark, derby_url):
    _staged_load(
        spark, _facts(spark, "PASP2408.dbc", 0, 10), derby_url, "facts",
        arquivo="PASP2408.dbc", column_types=_TYPES,
    )
    before = _read_all(spark, derby_url)
    # staging lacks `qty`, so the INSERT..SELECT fails after the delete
    # ran → the WHOLE transaction, delete included, must roll back
    fresh = _facts(spark, "PASP2408.dbc", 500, 7)
    write_jdbc_append(fresh.drop("qty"), derby_url, "facts_stg", mode="overwrite",
                      column_types=_TYPES)
    with pytest.raises(Exception, match="qty"):
        commit_staged_load(spark, derby_url, "facts", "facts_stg", fresh.columns,
                           arquivos=["PASP2408.dbc"], on_commit=lambda arquivo: None)
    assert _read_all(spark, derby_url) == before


def test_staged_load_commits_each_file_in_turn(spark, derby_url):
    """One staging table holds two files; each commits in its own
    transaction, in order, with only its own staged rows, and the
    staging table is gone after the last commit."""
    _staged_load(spark, _facts(spark, "PASP2408.dbc", 0, 3), derby_url, "facts",
                 arquivo="PASP2408.dbc", column_types=_TYPES)
    both = _facts(spark, "PASP2408.dbc", 10, 4).union(_facts(spark, "PASP2409.dbc", 20, 2))
    write_jdbc_append(both, derby_url, "facts_stg", mode="overwrite", column_types=_TYPES)
    committed = []

    def on_commit(arquivo):
        committed.append((arquivo, len(_read_all(spark, derby_url))))

    commit_staged_load(spark, derby_url, "facts", "facts_stg", both.columns,
                       arquivos=["PASP2408.dbc", "PASP2409.dbc"], on_commit=on_commit)
    # PASP2408's three old rows are replaced by its four staged rows
    assert committed == [("PASP2408.dbc", 4), ("PASP2409.dbc", 6)]
    assert [r[0] for r in _read_all(spark, derby_url)] == [10, 11, 12, 13, 20, 21]
    with pytest.raises(Exception, match="FACTS_STG"):
        read_jdbc_table(spark, derby_url, "facts_stg").collect()


def _column_types(spark, url, table):
    with _driver_connection(spark, url) as conn:
        cols = conn.getMetaData().getColumns(None, None, table.upper(), None)
        out = []
        while cols.next():
            out.append((cols.getString("COLUMN_NAME"), cols.getString("TYPE_NAME"), cols.getInt("COLUMN_SIZE")))
        conn.rollback()  # end the metadata read's transaction
        return out


def test_staged_load_creates_an_absent_target_like_staging(spark, derby_url):
    """With no target yet, the commit creates it with the staging
    table's columns and types (the bootstrap runs no Spark job)."""
    df = _facts(spark, "PASP2408.dbc", 0, 3)
    write_jdbc_append(df, derby_url, "facts_stg", mode="overwrite", column_types=_TYPES)
    staged = _column_types(spark, derby_url, "facts_stg")
    commit_staged_load(spark, derby_url, "facts", "facts_stg", df.columns,
                       arquivos=["PASP2408.dbc"], on_commit=lambda arquivo: None)
    assert _column_types(spark, derby_url, "facts") == staged
    assert ("ftp_arquivo_nome", "VARCHAR", 64) in staged
    assert _read_all(spark, derby_url) == [(i, "PASP2408.dbc", i * 10) for i in range(3)]
