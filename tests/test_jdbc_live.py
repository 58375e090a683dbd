"""Live JDBC verification (K2/S7) against embedded Derby.

Derby's driver ships inside Spark's own classpath (it backs the Hive
metastore), so the JDBC sink/source paths that previously could only be
argument-smoked now execute against a real database: parallel append,
partition-parallel read, and the staged transactional load's
delete+insert single commit with rollback-on-failure
(reference contract: bd_utilitarios.py:85-251,
load_bd/siasus_procedimentos_ambulatoriais_load_bd.py:205-215).
"""

from __future__ import annotations

import pytest

from sm_etl_cloud_run_spark.sinks.jdbc import commit_staged_load, write_jdbc_append
from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table


@pytest.fixture
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


_TYPES = "periodo VARCHAR(16)"  # Derby cannot compare Spark's default CLOB mapping


def _facts(spark, periodo: str, start: int, n: int):
    return spark.createDataFrame(
        [(start + i, periodo, (start + i) * 10) for i in range(n)],
        "id bigint, periodo string, qty bigint",
    )


def _staged_load(spark, df, url, target, *, delete_where, column_types):
    """One file's EP2 load: bootstrap the target, stage, commit."""
    write_jdbc_append(df.limit(0), url, target, column_types=column_types)
    write_jdbc_append(df, url, f"{target}_stg", mode="overwrite", column_types=column_types)
    commit_staged_load(spark, url, target, f"{target}_stg", df.columns, delete_where=delete_where)


def _read_all(spark, url, table="facts"):
    rows = read_jdbc_table(spark, url, table).collect()
    return sorted((r["id"], r["periodo"], r["qty"]) for r in rows)


def test_append_and_partitioned_read(spark, derby_url):
    write_jdbc_append(_facts(spark, "2024.08", 0, 40).repartition(4), derby_url, "facts")
    whole = _read_all(spark, derby_url)
    assert len(whole) == 40 and whole[0] == (0, "2024.08", 0)
    par = read_jdbc_table(
        spark, derby_url, "facts",
        partition_column='"id"', lower_bound=0, upper_bound=40, num_partitions=4,
    )
    assert par.rdd.getNumPartitions() == 4
    assert sorted((r["id"], r["periodo"], r["qty"]) for r in par.collect()) == whole


def test_staged_load_is_idempotent(spark, derby_url):
    df = _facts(spark, "2024.08", 0, 25)
    for _ in range(2):  # re-run reloads the scope without duplicating
        _staged_load(
            spark, df, derby_url, "facts", delete_where="\"periodo\" = '2024.08'",
            column_types=_TYPES,
        )
    assert len(_read_all(spark, derby_url)) == 25
    # a different period appends alongside, untouched by the first scope
    _staged_load(
        spark, _facts(spark, "2024.09", 100, 5), derby_url, "facts",
        delete_where="\"periodo\" = '2024.09'", column_types=_TYPES,
    )
    assert len(_read_all(spark, derby_url)) == 30


def test_staged_load_rolls_back_atomically(spark, derby_url):
    _staged_load(
        spark, _facts(spark, "2024.08", 0, 10), derby_url, "facts",
        delete_where="\"periodo\" = '2024.08'", column_types=_TYPES,
    )
    before = _read_all(spark, derby_url)
    # staging lacks `qty`, so the INSERT..SELECT fails after the delete
    # ran → the WHOLE transaction, delete included, must roll back
    fresh = _facts(spark, "2024.08", 500, 7)
    write_jdbc_append(fresh.drop("qty"), derby_url, "facts_stg", mode="overwrite",
                      column_types=_TYPES)
    with pytest.raises(Exception, match="qty"):
        commit_staged_load(spark, derby_url, "facts", "facts_stg", fresh.columns,
                           delete_where="\"periodo\" = '2024.08'")
    assert _read_all(spark, derby_url) == before
