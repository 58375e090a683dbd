"""Source-connector tests: SISAB dialect, FTP LIST, all-string CSV, DBF scaffold."""

from __future__ import annotations

import datetime as dt

from sm_etl_cloud_run_spark.sources import (
    parse_ftp_list_lines,
    parse_sisab_report,
    prefer_partitioned,
    read_csv_allstring,
)
from sm_etl_cloud_run_spark.sources.csv_allstring import cast_columns
from sm_etl_cloud_run_spark.sources.ftp_list import parse_list_lines
from sm_etl_cloud_run_spark.sources.dbf import read_dbf_files

_REPORT = (
    "Relatório de produção\nqualquer coisa; outra\n\n\n"
    "Uf;Ibge;Municipio;Consulta;Visita;Unnamed: 5\n"
    "SP;0355030;São Paulo;1.234,56;7;\n"
    "RJ;330455;Rio de Janeiro;;3;\n"
    "\n\n\nFonte: SISAB"
)


def test_parse_sisab_report(spark):
    df = parse_sisab_report(spark, _REPORT)
    assert df.columns == ["Uf", "Ibge", "Municipio", "Consulta", "Visita"]
    rows = {r["Ibge"]: r for r in df.collect()}
    assert rows["0355030"]["Consulta"] == "1.234,56"  # leading zero kept, dialect raw
    assert rows["330455"]["Consulta"] is None  # empty → NULL on value cols


def test_parse_ftp_list_lines(spark):
    lines = [
        "09-03-24  03:45PM       123456 PASP2408.dbc",
        "01-31-24  12:00AM            7 BISP2408_1.dbc",
        "garbage line",
    ]
    out = {r["nome"]: r for r in parse_ftp_list_lines(spark, lines).collect()}
    assert out["PASP2408.dbc"]["tamanho"] == 123456
    assert out["PASP2408.dbc"]["timestamp_modificacao_ftp"] == dt.datetime(2024, 9, 3, 15, 45)
    assert len(out) == 2


def test_parse_list_lines_driver_side():
    utc = dt.timezone.utc
    lines = [
        "08-20-99  03:45PM           12 PASP2408a.dbc",  # yy 99 is 2099, as in Spark
        "02-30-24  03:45PM           12 PASP2402.dbc",   # no such date
        "09-03-24  00:45AM           12 PASP2409.dbc",   # hh is 01-12
        "total 4 files",
        "\u0660\u0669-03-24  03:45PM   12 PASP2410.dbc",   # Arabic-Indic digits
        "09-03-24  03:45PM           12 BISP2408.dbc",
    ]
    out = {r["nome"]: r for r in parse_list_lines(lines, ("PA",))}
    assert set(out) == {"PASP2408a.dbc", "PASP2402.dbc", "PASP2409.dbc"}
    assert out["PASP2408a.dbc"]["timestamp_modificacao_ftp"] == dt.datetime(
        2099, 8, 20, 15, 45, tzinfo=utc)
    assert out["PASP2408a.dbc"]["tamanho"] == 12
    assert out["PASP2402.dbc"]["timestamp_modificacao_ftp"] is None
    assert out["PASP2409.dbc"]["timestamp_modificacao_ftp"] is None
    assert len(parse_list_lines(lines)) == 4


def test_prefer_partitioned():
    names = ["BISP2408.dbc", "BISP2408_1.dbc", "BISP2408_2.dbc", "PASP2408.dbc"]
    out = prefer_partitioned(names, r"^(BI|PA)SP2408.*\.dbc$")
    assert "BISP2408.dbc" not in out
    assert {"BISP2408_1.dbc", "BISP2408_2.dbc", "PASP2408.dbc"} <= set(out)


def test_read_csv_allstring_and_cast(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("a,b,c\n1,2.5,True\n,0.5,False\n")
    df = read_csv_allstring(spark, str(p))
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)
    typed = cast_columns(df, {"a": "long", "b": "double", "c": "boolean"})
    rows = typed.orderBy("b").collect()
    assert rows[0]["a"] is None and rows[0]["c"] is False
    assert rows[1]["a"] == 1 and rows[1]["b"] == 2.5 and rows[1]["c"] is True


def test_read_dbf_files_with_fake_decoder(spark, tmp_path):
    (tmp_path / "x.dbf").write_bytes(b"AB")
    (tmp_path / "y.dbf").write_bytes(b"CD")

    def decoder(content: bytes):
        for i in range(2):
            yield {"COL1": f"{content.decode()}-{i}", "COL2": i}

    df = read_dbf_files(spark, str(tmp_path), ["COL1", "COL2"], decoder=decoder)
    rows = sorted((r["COL1"], r["COL2"]) for r in df.collect())
    assert rows == [("AB-0", "0"), ("AB-1", "1"), ("CD-0", "0"), ("CD-1", "1")]
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)


def test_read_jdbc_table_argument_contract(spark):
    """Deploy-time connector: smoke the argument validation (no driver
    jar in this container to run a real scan)."""
    import pytest

    from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table

    with pytest.raises(ValueError, match="not a JDBC url"):
        read_jdbc_table(spark, "postgres://x", "t", user="u", password="p")
    with pytest.raises(ValueError, match="partitioned read needs"):
        read_jdbc_table(
            spark, "jdbc:postgresql://h/db", "t", user="u", password="p",
            partition_column="id",  # bounds missing
        )


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL write → read roundtrip, plus malformed-line quarantine:
    broken lines land in _corrupt_record verbatim, clean rows parse
    fully, and nothing is silently dropped."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sm_etl_cloud_run_spark.sources.jsonl import (
        read_jsonl, split_corrupt, write_jsonl,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ])
    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "olá 世界", "pt")], schema
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df, out)
    clean, quarantine = split_corrupt(read_jsonl(spark, out, schema))
    assert quarantine.count() == 0
    got = sorted((r["doc_id"], r["text"], r["lang"]) for r in clean.collect())
    assert got == [(1, "hello world", "en"), (2, "olá 世界", "pt")]

    # hand-written file with two broken lines among good ones
    raw = tmp_path / "drop" ; raw.mkdir()
    (raw / "part-0.jsonl").write_text(
        '{"doc_id": 10, "text": "ok", "lang": "en"}\n'
        '{"doc_id": 11, "text": "unterminated\n'
        'not json at all\n'
        '{"doc_id": 12, "text": "also ok", "lang": "de"}\n'
    )
    clean2, quarantine2 = split_corrupt(read_jsonl(spark, str(raw), schema))
    assert sorted(r["doc_id"] for r in clean2.collect()) == [10, 12]
    bad = sorted(r["raw_line"] for r in quarantine2.collect())
    assert bad == ["not json at all", '{"doc_id": 11, "text": "unterminated']


def test_jsonl_stream_matches_batch(spark, tmp_path):
    """The streaming JSONL reader is the same schema/corrupt contract
    as the batch one: identical rows arrive through a memory sink."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sm_etl_cloud_run_spark.sources.jsonl import read_jsonl_stream, split_corrupt
    from sm_etl_cloud_run_spark.streaming.stream_ops import run_stream_to_memory

    schema = StructType([
        StructField("doc_id", LongType()), StructField("text", StringType()),
    ])
    drop = tmp_path / "stream_drop" ; drop.mkdir()
    (drop / "a.jsonl").write_text('{"doc_id": 1, "text": "x"}\nbroken\n')
    (drop / "b.jsonl").write_text('{"doc_id": 2, "text": "y"}\n')
    clean, _ = split_corrupt(read_jsonl_stream(spark, str(drop), schema))
    q = run_stream_to_memory(clean, "jsonl_out", output_mode="append")
    try:
        q.processAllAvailable()
        got = sorted(
            (r["doc_id"], r["text"])
            for r in spark.sql("SELECT * FROM jsonl_out").collect()
        )
        assert got == [(1, "x"), (2, "y")]
    finally:
        q.stop()


def test_manifest_prunes_range_sorted_files(spark, tmp_path):
    """Footer-stats manifest + data skipping on plain parquet: after a
    range-sorted compaction, a narrow id predicate must open only a
    fraction of the files and still return exactly the full-scan answer."""
    from sm_etl_cloud_run_spark.sinks.compact import compact_parquet_dir, dir_stats
    from sm_etl_cloud_run_spark.sources.manifest import (
        build_manifest, prune_files, read_pruned,
    )

    path = str(tmp_path / "skipme")
    spark.range(40000).selectExpr("id", "id % 13 as v").repartition(16).write.parquet(path)
    _, nbytes = dir_stats(path)
    compact_parquet_dir(spark, path, target_file_bytes=max(1, nbytes // 8),
                        sort_cols=["id"])
    files_total = len(
        [f for f in __import__("glob").glob(path + "/*.parquet")]
    )
    assert files_total >= 4

    manifest = build_manifest(spark, path, ["id"])
    assert manifest.where("min_str IS NULL").count() == 0

    kept = prune_files(manifest, "id", 1000, 1999)
    assert 0 < len(kept) < files_total          # actually skipped files

    got = read_pruned(spark, manifest, "id", 1000, 1999).where(
        "id BETWEEN 1000 AND 1999"
    )
    assert got.count() == 1000
    assert got.selectExpr("sum(id)").first()[0] == sum(range(1000, 2000))

    # pruning must be a SUPERSET guarantee: every row of the full scan
    # under the predicate appears in the pruned scan
    full = spark.read.parquet(path).where("id BETWEEN 1000 AND 1999")
    assert full.exceptAll(got).count() == 0


def test_manifest_empty_prune_returns_typed_empty(spark, tmp_path):
    from sm_etl_cloud_run_spark.sources.manifest import build_manifest, read_pruned

    path = str(tmp_path / "allpruned")
    spark.range(100).coalesce(1).write.parquet(path)
    manifest = build_manifest(spark, path, ["id"])
    out = read_pruned(spark, manifest, "id", 10_000, 20_000)
    assert out.count() == 0 and "id" in out.columns


def test_orc_roundtrip_with_predicate_pushdown(spark, sf_dir, tmp_path):
    """ORC is the second columnar format Spark ships natively; the
    engine's sources are format-agnostic DataFrames, so an ORC lake is
    a one-line swap from parquet. Pin (a) a lossless roundtrip of a
    real fact slice (timestamps included) and (b) that filters still
    reach the ORC scan (PushedFilters) — the property that makes the
    swap scale-neutral."""
    import contextlib
    import io

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "li_orc")
    li.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == li.schema
    assert back.count() == li.count()
    assert back.exceptAll(li).count() == 0 and li.exceptAll(back).count() == 0

    filtered = back.where("l_quantity > 40").select("l_orderkey", "l_quantity")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "l_quantity" in plan
    assert filtered.count() == li.where("l_quantity > 40").count()
