"""End-to-end PA pipeline test (EP1 transform → bronze CSV → EP2 typed
cast), on a FIXTURES.md §2.1-style synthetic chunk with the edge rows
the cleaning operators must handle."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.operators.aggregates import null_counts
from sm_etl_cloud_run_spark.pipelines.base import cast_allstring_typed, spark_type_map, transform_fact
from sm_etl_cloud_run_spark.pipelines.siasus_pa import PA_SPEC
from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv

_PANEL = ["355030", "330455"]


def _raw_pa(spark):
    """Four rows: CAPS passer with every edge case; panel-resident passer
    via CID; non-panel row; panel row failing the condition filter."""
    cols = PA_SPEC.raw_columns
    base = {c: "X" for c in cols}

    r1 = dict(base)
    r1.update({
        "PA_UFMUN": "355030", "PA_MUNPCN": "999999",      # panel by UFMUN; all-nines muni → NULL
        "PA_TPUPS": "70",                                  # passes condition (CAPS)
        "PA_MVM": "202408", "PA_CMP": "202408",
        "PA_MN_IND": "M",                                  # mantido → True
        "PA_OBITO": "1", "PA_ENCERR": "0", "PA_PERMAN": "", "PA_ALTA": "1", "PA_TRANSF": "0",
        "PA_MOTSAI": "11",                                 # outcome reason present → flags kept
        "PA_CNPJMNT": "00000000000000",                    # all-zeros → NULL
        "PA_IDADE": "999",                                 # sentinel → NULL
        "PA_SRV_C": "121001",                              # split 121/001
        "PA_QTDPRO": "5", "PA_QTDAPR": "4",
        "PA_CIDPRI": "A00", "PA_PROC_ID": "000000000", "PA_CBOCOD": "999999", "PA_CATEND": "01",
    })

    r2 = dict(base)
    r2.update({
        "PA_UFMUN": "999998", "PA_MUNPCN": "330455",      # panel by residence
        "PA_TPUPS": "05", "PA_CIDPRI": "F200",            # passes condition (CID F*)
        "PA_MVM": "000000", "PA_CMP": "202408",           # invalid MVM → NULL date
        "PA_MN_IND": "I",
        "PA_OBITO": "1", "PA_ENCERR": "1", "PA_PERMAN": "1", "PA_ALTA": "1", "PA_TRANSF": "1",
        "PA_MOTSAI": "",                                   # NULL reason → outcome flags forced NULL
        "PA_IDADE": "42", "PA_SRV_C": "",
        "PA_QTDPRO": "1", "PA_QTDAPR": "1",
        "PA_PROC_ID": "000000000", "PA_CBOCOD": "000000", "PA_CATEND": "01",
    })

    r3 = dict(base)  # not in panel → dropped by F1
    r3.update({
        "PA_UFMUN": "111111", "PA_MUNPCN": "222222", "PA_TPUPS": "70",
        "PA_MVM": "202408", "PA_CMP": "202408", "PA_QTDPRO": "1", "PA_QTDAPR": "1",
        "PA_CIDPRI": "F200", "PA_PROC_ID": "0", "PA_CBOCOD": "0", "PA_CATEND": "01",
        "PA_MN_IND": "I", "PA_OBITO": "0", "PA_ENCERR": "0", "PA_PERMAN": "0",
        "PA_ALTA": "0", "PA_TRANSF": "0", "PA_MOTSAI": "11", "PA_IDADE": "1", "PA_SRV_C": "",
    })

    r4 = dict(base)  # in panel but fails mental-health condition → dropped by F2
    r4.update({
        "PA_UFMUN": "355030", "PA_MUNPCN": "355030", "PA_TPUPS": "05",
        "PA_CIDPRI": "A00", "PA_PROC_ID": "111111111", "PA_CBOCOD": "111111", "PA_CATEND": "01",
        "PA_MVM": "202408", "PA_CMP": "202408", "PA_QTDPRO": "1", "PA_QTDAPR": "1",
        "PA_MN_IND": "I", "PA_OBITO": "0", "PA_ENCERR": "0", "PA_PERMAN": "0",
        "PA_ALTA": "0", "PA_TRANSF": "0", "PA_MOTSAI": "11", "PA_IDADE": "1", "PA_SRV_C": "",
    })

    rows = [tuple(r[c] for c in cols) for r in (r1, r2, r3, r4)]
    raw = spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in cols))
    return raw.withColumn("ftp_arquivo_nome", F.lit("PASP2408.dbc"))


def _dims(spark):
    periods = spark.createDataFrame(
        [(dt.date(2024, 8, 1), "p-2024-08-M")], "data_inicio date, id string"
    )
    geo = spark.createDataFrame(
        [("355030", "m-sp"), ("330455", "m-rj"), ("999998", "m-x")], "id_sus string, id string"
    )
    return periods, geo


def _transform(spark):
    periods, geo = _dims(spark)
    return transform_fact(
        _raw_pa(spark),
        PA_SPEC,
        panel_ids=_PANEL,
        periods=periods,
        geo=geo,
    )


def test_pa_stage1_semantics(spark):
    out = _transform(spark)
    rows = {r["unidade_geografica_id_sus"]: r for r in out.collect()}
    assert set(rows) == {"355030", "999998"}  # F1+F2 dropped r3/r4

    r1 = rows["355030"]
    assert r1["estabelecimento_mantido"] is True          # C2 'M' decode
    assert r1["mantenedora_id_cnpj"] is None              # C3 all-zeros
    assert r1["usuario_residencia_municipio_id_sus"] is None  # C4 all-nines
    assert r1["usuario_idade"] is None                    # '999' sentinel
    assert r1["obito"] is True and r1["encerramento"] is False
    assert r1["permanencia"] is None                      # '' → tri-state NULL
    assert r1["servico_id_sigtap"] == "121" and r1["servico_classificacao_id_sigtap"] == "001"
    assert "servico_especializado_id_scnes" not in out.columns
    assert r1["realizacao_periodo_data_inicio"] == dt.date(2024, 8, 1)  # C9
    assert r1["periodo_id"] == "p-2024-08-M"              # J1
    assert r1["unidade_geografica_id"] == "m-sp"          # J2
    assert r1["ftp_arquivo_nome"] == "PASP2408.dbc"
    assert len(r1["id"]) == 32                            # P9

    r2 = rows["999998"]
    assert r2["processamento_periodo_data_inicio"] is None  # '000000' coerce
    # F3: NULL outcome reason forces all five flags NULL despite '1' input
    for c in ("obito", "encerramento", "permanencia", "alta", "transferencia"):
        assert r2[c] is None, c
    assert r2["estabelecimento_mantido"] is False

    # A4 validation passes on the guarded columns
    guarded = ["quantidade_apresentada", "quantidade_aprovada", "realizacao_periodo_data_inicio"]
    nulls = null_counts(out, guarded).collect()[0]
    assert [nulls[f"nulls_{c}"] for c in guarded] == [0, 0, 0]


def test_pa_two_stage_roundtrip(spark, tmp_path):
    out = _transform(spark)
    bronze = str(tmp_path / "bronze")
    # K1: bronze CSV landing (all values serialized as text)
    write_bronze_csv(out, bronze, ["PASP2408.dbc"])

    # EP2's read: the spec's columns as an all-string schema, header checked
    schema = ", ".join(f"`{c}` string" for c in spark_type_map(PA_SPEC))
    raw = spark.read.schema(schema).option("header", True).option("enforceSchema", False).csv(bronze)
    typed = cast_allstring_typed(raw, PA_SPEC)
    assert typed.count() == 2
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    assert sch["quantidade_apresentada"] == "bigint"
    assert sch["valor_apresentado"] == "double"
    assert sch["obito"] == "boolean"
    assert sch["realizacao_periodo_data_inicio"] == "timestamp"
    assert sch["estabelecimento_id_scnes"] == "string"

    rows = {r["unidade_geografica_id_sus"]: r for r in typed.collect()}
    assert rows["355030"]["quantidade_apresentada"] == 5
    # True booleans must survive the bronze round-trip ('True' text)
    assert rows["355030"]["obito"] is True
    assert rows["355030"]["estabelecimento_mantido"] is True
    # stage-2 semantics: tri-state NULLs collapse to False (SURVEY §7.3)
    assert rows["999998"]["obito"] is False


def test_pa_stage1_from_real_dbc_file(spark):
    """EP1 parity from the wire format: the same raw chunk packed into a
    real `.dbc` (PKWARE-compressed dBase) and fetched with
    `read_datasus_ftp` over a fake FTP session yields the exact same
    transformed fact — including row ids — as the in-memory path."""
    from dbc_fixtures import make_dbc, make_dbf
    from test_datasus_ftp import FakeFtpSession

    from sm_etl_cloud_run_spark.sources.datasus_ftp import read_datasus_ftp

    cols = PA_SPEC.raw_columns
    data = [[r[c] or "" for c in cols] for r in _raw_pa(spark).collect()]
    fields = [
        (c, "C", max(1, *(len(row[i]) for row in data)))
        for i, c in enumerate(cols)
    ]
    tree = {"/d": {"PASP2408.dbc": make_dbc(make_dbf(fields, data))}}

    # DBF strips to None; normalize to '' to match the in-memory fixture
    raw_dbc = read_datasus_ftp(
        spark, "ftp.fake", "/d", ["PASP2408.dbc"], cols,
        transport_factory=lambda: FakeFtpSession(tree),
    ).fillna("")

    periods, geo = _dims(spark)
    kw = dict(
        panel_ids=_PANEL,
        periods=periods,
        geo=geo,
    )
    audit = ["criacao_data", "atualizacao_data"]  # wall-clock timestamps
    out_mem = transform_fact(_raw_pa(spark), PA_SPEC, **kw).drop(*audit)
    out_dbc = transform_fact(raw_dbc, PA_SPEC, **kw).drop(*audit)
    assert out_mem.columns == out_dbc.columns
    assert sorted(map(tuple, out_mem.collect())) == sorted(map(tuple, out_dbc.collect()))
