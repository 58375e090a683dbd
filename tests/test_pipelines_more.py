"""Pipeline tests for BPA-i, RAAS, AIH-RD (vintages) and SCNES (surgery).

Each two-stage test lands a bronze CSV and reads it back through the
production EP2 cast (`cast_allstring_typed`)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.pipelines.base import cast_allstring_typed, spark_type_map, transform_fact
from sm_etl_cloud_run_spark.pipelines.scnes import HABILITACOES_SPEC, VINCULOS_SPEC
from sm_etl_cloud_run_spark.pipelines.siasus_bpa_i import BPA_I_SPEC
from sm_etl_cloud_run_spark.pipelines.siasus_raas import RAAS_PS_SPEC
from sm_etl_cloud_run_spark.pipelines.sihsus_aih_rd import AIH_RD_SPEC
from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv


# the source file every test row comes from
_ARQUIVO = "XXSP2408.dbc"


def _typed(spark, bronze, spec, landed):
    """EP2's read and cast: the spec's columns that were landed, as an
    all-string schema checked against the bronze header."""
    schema = ", ".join(f"`{c}` string" for c in spark_type_map(spec) if c in landed)
    raw = spark.read.schema(schema).option("header", True).option("enforceSchema", False).csv(bronze)
    return cast_allstring_typed(raw, spec)


def _dims(spark):
    """`transform_fact`'s dims for the test rows: their municipality's
    panel and geo rows and their month, August 2024."""
    return dict(
        panel_ids=["355030"],
        periods=spark.createDataFrame([(dt.date(2024, 8, 1), "p-2024-08")], "data_inicio date, id string"),
        geo=spark.createDataFrame([("355030", "m-sp")], "id_sus string, id string"),
    )


def _row_df(spark, spec, overrides, default="X"):
    cols = spec.raw_columns
    row = {c: default for c in cols}
    row.update(overrides)
    present = [c for c in cols if row.get(c, "__absent__") != "__absent__"]
    data = [tuple(row[c] for c in present)]
    raw = spark.createDataFrame(data, ", ".join(f"`{c}` string" for c in present))
    return raw.withColumn("ftp_arquivo_nome", F.lit(_ARQUIVO))


def test_bpa_i_flags_and_condition(spark):
    raw = _row_df(
        spark,
        BPA_I_SPEC,
        {
            "UFMUN": "355030", "MUNPAC": "355030",
            "TPUPS": "05", "CBOPROF": "251510",  # passes via CBO prefix 2515
            "CIDPRI": "A00", "PROC_ID": "1", "CATEND": "01",
            "DT_PROCESS": "202408", "DT_ATEND": "202408", "DTNASC": "1990 101",
            "MN_IND": "I", "UFDIF": "1", "MNDIF": "0",
            "CNPJMNT": "00000000000000",
        },
    )
    out = transform_fact(raw, BPA_I_SPEC, **_dims(spark)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["usuario_nascimento_data"] == dt.date(1990, 1, 1)  # space-padded C10
    assert r["atendimento_residencia_ufs_distintas"] is True  # '1' flag (not tri-state)
    assert r["atendimento_residencia_municipios_distintos"] is False
    assert r["mantenedora_id_cnpj"] is None


def test_raas_substance_flags_and_interval(spark):
    raw = _row_df(
        spark,
        RAAS_PS_SPEC,
        {
            "UFMUN": "355030", "DT_PROCESS": "202408", "DT_ATEND": "202408",
            "MN_IND": "M", "SIT_RUA": "S", "COB_ESF": "N",
            "TP_DROGA": "AC", "PERMANEN": "45",
            "DTNASC": "19900101", "DT_MOTCOB": "", "DT_INICIO": "20240801",
            "DT_FIM": "20240815", "INICIO": "20240801", "FIM": "20240815",
        },
    )
    out = transform_fact(raw, RAAS_PS_SPEC, **_dims(spark)).collect()
    r = out[0]
    assert r["usuario_abuso_substancias"] is True          # len>0
    assert r["usuario_abuso_substancias_alcool"] is True   # contains A
    assert r["usuario_abuso_substancias_crack"] is True    # contains C
    assert r["usuario_abuso_substancias_outras"] is False
    assert r["usuario_situacao_rua"] is True and r["esf_cobertura"] is False
    assert r["permanencia_duracao"] == "45 days"           # C16
    assert r["desfecho_data"] is None                      # '' date → NULL


def test_raas_empty_substance_is_false(spark):
    raw = _row_df(
        spark, RAAS_PS_SPEC,
        {"DT_PROCESS": "202408", "DT_ATEND": "202408", "TP_DROGA": "", "PERMANEN": "",
         "MN_IND": "I", "SIT_RUA": "N", "COB_ESF": "N",
         "DTNASC": "19900101", "DT_MOTCOB": "20240801", "DT_INICIO": "20240801",
         "DT_FIM": "20240815", "INICIO": "20240801", "FIM": "20240815"},
    )
    r = transform_fact(raw, RAAS_PS_SPEC, **_dims(spark)).collect()[0]
    assert r["usuario_abuso_substancias"] is False
    assert r["usuario_abuso_substancias_alcool"] is False
    assert r["permanencia_duracao"] is None


def test_aih_rd_vintage_harmonization(spark):
    # OLD vintage: no "adicionais" raw columns at all (P4 adds them)
    base_only = {c: "1" for c in AIH_RD_SPEC.rename if c not in AIH_RD_SPEC.optional_raw}
    base_only.update({
        "ANO_CMPT": "2024", "MES_CMPT": "8",
        "NASC": "19900101", "DT_INTER": "20240801", "DT_SAIDA": "20240815",
        "GESTOR_DT": "20240810", "MORTE": "1", "IND_VDRL": "0",
        "HOMONIMO": "", "GESTRISCO": "1", "TPDISEC1": "00",
    })
    cols = list(base_only)
    raw = spark.createDataFrame(
        [tuple(base_only[c] for c in cols)], ", ".join(f"`{c}` string" for c in cols)
    ).withColumn("ftp_arquivo_nome", F.lit(_ARQUIVO))
    out = transform_fact(raw, AIH_RD_SPEC, **_dims(spark))
    r = out.collect()[0]
    assert r["periodo_data_inicio"] == dt.date(2024, 8, 1)       # C12 from ano+mes
    assert "processamento_periodo_ano_inicio" not in out.columns  # sources dropped
    assert r["obito"] is True and r["exame_vdrl"] is False and r["usuario_homonimo"] is None
    assert r["estabelecimento_natureza_id_scnes"] is None         # adicionais added as '' → NULL
    assert r["condicao_secundaria_1_id_cid10"] is None
    assert r["aih_data_inicio"] == dt.date(2024, 8, 1)


def test_scnes_vinculos_string_surgery(spark):
    raw = _row_df(
        spark, VINCULOS_SPEC,
        {
            "COMPETEN": "202408",
            "REGSAUDE": "XII",          # roman → '12' → zfill4 '0012'
            "DISTRSAN": "7",            # zfill4 '0007'
            "MICR_REG": "35001",        # zfill6 '035001'
            "DISTRADM": "ABC",          # roman-invalid kept, strip? no: only REGSAUDE stripped → 'ABC'
            "REGISTRO": "CRM-12.345",   # strip non-digits → '12345'
            "NIV_DEP": "1",             # mantido flag '1'
            "TERCEIRO": "0", "VINCUL_C": "1", "VINCUL_A": "", "VINCUL_N": "0",
            "PROF_SUS": "1", "PROFNSUS": "0",
            "CODUFMUN": "355030",
        },
    )
    r = transform_fact(raw, VINCULOS_SPEC, **_dims(spark)).collect()[0]
    assert r["estabelecimento_regiao_saude_id_sus"] == "0012"
    assert r["estabelecimento_distrito_sanitario_id_sus"] == "0007"
    assert r["estabelecimento_microrregiao_saude_id_sus"] == "035001"
    assert r["profissional_id_conselho"] == "12345"
    assert r["estabelecimento_mantido"] is True
    assert r["contratado"] is True and r["autonomo"] is None and r["sem_vinculo_definido"] is False
    assert r["periodo_data_inicio"] == dt.date(2024, 8, 1)


def test_scnes_vinculos_invalid_roman_all_zero_path(spark):
    # 'ABC' roman-invalid → passthrough → strip → '' → zfill '0000' → NULL (C3)
    raw = _row_df(
        spark, VINCULOS_SPEC,
        {"COMPETEN": "202408", "REGSAUDE": "ABC", "NIV_DEP": "0",
         "TERCEIRO": "0", "VINCUL_C": "0", "VINCUL_A": "0", "VINCUL_N": "0",
         "PROF_SUS": "0", "PROFNSUS": "0", "REGISTRO": "1", "CODUFMUN": "355030"},
    )
    r = transform_fact(raw, VINCULOS_SPEC, **_dims(spark)).collect()[0]
    assert r["estabelecimento_regiao_saude_id_sus"] is None


def test_scnes_habilitacoes_dates(spark):
    raw = _row_df(
        spark, HABILITACOES_SPEC,
        {
            "COMPETEN": "202408", "CMPT_INI": "202401", "CMPT_FIM": "202412",
            "MAPORTAR": "202312", "DTPORTAR": "15/03/2023",
            "NIV_DEP": "1", "TERCEIRO": "1", "VINC_SUS": "1",
            "REGSAUDE": "IV", "NULEITOS": "12", "CODUFMUN": "355030",
        },
    )
    r = transform_fact(raw, HABILITACOES_SPEC, **_dims(spark)).collect()[0]
    assert r["portaria_data"] == dt.date(2023, 3, 15)        # C11 dd/MM/yyyy
    assert r["vigencia_data_inicio"] == dt.date(2024, 1, 1)
    assert r["estabelecimento_regiao_saude_id_sus"] == "0004"  # roman IV → 4 → zfill
    assert r["atendimento_sus"] is True


def test_raas_two_stage_roundtrip(spark, tmp_path):
    raw = _row_df(
        spark, RAAS_PS_SPEC,
        {"UFMUN": "355030", "DT_PROCESS": "202408", "DT_ATEND": "202408",
         "MN_IND": "M", "SIT_RUA": "S", "COB_ESF": "N", "TP_DROGA": "AC",
         "PERMANEN": "45", "PA_QTDPRO": "3", "PA_QTDAPR": "2",
         "DTNASC": "19900101", "DT_MOTCOB": "20240810", "DT_INICIO": "20240801",
         "DT_FIM": "20240815", "INICIO": "20240801", "FIM": "20240815",
         "QTDATE": "7", "QTDPCN": "2"},
    )
    out = transform_fact(raw, RAAS_PS_SPEC, **_dims(spark))
    bronze = str(tmp_path / "bronze")
    write_bronze_csv(out, bronze, [_ARQUIVO])
    typed = _typed(spark, bronze, RAAS_PS_SPEC, out.columns)
    r = typed.collect()[0]
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    assert sch["quantidade_apresentada"] == "bigint" and r["quantidade_apresentada"] == 3
    assert sch["usuario_abuso_substancias_alcool"] == "boolean" and r["usuario_abuso_substancias_alcool"] is True
    assert sch["permanencia_duracao"] == "string" and r["permanencia_duracao"] == "45 days"
    assert sch["raas_data_inicio"] == "timestamp"
    assert r["quantidade_atendimentos"] == 7


def test_bpa_i_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for BPA-i: values, Int64/Float64 casts and `== '1'` flag
    semantics survive the bronze CSV round-trip
    (reference: load_bd/siasus_bpa_individualizado_load_bd.py:28-73)."""
    raw = _row_df(
        spark, BPA_I_SPEC,
        {"UFMUN": "355030", "MUNPAC": "355030", "CBOPROF": "251510",
         "CIDPRI": "F200", "TPUPS": "05", "CATEND": "01", "PROC_ID": "1",
         "DT_PROCESS": "202408", "DT_ATEND": "202408", "DTNASC": "19900101",
         "MN_IND": "M", "UFDIF": "1", "MNDIF": "0",
         "QT_APRES": "5", "QT_APROV": "4",
         "VL_APRES": "123.45", "VL_APROV": "100.0",
         "IDADEPAC": "34", "CNPJMNT": "00000000000000"},
    )
    out = transform_fact(raw, BPA_I_SPEC, **_dims(spark))
    bronze = str(tmp_path / "bronze")
    write_bronze_csv(out, bronze, [_ARQUIVO])
    typed = _typed(spark, bronze, BPA_I_SPEC, out.columns)
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    r = typed.collect()[0]
    assert sch["quantidade_apresentada"] == "bigint" and r["quantidade_apresentada"] == 5
    assert sch["valor_apresentado"] == "double" and r["valor_apresentado"] == 123.45
    assert sch["usuario_idade"] == "bigint" and r["usuario_idade"] == 34
    assert r["estabelecimento_mantido"] is True           # 'M' flag survives as 'True'
    assert r["atendimento_residencia_ufs_distintas"] is True
    assert r["atendimento_residencia_municipios_distintos"] is False
    assert r["mantenedora_id_cnpj"] is None               # C3 NULL survives as empty
    assert sch["realizacao_periodo_data_inicio"] == "timestamp"


def test_aih_rd_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for AIH-RD (new vintage, adicionais present): money stays
    double, NUM_FILHOS Int64, and stage-2 collapses the tri-state NULL
    boolean to False (SURVEY §7.3; load_bd/sihsus_aih_rd_load_bd.py)."""
    raw = _row_df(
        spark, AIH_RD_SPEC,
        {"ANO_CMPT": "2024", "MES_CMPT": "8",
         "NASC": "19900101", "DT_INTER": "20240801", "DT_SAIDA": "20240815",
         "GESTOR_DT": "20240810",
         "MORTE": "1", "IND_VDRL": "0", "HOMONIMO": "", "GESTRISCO": "1",
         "NUM_FILHOS": "3", "VAL_TOT": "1234.56", "VAL_SH": "1000.5",
         "NATUREZA": "61", "DIAGSEC1": "F20", "TPDISEC1": "1",
         "MUNIC_MOV": "355030"},
        default="1",
    )
    out = transform_fact(raw, AIH_RD_SPEC, **_dims(spark))
    bronze = str(tmp_path / "bronze")
    write_bronze_csv(out, bronze, [_ARQUIVO])
    typed = _typed(spark, bronze, AIH_RD_SPEC, out.columns)
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    r = typed.collect()[0]
    assert sch["valor_total"] == "double" and r["valor_total"] == 1234.56
    assert sch["valor_servicos_hospitalares"] == "string"  # reference keeps VAL_SH object
    assert sch["diarias"] == "bigint" and r["diarias"] == 1
    assert r["usuario_filhos_quantidade"] == 3 and sch["usuario_filhos_quantidade"] == "bigint"
    assert r["obito"] is True and r["exame_vdrl"] is False
    assert r["infeccao_hospitalar"] is True               # INFEHOSP '1' decodes like its siblings
    assert r["usuario_homonimo"] is False                 # NULL → False at stage 2
    assert r["periodo_data_inicio"] == dt.datetime(2024, 8, 1)  # C12 date through bronze
    assert r["condicao_secundaria_1_id_cid10"] == "F20"   # adicionais value kept


def test_scnes_vinculos_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for SCNES vinculos: string-surgery outputs (roman→zfill,
    strip-nondigits), Int64 workload hours and tri-state flag collapse
    survive the bronze round-trip (load_bd/scnes_vinculos_load_bd.py)."""
    raw = _row_df(
        spark, VINCULOS_SPEC,
        {"COMPETEN": "202408", "REGSAUDE": "XII", "DISTRSAN": "7",
         "MICR_REG": "35001", "REGISTRO": "CRM-12.345",
         "NIV_DEP": "1", "TERCEIRO": "0",
         "VINCUL_C": "1", "VINCUL_A": "", "VINCUL_N": "0",
         "PROF_SUS": "1", "PROFNSUS": "0",
         "HORAOUTR": "4", "HORAHOSP": "20", "HORA_AMB": "16",
         "CODUFMUN": "355030"},
    )
    out = transform_fact(raw, VINCULOS_SPEC, **_dims(spark))
    bronze = str(tmp_path / "bronze")
    write_bronze_csv(out, bronze, [_ARQUIVO])
    typed = _typed(spark, bronze, VINCULOS_SPEC, out.columns)
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    r = typed.collect()[0]
    assert r["estabelecimento_regiao_saude_id_sus"] == "0012"      # roman+zfill kept text
    assert r["profissional_id_conselho"] == "12345"
    assert sch["atendimento_carga_hospitalar"] == "bigint" and r["atendimento_carga_hospitalar"] == 20
    assert r["contratado"] is True and r["sem_vinculo_definido"] is False
    assert r["autonomo"] is False                                  # NULL tri-state → False at stage 2
    assert sch["periodo_data_inicio"] == "timestamp"


def test_scnes_habilitacoes_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for SCNES habilitações: the three date dialects (yyyyMM
    vigência, dd/MM/yyyy portaria) and Int64 leitos survive bronze."""
    raw = _row_df(
        spark, HABILITACOES_SPEC,
        {"COMPETEN": "202408", "CMPT_INI": "202401", "CMPT_FIM": "202412",
         "MAPORTAR": "202312", "DTPORTAR": "15/03/2023",
         "NIV_DEP": "1", "TERCEIRO": "0", "VINC_SUS": "1",
         "REGSAUDE": "IV", "NULEITOS": "12", "CODUFMUN": "355030"},
    )
    out = transform_fact(raw, HABILITACOES_SPEC, **_dims(spark))
    bronze = str(tmp_path / "bronze")
    write_bronze_csv(out, bronze, [_ARQUIVO])
    typed = _typed(spark, bronze, HABILITACOES_SPEC, out.columns)
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    r = typed.collect()[0]
    assert sch["leitos_quantidade"] == "bigint" and r["leitos_quantidade"] == 12
    assert r["portaria_data"] == dt.datetime(2023, 3, 15)          # C11 through bronze
    assert r["vigencia_data_inicio"] == dt.datetime(2024, 1, 1)    # C9 yyyyMM
    assert r["vigencia_data_fim"] == dt.datetime(2024, 12, 1)
    assert r["atendimento_sus"] is True
    assert r["estabelecimento_regiao_saude_id_sus"] == "0004"
