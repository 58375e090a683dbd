"""Pipeline tests for BPA-i, RAAS, AIH-RD (vintages), SCNES (surgery)
and SISAB (melt shape)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.pipelines import (
    AIH_RD_SPEC,
    BPA_I_SPEC,
    HABILITACOES_SPEC,
    RAAS_PS_SPEC,
    VINCULOS_SPEC,
    condicao_saude_mental_bpa_i,
    transform_fact,
    transform_sisab_producao,
)
from sm_etl_cloud_run_spark.sources import parse_sisab_report


def _row_df(spark, spec, overrides, default="X"):
    cols = spec.raw_columns
    row = {c: default for c in cols}
    row.update(overrides)
    present = [c for c in cols if row.get(c, "__absent__") != "__absent__"]
    data = [tuple(row[c] for c in present)]
    return spark.createDataFrame(data, ", ".join(f"`{c}` string" for c in present))


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
    out = transform_fact(
        raw, BPA_I_SPEC,
        panel_ids=["355030"], panel_raw_cols=("UFMUN", "MUNPAC"),
        condition=condicao_saude_mental_bpa_i(),
        ftp_arquivo_nome="BISP2408.dbc", deterministic_ids=True,
    ).collect()
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
    out = transform_fact(raw, RAAS_PS_SPEC, ftp_arquivo_nome="PSSP2408.dbc", deterministic_ids=True).collect()
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
    r = transform_fact(raw, RAAS_PS_SPEC, deterministic_ids=True).collect()[0]
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
    )
    out = transform_fact(raw, AIH_RD_SPEC, ftp_arquivo_nome="RDSP2408.dbc", deterministic_ids=True)
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
    r = transform_fact(raw, VINCULOS_SPEC, ftp_arquivo_nome="PFSP2408.dbc", deterministic_ids=True).collect()[0]
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
    r = transform_fact(raw, VINCULOS_SPEC, deterministic_ids=True).collect()[0]
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
    r = transform_fact(raw, HABILITACOES_SPEC, deterministic_ids=True).collect()[0]
    assert r["portaria_data"] == dt.date(2023, 3, 15)        # C11 dd/MM/yyyy
    assert r["vigencia_data_inicio"] == dt.date(2024, 1, 1)
    assert r["estabelecimento_regiao_saude_id_sus"] == "0004"  # roman IV → 4 → zfill
    assert r["atendimento_sus"] is True


def test_raas_two_stage_roundtrip(spark, tmp_path):
    from sm_etl_cloud_run_spark.pipelines import load_typed
    from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv

    raw = _row_df(
        spark, RAAS_PS_SPEC,
        {"UFMUN": "355030", "DT_PROCESS": "202408", "DT_ATEND": "202408",
         "MN_IND": "M", "SIT_RUA": "S", "COB_ESF": "N", "TP_DROGA": "AC",
         "PERMANEN": "45", "PA_QTDPRO": "3", "PA_QTDAPR": "2",
         "DTNASC": "19900101", "DT_MOTCOB": "20240810", "DT_INICIO": "20240801",
         "DT_FIM": "20240815", "INICIO": "20240801", "FIM": "20240815",
         "QTDATE": "7", "QTDPCN": "2"},
    )
    out = transform_fact(raw, RAAS_PS_SPEC, ftp_arquivo_nome="PSSP2408.dbc", deterministic_ids=True)
    bronze = str(tmp_path / "bronze")
    write_bronze_csv(out, bronze, coalesce=1)
    typed = load_typed(spark, bronze, RAAS_PS_SPEC, str(tmp_path / "typed"))
    r = typed.collect()[0]
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    assert sch["quantidade_apresentada"] == "bigint" and r["quantidade_apresentada"] == 3
    assert sch["usuario_abuso_substancias_alcool"] == "boolean" and r["usuario_abuso_substancias_alcool"] is True
    assert sch["permanencia_duracao"] == "string" and r["permanencia_duracao"] == "45 days"
    assert sch["raas_data_inicio"] == "timestamp"
    assert r["quantidade_atendimentos"] == 7


def _minimal_overrides(spec):
    """Valid-string defaults for every date/flag column of a spec so the
    generic roundtrip works for any source."""
    ov = {}
    for c in spec.rename:
        canon = spec.rename[c]
        if canon in spec.yyyymm_dates:
            ov[c] = "202408"
        elif canon in spec.yyyymmdd_dates:
            ov[c] = "20240815"
        elif canon in spec.ddmmyyyy_dates:
            ov[c] = "15/08/2024"
        elif canon in spec.bool01:
            ov[c] = "1"
        elif canon in spec.flag_true:
            ov[c] = spec.flag_true[canon]
        elif canon in spec.interval_text_cols:
            ov[c] = "3"
    if spec.make_date_from:
        for raw, canon in spec.rename.items():
            if canon == spec.make_date_from[0]:
                ov[raw] = "2024"
            if canon == spec.make_date_from[1]:
                ov[raw] = "8"
    return ov


def test_all_specs_two_stage_roundtrip(spark, tmp_path):
    """Every fact spec survives transform → bronze CSV → typed load with
    its declared schema, and True booleans round-trip."""
    from sm_etl_cloud_run_spark.pipelines import ALL_FACT_SPECS, load_typed
    from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv

    for spec in ALL_FACT_SPECS:
        raw = _row_df(spark, spec, _minimal_overrides(spec), default="7")
        out = transform_fact(raw, spec, ftp_arquivo_nome=f"{spec.name}.dbc", deterministic_ids=True)
        bronze = str(tmp_path / spec.name / "bronze")
        write_bronze_csv(out, bronze, coalesce=1)
        typed = load_typed(spark, bronze, spec, str(tmp_path / spec.name / "typed"))
        assert typed.count() == 1, spec.name
        sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
        r = typed.collect()[0]
        for canon, pdtype in spec.type_map.items():
            if canon not in sch:
                # enrichment columns only exist when dims were provided
                assert canon in ("periodo_id", "unidade_geografica_id"), (spec.name, canon)
                continue
            expected = {"object": "string", "Int64": "bigint", "int64": "bigint",
                        "Float64": "double", "float64": "double", "bool": "boolean",
                        "datetime64[ns]": "timestamp"}[pdtype]
            assert sch.get(canon) == expected, (spec.name, canon)
        for canon in spec.bool01:
            assert r[canon] is True, (spec.name, canon)  # '1' → True survives bronze


_REPORT = (
    "header junk\n\n\n"
    "Uf;Ibge;Municipio;eAP;eSF;Unnamed: 5\n"
    "SP;0355030;São Paulo;1.234;7;\n"
    "SP;0355031;Outro;;3;\n"
    "RJ;330455;Rio;5;0;\n"
    "\n\n\nFonte: SISAB"
)


def test_sisab_pipeline_end_to_end(spark):
    wide = parse_sisab_report(spark, _REPORT)
    periods = spark.createDataFrame([(dt.date(2024, 8, 1), "p-2024-08-M")], "data_inicio date, id string")
    geo = spark.createDataFrame([("0355030", "m-sp"), ("330455", "m-rj")], "id_sus string, id string")
    out = transform_sisab_producao(
        wide,
        variavel_coluna="Tipo de Equipe",
        variavel_saida="tipo_equipe",
        competencia=dt.date(2024, 8, 1),
        panel_ids=["0355030", "330455"],
        periods=periods,
        geo=geo,
        deterministic_ids=True,
    )
    rows = {(r["unidade_geografica_id_sus"], r["tipo_equipe"]): r for r in out.collect()}
    assert len(rows) == 4  # 2 panel municipalities × 2 team types
    # C19-adjacent: '1.234' thousands-dot parses via double cast? value kept textual here:
    assert rows[("0355030", "eSF")]["quantidade_registrada"] == 7
    assert rows[("330455", "eAP")]["quantidade_registrada"] == 5
    assert rows[("0355030", "eAP")]["periodo_id"] == "p-2024-08-M"
    assert rows[("0355030", "eAP")]["unidade_geografica_id"] == "m-sp"
    assert out.columns[0] == "id" and out.columns[-1] == "atualizacao_data"  # P6 order


def test_bpa_i_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for BPA-i: values, Int64/Float64 casts and `== '1'` flag
    semantics survive the bronze CSV round-trip; re-load is idempotent
    (reference: load_bd/siasus_bpa_individualizado_load_bd.py:28-73)."""
    from sm_etl_cloud_run_spark.pipelines import load_typed
    from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv

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
    out = transform_fact(
        raw, BPA_I_SPEC,
        condition=condicao_saude_mental_bpa_i(),
        ftp_arquivo_nome="BISP2408.dbc", deterministic_ids=True,
    )
    bronze = str(tmp_path / "bronze")
    target = str(tmp_path / "typed")
    write_bronze_csv(out, bronze, coalesce=1)
    typed = load_typed(spark, bronze, BPA_I_SPEC, target)
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
    load_typed(spark, bronze, BPA_I_SPEC, target)         # K3 idempotency
    assert spark.read.parquet(target).count() == 1


def test_aih_rd_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for AIH-RD (new vintage, adicionais present): money stays
    double, NUM_FILHOS Int64, and stage-2 collapses the tri-state NULL
    boolean to False (SURVEY §7.3; load_bd/sihsus_aih_rd_load_bd.py)."""
    from sm_etl_cloud_run_spark.pipelines import load_typed
    from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv

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
    out = transform_fact(raw, AIH_RD_SPEC, ftp_arquivo_nome="RDSP2408.dbc", deterministic_ids=True)
    bronze = str(tmp_path / "bronze")
    target = str(tmp_path / "typed")
    write_bronze_csv(out, bronze, coalesce=1)
    typed = load_typed(spark, bronze, AIH_RD_SPEC, target)
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    r = typed.collect()[0]
    assert sch["valor_total"] == "double" and r["valor_total"] == 1234.56
    assert sch["valor_servicos_hospitalares"] == "string"  # reference keeps VAL_SH object
    assert sch["diarias"] == "bigint" and r["diarias"] == 1
    assert r["usuario_filhos_quantidade"] == 3 and sch["usuario_filhos_quantidade"] == "bigint"
    assert r["obito"] is True and r["exame_vdrl"] is False
    assert r["usuario_homonimo"] is False                 # NULL → False at stage 2
    assert r["periodo_data_inicio"] == dt.datetime(2024, 8, 1)  # C12 date through bronze
    assert r["condicao_secundaria_1_id_cid10"] == "F20"   # adicionais value kept
    load_typed(spark, bronze, AIH_RD_SPEC, target)        # K3 idempotency
    assert spark.read.parquet(target).count() == 1


def test_scnes_vinculos_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for SCNES vinculos: string-surgery outputs (roman→zfill,
    strip-nondigits), Int64 workload hours and tri-state flag collapse
    survive the bronze round-trip (load_bd/scnes_vinculos_load_bd.py)."""
    from sm_etl_cloud_run_spark.pipelines import load_typed
    from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv

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
    out = transform_fact(raw, VINCULOS_SPEC, ftp_arquivo_nome="PFSP2408.dbc", deterministic_ids=True)
    bronze = str(tmp_path / "bronze")
    target = str(tmp_path / "typed")
    write_bronze_csv(out, bronze, coalesce=1)
    typed = load_typed(spark, bronze, VINCULOS_SPEC, target)
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    r = typed.collect()[0]
    assert r["estabelecimento_regiao_saude_id_sus"] == "0012"      # roman+zfill kept text
    assert r["profissional_id_conselho"] == "12345"
    assert sch["atendimento_carga_hospitalar"] == "bigint" and r["atendimento_carga_hospitalar"] == 20
    assert r["contratado"] is True and r["sem_vinculo_definido"] is False
    assert r["autonomo"] is False                                  # NULL tri-state → False at stage 2
    assert sch["periodo_data_inicio"] == "timestamp"
    load_typed(spark, bronze, VINCULOS_SPEC, target)               # K3 idempotency
    assert spark.read.parquet(target).count() == 1


def test_scnes_habilitacoes_two_stage_roundtrip(spark, tmp_path):
    """EP1→EP2 for SCNES habilitações: the three date dialects (yyyyMM
    vigência, dd/MM/yyyy portaria) and Int64 leitos survive bronze."""
    from sm_etl_cloud_run_spark.pipelines import load_typed
    from sm_etl_cloud_run_spark.sinks.partitioned import write_bronze_csv

    raw = _row_df(
        spark, HABILITACOES_SPEC,
        {"COMPETEN": "202408", "CMPT_INI": "202401", "CMPT_FIM": "202412",
         "MAPORTAR": "202312", "DTPORTAR": "15/03/2023",
         "NIV_DEP": "1", "TERCEIRO": "0", "VINC_SUS": "1",
         "REGSAUDE": "IV", "NULEITOS": "12", "CODUFMUN": "355030"},
    )
    out = transform_fact(raw, HABILITACOES_SPEC, ftp_arquivo_nome="HBSP2408.dbc", deterministic_ids=True)
    bronze = str(tmp_path / "bronze")
    target = str(tmp_path / "typed")
    write_bronze_csv(out, bronze, coalesce=1)
    typed = load_typed(spark, bronze, HABILITACOES_SPEC, target)
    sch = {f.name: f.dataType.simpleString() for f in typed.schema.fields}
    r = typed.collect()[0]
    assert sch["leitos_quantidade"] == "bigint" and r["leitos_quantidade"] == 12
    assert r["portaria_data"] == dt.datetime(2023, 3, 15)          # C11 through bronze
    assert r["vigencia_data_inicio"] == dt.datetime(2024, 1, 1)    # C9 yyyyMM
    assert r["vigencia_data_fim"] == dt.datetime(2024, 12, 1)
    assert r["atendimento_sus"] is True
    assert r["estabelecimento_regiao_saude_id_sus"] == "0004"
    load_typed(spark, bronze, HABILITACOES_SPEC, target)           # K3 idempotency
    assert spark.read.parquet(target).count() == 1


def test_sisab_resolutividade_two_axis_shape(spark):
    """The resolutividade flavor: melt covers Conduta; the condition
    axis and tipo_producao are per-request constants placed in the
    reference's fixed column order
    (etl/sisab_resolutividade_por_condicao.py:99-111,135-143)."""
    wide = parse_sisab_report(spark, _REPORT)  # columns eAP/eSF play the Conduta role
    out = transform_sisab_producao(
        wide,
        variavel_coluna="Conduta",
        variavel_saida="conduta",
        competencia=dt.date(2024, 8, 1),
        panel_ids=["0355030"],
        constants={
            "tipo_producao": "Atendimento Individual",
            "problema_condicao_avaliada": "Saúde Mental",
        },
        deterministic_ids=True,
    )
    assert out.columns == [
        "id",
        "unidade_geografica_id_sus",
        "periodo_data_inicio",
        "tipo_producao",
        "problema_condicao_avaliada",
        "conduta",
        "quantidade_registrada",
        "atualizacao_data",
    ]
    rows = out.collect()
    assert all(r["tipo_producao"] == "Atendimento Individual" for r in rows)
    assert all(r["problema_condicao_avaliada"] == "Saúde Mental" for r in rows)
    assert {r["conduta"] for r in rows} == {"eAP", "eSF"}


def test_sisab_k4_delete_by_period_load(spark, tmp_path):
    """SISAB stage 2 (load_bd/sisab_*_load_bd.py:125-159): retroactive
    updates re-land one competência; partition overwrite on
    periodo_data_inicio replaces exactly that month, other months
    untouched - run twice for idempotency."""
    from sm_etl_cloud_run_spark.sinks.partitioned import write_partition_overwrite

    def month(competencia, values):
        wide = parse_sisab_report(spark, _REPORT)
        out = transform_sisab_producao(
            wide, variavel_coluna="Tipo de Equipe", variavel_saida="tipo_equipe",
            competencia=competencia, deterministic_ids=True,
        )
        return out.withColumn("quantidade_registrada", F.col("quantidade_registrada") * values)

    target = str(tmp_path / "sisab_fact")
    aug, sep = dt.date(2024, 8, 1), dt.date(2024, 9, 1)
    write_partition_overwrite(month(aug, 1), target, ["periodo_data_inicio"])
    write_partition_overwrite(month(sep, 1), target, ["periodo_data_inicio"])
    before = spark.read.parquet(target)
    n_total = before.count()
    sep_sum0 = before.where(F.col("periodo_data_inicio") == sep).agg(
        F.sum("quantidade_registrada")
    ).collect()[0][0]

    # retroactive SISAB revision: August re-published with doubled values
    write_partition_overwrite(month(aug, 2), target, ["periodo_data_inicio"])
    write_partition_overwrite(month(aug, 2), target, ["periodo_data_inicio"])  # idempotent
    after = spark.read.parquet(target)
    assert after.count() == n_total                    # row grain unchanged
    aug_sum = after.where(F.col("periodo_data_inicio") == aug).agg(
        F.sum("quantidade_registrada")
    ).collect()[0][0]
    sep_sum = after.where(F.col("periodo_data_inicio") == sep).agg(
        F.sum("quantidade_registrada")
    ).collect()[0][0]
    assert sep_sum == sep_sum0                         # September untouched
    assert aug_sum == 2 * sep_sum                      # August replaced with revision
