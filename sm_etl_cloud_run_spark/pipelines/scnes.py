"""SCNES facility/staff pipelines: vínculos (PF) and habilitações (HB).

Schema/behavior re-expressed from the reference
(etl/scnes_vinculos.py:38-300 and etl/scnes_habilitacoes.py:37-285;
types: load_bd/scnes_vinculos_load_bd.py:28-77,
load_bd/scnes_habilitacoes_load_bd.py:29-70). These two sources carry
the string-surgery rules: roman-numeral region codes (C6), non-digit
stripping (C7), zero left-padding (C8).
"""

from __future__ import annotations

from .base import FactSpec

_SHARED_ESTAB = {
    "CNES": "estabelecimento_id_scnes",
    "CODUFMUN": "estabelecimento_municipio_id_sus",
    "REGSAUDE": "estabelecimento_regiao_saude_id_sus",
    "MICR_REG": "estabelecimento_microrregiao_saude_id_sus",
    "DISTRSAN": "estabelecimento_distrito_sanitario_id_sus",
    "DISTRADM": "estabelecimento_distrito_administrativo_id_sus",
    "TPGESTAO": "estabelecimento_gestao_condicao_id_scnes",
    "PF_PJ": "estabelecimento_personalidade_juridica_id_scnes",
    "CPF_CNPJ": "estabelecimento_id_cpf_cnpj",
    "NIV_DEP": "estabelecimento_mantido",
    "CNPJ_MAN": "estabelecimento_mantenedora_id_cnpj",
    "ESFERA_A": "estabelecimento_esfera_id_scnes",
    "ATIVIDAD": "estabelecimento_atividade_ensino_id_scnes",
    "RETENCAO": "estabelecimento_tributos_retencao_id_scnes",
    "NATUREZA": "estabelecimento_natureza_id_scnes",
    "CLIENTEL": "estabelecimento_fluxo_id_scnes",
    "TP_UNID": "estabelecimento_tipo_id_scnes",
    "TURNO_AT": "estabelecimento_turno_id_scnes",
    "NIV_HIER": "estabelecimento_hierarquia_id_scnes",
    "TERCEIRO": "estabelecimento_terceiro",
    "COMPETEN": "periodo_data_inicio",
    "NAT_JUR": "estabelecimento_natureza_juridica_id_scnes",
}

_RENAME_VINCULOS = {
    **_SHARED_ESTAB,
    "CPF_PROF": "profissional_id_cpf_criptografado",
    "CPFUNICO": "profissional_cpf_unico",
    "CBO": "ocupacao_id_cbo2002",
    "CBOUNICO": "ocupacao_cbo_unico",
    "NOMEPROF": "profissional_nome",
    "CNS_PROF": "profissional_id_cns",
    "CONSELHO": "profissional_conselho_tipo_id_scnes",
    "REGISTRO": "profissional_id_conselho",
    "VINCULAC": "tipo_id_scnes",
    "VINCUL_C": "contratado",
    "VINCUL_A": "autonomo",
    "VINCUL_N": "sem_vinculo_definido",
    "PROF_SUS": "atendimento_sus",
    "PROFNSUS": "atendimento_nao_sus",
    "HORAOUTR": "atendimento_carga_outras",
    "HORAHOSP": "atendimento_carga_hospitalar",
    "HORA_AMB": "atendimento_carga_ambulatorial",
    "UFMUNRES": "profissional_residencia_municipio_id_sus",
}

_RENAME_HABILITACOES = {
    **_SHARED_ESTAB,
    "COD_CEP": "estabelecimento_cep",
    "VINC_SUS": "atendimento_sus",
    "TP_PREST": "prestador_tipo_id_fca",
    "SGRUPHAB": "habilitacao_id_scnes",
    "CMPT_INI": "vigencia_data_inicio",
    "CMPT_FIM": "vigencia_data_fim",
    "DTPORTAR": "portaria_data",
    "PORTARIA": "portaria_nome",
    "MAPORTAR": "portaria_periodo_data_inicio",
    "NULEITOS": "leitos_quantidade",
}

_ZEROS_SHARED = (
    "estabelecimento_regiao_saude_id_sus",
    "estabelecimento_microrregiao_saude_id_sus",
    "estabelecimento_distrito_sanitario_id_sus",
    "estabelecimento_distrito_administrativo_id_sus",
    "estabelecimento_id_cpf_cnpj",
    "estabelecimento_mantenedora_id_cnpj",
)

_ZFILL_SHARED = {
    "estabelecimento_regiao_saude_id_sus": 4,
    "estabelecimento_distrito_sanitario_id_sus": 4,
    "estabelecimento_distrito_administrativo_id_sus": 4,
    "estabelecimento_microrregiao_saude_id_sus": 6,
}


VINCULOS_SPEC = FactSpec(
    rename=_RENAME_VINCULOS,
    yyyymm_dates=("periodo_data_inicio",),
    roman_cols=("estabelecimento_regiao_saude_id_sus",),
    strip_nondigit_cols=("estabelecimento_regiao_saude_id_sus", "profissional_id_conselho"),
    zfill_cols=_ZFILL_SHARED,
    zeros_to_null=_ZEROS_SHARED + ("profissional_id_conselho", "profissional_residencia_municipio_id_sus"),
    flag_true={"estabelecimento_mantido": "1"},
    bool01=(
        "estabelecimento_terceiro",
        "contratado",
        "autonomo",
        "sem_vinculo_definido",
        "atendimento_sus",
        "atendimento_nao_sus",
    ),
    period_date_col="periodo_data_inicio",
    geo_key_col="estabelecimento_municipio_id_sus",
    # load_bd/scnes_vinculos_load_bd.py:28-77
    numeric=dict.fromkeys(("atendimento_carga_outras", "atendimento_carga_hospitalar",
                           "atendimento_carga_ambulatorial"), "long"),
    panel_raw_cols=("CODUFMUN",),
)

HABILITACOES_SPEC = FactSpec(
    rename=_RENAME_HABILITACOES,
    yyyymm_dates=(
        "periodo_data_inicio",
        "vigencia_data_inicio",
        "vigencia_data_fim",
        "portaria_periodo_data_inicio",
    ),
    ddmmyyyy_dates=("portaria_data",),
    roman_cols=("estabelecimento_regiao_saude_id_sus",),
    strip_nondigit_cols=("estabelecimento_regiao_saude_id_sus",),
    zfill_cols=_ZFILL_SHARED,
    zeros_to_null=_ZEROS_SHARED,
    flag_true={"estabelecimento_mantido": "1"},
    bool01=("estabelecimento_terceiro", "atendimento_sus"),
    period_date_col="periodo_data_inicio",
    geo_key_col="estabelecimento_municipio_id_sus",
    numeric={"leitos_quantidade": "long"},  # load_bd/scnes_habilitacoes_load_bd.py:29-70
    panel_raw_cols=("CODUFMUN",),
)
