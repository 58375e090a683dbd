"""SIHSUS AIH-RD (hospital admissions, reduced form).

Schema/behavior re-expressed from the reference
(etl/sihsus_aih_rd.py:35-160 maps incl. the optional "adicionais"
vintage block, :230-320 chain; load_bd/sihsus_aih_rd_load_bd.py:29-150
types). The two-vintage schema harmonization (P4) adds absent optional
raw columns as empty before renaming.
"""

from __future__ import annotations

from .base import FactSpec

_RENAME_BASE = {
    "UF_ZI": "gestao_unidade_geografica_id_sus",
    "ANO_CMPT": "processamento_periodo_ano_inicio",
    "MES_CMPT": "processamento_periodo_mes_inicio",
    "ESPEC": "leito_especialidade_id_sigtap",
    "CGC_HOSP": "estabelecimento_id_cnpj",
    "N_AIH": "aih_id_sihsus",
    "IDENT": "aih_tipo_id_sihsus",
    "CEP": "usuario_residencia_cep",
    "MUNIC_RES": "usuario_residencia_municipio_id_sus",
    "NASC": "usuario_nascimento_data",
    "SEXO": "usuario_sexo_id_sihsus",
    "UTI_MES_TO": "uti_diarias",
    "MARCA_UTI": "uti_tipo_id_sihsus",
    "UTI_INT_TO": "unidade_intermediaria_diarias",
    "DIAR_ACOM": "acompanhante_diarias",
    "QT_DIARIAS": "diarias",
    "PROC_SOLIC": "procedimento_solicitado_id_sigtap",
    "PROC_REA": "procedimento_realizado_id_sigtap",
    "VAL_SH": "valor_servicos_hospitalares",
    "VAL_SP": "valor_servicos_profissionais",
    "VAL_TOT": "valor_total",
    "VAL_UTI": "valor_uti",
    "US_TOT": "valor_total_dolar",
    "DT_INTER": "aih_data_inicio",
    "DT_SAIDA": "aih_data_fim",
    "DIAG_PRINC": "condicao_principal_id_cid10",
    "DIAG_SECUN": "condicao_secundaria_id_cid10",
    "COBRANCA": "desfecho_motivo_id_sihsus",
    "GESTAO": "gestao_condicao_id_sihsus",
    "IND_VDRL": "exame_vdrl",
    "MUNIC_MOV": "unidade_geografica_id_sus",
    "COD_IDADE": "usuario_idade_tipo_id_sigtap",
    "IDADE": "usuario_idade",
    "DIAS_PERM": "permanencia_duracao",
    "MORTE": "obito",
    "NACIONAL": "usuario_nacionalidade_id_sigtap",
    "CAR_INT": "carater_atendimento_id_sihsus",
    "HOMONIMO": "usuario_homonimo",
    "NUM_FILHOS": "usuario_filhos_quantidade",
    "INSTRU": "usuario_instrucao_id_sihsus",
    "CID_NOTIF": "condicao_notificacao_id_cid10",
    "CONTRACEP1": "usuario_contraceptivo_principal_id_sihsus",
    "CONTRACEP2": "usuario_contraceptivo_secundario_id_sihsus",
    "GESTRISCO": "gestacao_risco",
    "INSC_PN": "usuario_id_pre_natal",
    "SEQ_AIH5": "remessa_aih_id_sequencial_longa_permanencia",
    "CBOR": "usuario_ocupacao_id_cbo2002",
    "CNAER": "usuario_atividade_id_cnae",
    "VINCPREV": "usuario_vinculo_previdencia_id_sihsus",
    "GESTOR_COD": "autorizacao_gestor_motivo_id_sihsus",
    "GESTOR_TP": "autorizacao_gestor_tipo_id_sihsus",
    "GESTOR_CPF": "autorizacao_gestor_id_cpf",
    "GESTOR_DT": "autorizacao_gestor_data",
    "CNES": "estabelecimento_id_scnes",
    "CNPJ_MANT": "mantenedora_id_cnpj",
    "INFEHOSP": "infeccao_hospitalar",
    "CID_ASSO": "condicao_associada_id_cid10",
    "CID_MORTE": "condicao_obito_id_cid10",
    "COMPLEX": "complexidade_id_sihsus",
    "FINANC": "financiamento_tipo_id_sigtap",
    "FAEC_TP": "financiamento_subtipo_id_sigtap",
    "REGCT": "regra_contratual_id_scnes",
    "RACA_COR": "usuario_raca_cor_id_sihsus",
    "ETNIA": "usuario_etnia_id_sus",
    "SEQUENCIA": "remessa_aih_id_sequencial",
    "REMESSA": "remessa_id_sihsus",
}

_RENAME_ADICIONAIS = {
    "NATUREZA": "estabelecimento_natureza_id_scnes",
    "NAT_JUR": "estabelecimento_natureza_juridica_id_scnes",
    "AUD_JUST": "cns_ausente_justificativa_auditor",
    "SIS_JUST": "cns_ausente_justificativa_estabelecimento",
    "VAL_SH_FED": "valor_servicos_hospitalares_complemento_federal",
    "VAL_SP_FED": "valor_servicos_profissionais_complemento_federal",
    "VAL_SH_GES": "valor_servicos_hospitalares_complemento_local",
    "VAL_SP_GES": "valor_servicos_profissionais_complemento_local",
    "VAL_UCI": "valor_unidade_neonatal",
    "MARCA_UCI": "unidade_neonatal_tipo_id_sihsus",
    **{f"DIAGSEC{i}": f"condicao_secundaria_{i}_id_cid10" for i in range(1, 10)},
    **{f"TPDISEC{i}": f"condicao_secundaria_{i}_tipo_id_sihsus" for i in range(1, 10)},
    **{
        raw: f"_nao_documentado_{raw.lower()}"
        for raw in (
            "UTI_MES_IN", "UTI_MES_AN", "UTI_MES_AL", "UTI_INT_IN", "UTI_INT_AN",
            "UTI_INT_AL", "VAL_SADT", "VAL_RN", "VAL_ACOMP", "VAL_ORTP",
            "VAL_SANGUE", "VAL_SADTSR", "VAL_TRANSP", "VAL_OBSANG", "VAL_PED1AC",
            "RUBRICA", "NUM_PROC", "TOT_PT_SP", "CPF_AUT",
        )
    },
}

_RENAME = {**_RENAME_BASE, **_RENAME_ADICIONAIS}


AIH_RD_SPEC = FactSpec(
    rename=_RENAME,
    optional_raw=tuple(_RENAME_ADICIONAIS),  # P4: the vintage-dependent block
    make_date_from=(
        "processamento_periodo_ano_inicio",
        "processamento_periodo_mes_inicio",
        "periodo_data_inicio",
    ),
    yyyymmdd_dates=(
        "usuario_nascimento_data",
        "aih_data_inicio",
        "aih_data_fim",
        "autorizacao_gestor_data",
    ),
    zeros_to_null=(
        "uti_tipo_id_sihsus",
        "condicao_secundaria_id_cid10",
        "estabelecimento_natureza_id_scnes",
        "estabelecimento_natureza_juridica_id_scnes",
        "usuario_instrucao_id_sihsus",
        "condicao_notificacao_id_cid10",
        "usuario_contraceptivo_principal_id_sihsus",
        "usuario_contraceptivo_secundario_id_sihsus",
        "usuario_filhos_quantidade",
        "usuario_id_pre_natal",
        "usuario_ocupacao_id_cbo2002",
        "usuario_atividade_id_cnae",
        "usuario_vinculo_previdencia_id_sihsus",
        "autorizacao_gestor_motivo_id_sihsus",
        "autorizacao_gestor_tipo_id_sihsus",
        "autorizacao_gestor_id_cpf",
        "condicao_associada_id_cid10",
        "condicao_obito_id_cid10",
        "regra_contratual_id_scnes",
        "usuario_etnia_id_sus",
        *(f"condicao_secundaria_{i}_tipo_id_sihsus" for i in range(1, 10)),
    ),
    # INFEHOSP takes its siblings' '0'/'1' decode: the load types it bool
    # (load_bd/sihsus_aih_rd_load_bd.py), so it must reach bronze as one
    bool01=("obito", "exame_vdrl", "usuario_homonimo", "gestacao_risco", "infeccao_hospitalar"),
    period_date_col="periodo_data_inicio",
    geo_key_col="unidade_geografica_id_sus",
    # load_bd/sihsus_aih_rd_load_bd.py:41-45,50-52,64-65,100-104;
    # VAL_SH/VAL_SP deliberately stay object there
    numeric={
        **dict.fromkeys(("usuario_filhos_quantidade", "uti_diarias", "unidade_intermediaria_diarias",
                         "acompanhante_diarias", "diarias", "usuario_idade",
                         "permanencia_duracao"), "long"),
        **dict.fromkeys(("valor_total", "valor_uti", "valor_total_dolar",
                         "valor_servicos_hospitalares_complemento_federal",
                         "valor_servicos_profissionais_complemento_federal",
                         "valor_servicos_hospitalares_complemento_local",
                         "valor_servicos_profissionais_complemento_local",
                         "valor_unidade_neonatal"), "double"),
    },
)
