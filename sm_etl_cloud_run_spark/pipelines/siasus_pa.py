"""SIASUS PA (outpatient procedures) — the flagship fact pipeline.

Schema facts and behavior re-expressed from the reference
(etl/siasus_procedimentos_ambulatoriais.py:36-104 column map, :206-356
transform chain, :366-378 validation;
load_bd/siasus_procedimentos_ambulatoriais_load_bd.py:28-98 type map;
condition: utilitarios/config_painel_sm.py:67).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.filters import composite_condition
from .base import FactSpec

# PA_* raw column → canonical name (etl/siasus_procedimentos_ambulatoriais.py:36-99)
_RENAME = {
    "PA_CODUNI": "estabelecimento_id_scnes",
    "PA_GESTAO": "gestao_unidade_geografica_id_sus",
    "PA_CONDIC": "gestao_condicao_id_siasus",
    "PA_UFMUN": "unidade_geografica_id_sus",
    "PA_REGCT": "regra_contratual_id_scnes",
    "PA_INCOUT": "incremento_outros_id_sigtap",
    "PA_INCURG": "incremento_urgencia_id_sigtap",
    "PA_TPUPS": "estabelecimento_tipo_id_sigtap",
    "PA_TIPPRE": "prestador_tipo_id_sigtap",
    "PA_MN_IND": "estabelecimento_mantido",
    "PA_CNPJCPF": "estabelecimento_id_cnpj",
    "PA_CNPJMNT": "mantenedora_id_cnpj",
    "PA_CNPJ_CC": "receptor_credito_id_cnpj",
    "PA_MVM": "processamento_periodo_data_inicio",
    "PA_CMP": "realizacao_periodo_data_inicio",
    "PA_PROC_ID": "procedimento_id_sigtap",
    "PA_TPFIN": "financiamento_tipo_id_sigtap",
    "PA_SUBFIN": "financiamento_subtipo_id_sigtap",
    "PA_NIVCPL": "complexidade_id_siasus",
    "PA_DOCORIG": "instrumento_registro_id_siasus",
    "PA_AUTORIZ": "autorizacao_id_siasus",
    "PA_CNSMED": "profissional_id_cns",
    "PA_CBOCOD": "profissional_vinculo_ocupacao_id_cbo2002",
    "PA_MOTSAI": "desfecho_motivo_id_siasus",
    "PA_OBITO": "obito",
    "PA_ENCERR": "encerramento",
    "PA_PERMAN": "permanencia",
    "PA_ALTA": "alta",
    "PA_TRANSF": "transferencia",
    "PA_CIDPRI": "condicao_principal_id_cid10",
    "PA_CIDSEC": "condicao_secundaria_id_cid10",
    "PA_CIDCAS": "condicao_associada_id_cid10",
    "PA_CATEND": "carater_atendimento_id_siasus",
    "PA_IDADE": "usuario_idade",
    "IDADEMIN": "procedimento_idade_minima",
    "IDADEMAX": "procedimento_idade_maxima",
    "PA_FLIDADE": "compatibilidade_idade_id_siasus",
    "PA_SEXO": "usuario_sexo_id_sigtap",
    "PA_RACACOR": "usuario_raca_cor_id_siasus",
    "PA_MUNPCN": "usuario_residencia_municipio_id_sus",
    "PA_QTDPRO": "quantidade_apresentada",
    "PA_QTDAPR": "quantidade_aprovada",
    "PA_VALPRO": "valor_apresentado",
    "PA_VALAPR": "valor_aprovado",
    "PA_UFDIF": "atendimento_residencia_ufs_distintas",
    "PA_MNDIF": "atendimento_residencia_municipios_distintos",
    "PA_DIF_VAL": "procedimento_valor_diferenca_sigtap",
    "NU_VPA_TOT": "procedimento_valor_vpa",
    "NU_PA_TOT": "procedimento_valor_sigtap",
    "PA_INDICA": "aprovacao_status_id_siasus",
    "PA_CODOCO": "ocorrencia_id_siasus",
    "PA_FLQT": "erro_quantidade_apresentada_id_siasus",
    "PA_FLER": "erro_apac",
    "PA_ETNIA": "usuario_etnia_id_sus",
    "PA_VL_CF": "complemento_valor_federal",
    "PA_VL_CL": "complemento_valor_local",
    "PA_VL_INC": "incremento_valor",
    "PA_SRV_C": "servico_especializado_id_scnes",
    "PA_INE": "equipe_id_ine",
    "PA_NAT_JUR": "estabelecimento_natureza_juridica_id_scnes",
}

_OUTCOME_FLAGS = ("obito", "encerramento", "permanencia", "alta", "transferencia")

# mental-health CBO occupation codes (config_painel_sm.py:67)
CBO_SAUDE_MENTAL = ("223905", "223915", "225133", "223550", "239440", "239445", "322220")


def condicao_saude_mental(
    *, tpups: str = "PA_TPUPS", proc: str = "PA_PROC_ID",
    cid: str = "PA_CIDPRI", cbo: str = "PA_CBOCOD", catend: str = "PA_CATEND",
) -> Column:
    """F2: the mental-health condition predicate over raw columns
    (CAPS units, psychosocial procedures, F/X6*/X7*/X8[0-4]/R78/T40/
    Y870/Y90/Y91 CIDs, mental-health CBOs, urgency character)."""
    return composite_condition(
        equals=[(F.col(tpups), "70"), (F.col(cid), "Y870"), (F.col(catend), "02")],
        prefixes=[
            (F.col(proc), ["030106", "030107", "030108"]),
            (F.col(cid), ["F", "X6", "X7", "R78", "T40", "Y90", "Y91"]),
            (F.col(cbo), ["2515"]),
        ],
        rlikes=[(F.col(cid), "^X8[0-4][0-9]*")],
        isin=[(F.col(cbo), list(CBO_SAUDE_MENTAL))],
    )


PA_SPEC = FactSpec(
    rename=_RENAME,
    yyyymm_dates=("realizacao_periodo_data_inicio", "processamento_periodo_data_inicio"),
    zeros_to_null=(
        "regra_contratual_id_scnes",
        "incremento_outros_id_sigtap",
        "incremento_urgencia_id_sigtap",
        "mantenedora_id_cnpj",
        "receptor_credito_id_cnpj",
        "financiamento_subtipo_id_sigtap",
        "condicao_principal_id_cid10",
        "autorizacao_id_siasus",
        "profissional_id_cns",
        "condicao_secundaria_id_cid10",
        "condicao_associada_id_cid10",
        "desfecho_motivo_id_siasus",
        "usuario_sexo_id_sigtap",
        "usuario_raca_cor_id_siasus",
    ),
    nines_to_null=(
        "carater_atendimento_id_siasus",
        "usuario_residencia_municipio_id_sus",
        "atendimento_residencia_ufs_distintas",
        "atendimento_residencia_municipios_distintos",
    ),
    sentinels={"usuario_idade": ("999",)},
    bool01=(
        "obito",
        "encerramento",
        "permanencia",
        "alta",
        "transferencia",
        "atendimento_residencia_ufs_distintas",
        "atendimento_residencia_municipios_distintos",
    ),
    flag_true={"estabelecimento_mantido": "M"},
    null_flags_when_null=("desfecho_motivo_id_siasus", _OUTCOME_FLAGS),
    split3={"servico_especializado_id_scnes": ("servico_id_sigtap", "servico_classificacao_id_sigtap")},
    period_date_col="realizacao_periodo_data_inicio",
    geo_key_col="unidade_geografica_id_sus",
    # load_bd/siasus_procedimentos_ambulatoriais_load_bd.py:28-98
    numeric={
        **dict.fromkeys(("usuario_idade", "procedimento_idade_minima", "procedimento_idade_maxima",
                         "quantidade_apresentada", "quantidade_aprovada"), "long"),
        **dict.fromkeys(("valor_apresentado", "valor_aprovado", "procedimento_valor_diferenca_sigtap",
                         "procedimento_valor_vpa", "procedimento_valor_sigtap",
                         "complemento_valor_federal", "complemento_valor_local",
                         "incremento_valor"), "double"),
    },
    panel_raw_cols=("PA_UFMUN", "PA_MUNPCN"),
    condition=condicao_saude_mental,
)
