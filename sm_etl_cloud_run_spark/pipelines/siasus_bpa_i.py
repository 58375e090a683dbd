"""SIASUS BPA-i (individualized outpatient records).

Schema/behavior re-expressed from the reference
(etl/siasus_bpa_individualizado.py:36-85 map, :160-260 chain;
load_bd/siasus_bpa_individualizado_load_bd.py:28-73 types). The
condition (utilitarios/config_painel_sm.py:69) is
`siasus_pa.condicao_saude_mental` bound to the BPA-i raw names.
"""

from __future__ import annotations

import functools

from .base import FactSpec
from .siasus_pa import condicao_saude_mental

_RENAME = {
    "CODUNI": "estabelecimento_id_scnes",
    "GESTAO": "gestao_unidade_geografica_id_sus",
    "CONDIC": "gestao_condicao_id_siasus",
    "UFMUN": "unidade_geografica_id_sus",
    "TPUPS": "estabelecimento_tipo_id_sigtap",
    "TIPPRE": "prestador_tipo_id_sigtap",
    "MN_IND": "estabelecimento_mantido",
    "CNPJCPF": "estabelecimento_id_cnpj",
    "CNPJMNT": "mantenedora_id_cnpj",
    "CNPJ_CC": "receptor_credito_id_cnpj",
    "DT_PROCESS": "processamento_periodo_data_inicio",
    "DT_ATEND": "realizacao_periodo_data_inicio",
    "PROC_ID": "procedimento_id_sigtap",
    "TPFIN": "financiamento_tipo_id_sigtap",
    "SUBFIN": "financiamento_subtipo_id_sigtap",
    "COMPLEX": "complexidade_id_siasus",
    "AUTORIZ": "autorizacao_id_siasus",
    "CNSPROF": "profissional_id_cns",
    "CBOPROF": "profissional_vinculo_ocupacao_id_cbo2002",
    "CIDPRI": "condicao_principal_id_cid10",
    "CATEND": "carater_atendimento_id_siasus",
    "CNS_PAC": "usuario_id_cns_criptografado",
    "DTNASC": "usuario_nascimento_data",
    "TPIDADEPAC": "usuario_idade_tipo_id_sigtap",
    "IDADEPAC": "usuario_idade",
    "SEXOPAC": "usuario_sexo_id_sigtap",
    "RACACOR": "usuario_raca_cor_id_siasus",
    "MUNPAC": "usuario_residencia_municipio_id_sus",
    "QT_APRES": "quantidade_apresentada",
    "QT_APROV": "quantidade_aprovada",
    "VL_APRES": "valor_apresentado",
    "VL_APROV": "valor_aprovado",
    "UFDIF": "atendimento_residencia_ufs_distintas",
    "MNDIF": "atendimento_residencia_municipios_distintos",
    "ETNIA": "usuario_etnia_id_sus",
    "NAT_JUR": "estabelecimento_natureza_juridica_id_scnes",
}


BPA_I_SPEC = FactSpec(
    rename=_RENAME,
    yyyymm_dates=("realizacao_periodo_data_inicio", "processamento_periodo_data_inicio"),
    yyyymmdd_dates=("usuario_nascimento_data",),
    zeros_to_null=(
        "mantenedora_id_cnpj",
        "receptor_credito_id_cnpj",
        "financiamento_subtipo_id_sigtap",
        "condicao_principal_id_cid10",
        "autorizacao_id_siasus",
    ),
    # reference decodes these with `== '1'` (else False), not tri-state
    flag_true={
        "estabelecimento_mantido": "M",
        "atendimento_residencia_ufs_distintas": "1",
        "atendimento_residencia_municipios_distintos": "1",
    },
    period_date_col="realizacao_periodo_data_inicio",
    geo_key_col="unidade_geografica_id_sus",
    # load_bd/siasus_bpa_individualizado_load_bd.py:28-73
    numeric={
        **dict.fromkeys(("usuario_idade", "quantidade_apresentada", "quantidade_aprovada"), "long"),
        **dict.fromkeys(("valor_apresentado", "valor_aprovado"), "double"),
    },
    panel_raw_cols=("UFMUN", "MUNPAC"),
    condition=functools.partial(
        condicao_saude_mental,
        tpups="TPUPS", proc="PROC_ID", cid="CIDPRI", cbo="CBOPROF", catend="CATEND",
    ),
)
