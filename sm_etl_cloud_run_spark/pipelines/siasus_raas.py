"""SIASUS RAAS-PS (psychosocial care records).

Schema/behavior re-expressed from the reference
(etl/siasus_raas_ps.py:37-100 map, :150-260 chain — no panel/condition
filter at transform level; the source is inherently psychosocial;
load_bd/siasus_raas_ps_load_bd.py:29-89 types).
"""

from __future__ import annotations

from .base import FactSpec

_RENAME = {
    "CNES_EXEC": "estabelecimento_id_scnes",
    "GESTAO": "gestao_unidade_geografica_id_sus",
    "CONDIC": "gestao_condicao_id_siasus",
    "UFMUN": "unidade_geografica_id_sus",
    "TPUPS": "estabelecimento_tipo_id_sigtap",
    "TIPPRE": "prestador_tipo_id_sigtap",
    "MN_IND": "estabelecimento_mantido",
    "CNPJCPF": "estabelecimento_id_cnpj",
    "CNPJMNT": "mantenedora_id_cnpj",
    "DT_PROCESS": "processamento_periodo_data_inicio",
    "DT_ATEND": "realizacao_periodo_data_inicio",
    "CNS_PAC": "usuario_id_cns_criptografado",
    "DTNASC": "usuario_nascimento_data",
    "TPIDADEPAC": "usuario_idade_tipo_id_sigtap",
    "IDADEPAC": "usuario_idade",
    "NACION_PAC": "usuario_nacionalidade_id_sus",
    "SEXOPAC": "usuario_sexo_id_sigtap",
    "RACACOR": "usuario_raca_cor_id_siasus",
    "ETNIA": "usuario_etnia_id_sus",
    "MUNPAC": "usuario_residencia_municipio_id_sus",
    "MOT_COB": "desfecho_motivo_id_siasus",
    "DT_MOTCOB": "desfecho_data",
    "CATEND": "carater_atendimento_id_siasus",
    "CIDPRI": "condicao_principal_id_cid10",
    "CIDASSOC": "condicao_associada_id_cid10",
    "ORIGEM_PAC": "procedencia_id_siasus",
    "DT_INICIO": "raas_data_inicio",
    "DT_FIM": "raas_data_fim",
    "COB_ESF": "esf_cobertura",
    "CNES_ESF": "esf_estabelecimento_id_scnes",
    "DESTINOPAC": "desfecho_destino_id_siasus",
    "PA_PROC_ID": "procedimento_id_sigtap",
    "PA_QTDPRO": "quantidade_apresentada",
    "PA_QTDAPR": "quantidade_aprovada",
    "PA_SRV": "servico_id_sigtap",
    "PA_CLASS_S": "servico_classificacao_id_sigtap",
    "SIT_RUA": "usuario_situacao_rua",
    "TP_DROGA": "usuario_abuso_substancias",
    "LOC_REALIZ": "local_realizacao_id_siasus",
    "INICIO": "data_inicio",
    "FIM": "data_fim",
    "PERMANEN": "permanencia_duracao",
    "QTDATE": "quantidade_atendimentos",
    "QTDPCN": "quantidade_usuarios",
    "NAT_JUR": "estabelecimento_natureza_juridica_id_scnes",
}


RAAS_PS_SPEC = FactSpec(
    rename=_RENAME,
    yyyymm_dates=("realizacao_periodo_data_inicio", "processamento_periodo_data_inicio"),
    yyyymmdd_dates=(
        "usuario_nascimento_data",
        "raas_data_inicio",
        "raas_data_fim",
        "data_inicio",
        "data_fim",
        "desfecho_data",
    ),
    flag_true={
        "estabelecimento_mantido": "M",
        "usuario_situacao_rua": "S",
        "esf_cobertura": "S",
    },
    contains_flags={
        "usuario_abuso_substancias": {
            "A": "usuario_abuso_substancias_alcool",
            "C": "usuario_abuso_substancias_crack",
            "O": "usuario_abuso_substancias_outras",
        }
    },
    nonempty_flags=("usuario_abuso_substancias",),
    interval_text_cols=("permanencia_duracao",),
    period_date_col="realizacao_periodo_data_inicio",
    geo_key_col="unidade_geografica_id_sus",
    # load_bd/siasus_raas_ps_load_bd.py:29-89; the interval column stays
    # text ('N days', C16) for CSV fidelity
    numeric=dict.fromkeys(("usuario_idade", "quantidade_apresentada", "quantidade_aprovada",
                           "quantidade_atendimentos", "quantidade_usuarios"), "long"),
)
