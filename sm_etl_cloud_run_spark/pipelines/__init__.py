"""End-to-end fact pipelines (SURVEY §3): spec-driven Spark twins of the
reference's eight pandas ETL chains.

``base`` holds the generic two-stage machinery (transform → bronze →
typed load); each sibling module contributes a :class:`FactSpec` plus
its source-specific condition predicate. ``rehearsal`` wires the
watermark-gated lifecycle jobs: EP3 (the control-table refresh), EP1
and EP2.
"""

from .base import FactSpec, load_typed, spark_type_map, transform_fact  # noqa: F401
from .scnes import HABILITACOES_SPEC, VINCULOS_SPEC  # noqa: F401
from .siasus_bpa_i import BPA_I_SPEC, condicao_saude_mental_bpa_i  # noqa: F401
from .siasus_pa import PA_SPEC, condicao_saude_mental  # noqa: F401
from .siasus_raas import RAAS_PS_SPEC  # noqa: F401
from .sihsus_aih_rd import AIH_RD_SPEC  # noqa: F401
from .sisab import transform_sisab_producao  # noqa: F401

ALL_FACT_SPECS = (PA_SPEC, BPA_I_SPEC, RAAS_PS_SPEC, AIH_RD_SPEC, VINCULOS_SPEC, HABILITACOES_SPEC)
