"""End-to-end fact pipelines (SURVEY §3): spec-driven Spark twins of the
reference's `.dbc` fact chains (SIASUS PA, BPA-i and RAAS-PS, SIHSUS
AIH-RD, SCNES vínculos and habilitações).

``base`` holds the generic two-stage machinery (the stage-1 transform
and the stage-2 typed cast); each sibling module contributes a
:class:`FactSpec`, plus its condition predicate where the source has
one. ``rehearsal`` wires the watermark-gated lifecycle jobs, EP3 (the
control-table refresh), EP1 and EP2, from one table keyed by tipo.
"""

from .base import FactSpec, spark_type_map, transform_fact  # noqa: F401
from .scnes import HABILITACOES_SPEC, VINCULOS_SPEC  # noqa: F401
from .siasus_bpa_i import BPA_I_SPEC  # noqa: F401
from .siasus_pa import PA_SPEC, condicao_saude_mental  # noqa: F401
from .siasus_raas import RAAS_PS_SPEC  # noqa: F401
from .sihsus_aih_rd import AIH_RD_SPEC  # noqa: F401
