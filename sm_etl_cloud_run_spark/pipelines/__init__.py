"""End-to-end fact pipelines (SURVEY §3): spec-driven Spark twins of the
reference's `.dbc` fact chains (SIASUS PA, BPA-i and RAAS-PS, SIHSUS
AIH-RD, SCNES vínculos and habilitações).

``base`` holds the generic two-stage machinery (the stage-1 transform
and the stage-2 typed cast, whose types derive from the spec); each
sibling module contributes a :class:`FactSpec`, the one description of
its source: raw schema, panel columns, condition, stage-1 rules and
numeric columns. ``rehearsal`` wires the watermark-gated lifecycle
jobs, EP3 (the control-table refresh), EP1 and EP2, from one table
mapping each tipo to its spec.
"""

# the spec perfbench's lifecycle workload imports through the package
from .siasus_pa import PA_SPEC  # noqa: F401
