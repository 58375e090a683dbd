"""Surface guard: every public package definition has a production caller.

A name-reference reachability scan over the AST. The roots are
`__spark_entry__.py`, `bench.py`, `perfbench/`, `tools/`,
`runner.main`, every `@register`ed query and the module-level code
of the package (imports and `__all__` aside). A
definition is reached when a reached body names it: as a bare name,
an attribute, an imported name, or, in the root scripts, a word of a
string (`runner --job module:function`). Names match across modules,
so the scan can only over-approximate what is reached. Docstrings and
comments never count.

What stays unreached is reached only from `tests/`, or from nothing,
and must be listed below with its reason. A new test-only definition
fails this test, and so does a listed one that gains a production
caller or is deleted.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "sm_etl_cloud_run_spark"

# Per-source pipeline entries: whether each runs through the
# spec-driven lifecycle or goes is ROADMAP item 3.
_PIPELINE_ENTRIES = {
    "pipelines.ALL_FACT_SPECS",
    "pipelines.base.load_typed",
    "pipelines.scnes.HABILITACOES_SPEC",
    "pipelines.scnes.VINCULOS_SPEC",
    "pipelines.siasus_bpa_i.BPA_I_SPEC",
    "pipelines.siasus_bpa_i.condicao_saude_mental_bpa_i",
    "pipelines.siasus_raas.RAAS_PS_SPEC",
    "pipelines.sihsus_aih_rd.AIH_RD_SPEC",
    "pipelines.sisab.transform_sisab_producao",
    "sinks.partitioned.write_partition_overwrite",
    "sources.sisab.parse_sisab_report",
    "sources.sisab_client.FormPage",
    "sources.sisab_client.SISAB_PRODUCAO_URL",
    "sources.sisab_client.SisabReportRequest",
    "sources.sisab_client.SisabSession",
    "sources.sisab_client.Transport",
}
# Kept on purpose, each for the reason given.
_KEPT = {
    # the expression form the numpy SemDeDup kernel is tested against
    "operators.similarity.semantic_dedup",
    # the executor-side .dbc scan; ROADMAP item 4 decides it with EP1's decode
    "sources.dbf.read_dbf_files",
    # the mapInPandas resize operator and its schema; ROADMAP item 8
    "operators.multimodal.resize_images",
    "operators.multimodal.RESIZED_SCHEMA",
}
ALLOWED = _PIPELINE_ENTRIES | _KEPT

_WORD = re.compile(r"[A-Za-z_]\w*")


def _names(node: ast.AST, *, strings: bool = False) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif strings and isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_WORD.findall(n.value))
    return out


def _scan() -> tuple[dict[str, set[str]], dict[str, set[str]], set[str]]:
    """(defs: qualified name -> names its body uses,
    by_name: bare name -> qualified names, roots: names used by roots)."""
    defs: dict[str, set[str]] = {}
    by_name: dict[str, set[str]] = {}
    roots = {"main"}  # runner.main, the `python -m ...runner` entry
    for f in sorted(PKG.rglob("*.py")):
        mod = ".".join(f.relative_to(PKG).with_suffix("").parts)
        mod = mod.removesuffix(".__init__").removesuffix("__init__")
        for st in ast.parse(f.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                targets, used = [st.name], _names(st)
                if any("register" in _names(d) for d in st.decorator_list):
                    roots.add(st.name)
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                tl = st.targets if isinstance(st, ast.Assign) else [st.target]
                targets = [t.id for t in tl if isinstance(t, ast.Name)]
                used = _names(st.value) if st.value else set()
                if targets == ["__all__"]:
                    continue
                if not targets:
                    roots |= _names(st)
                    continue
            elif isinstance(st, (ast.Import, ast.ImportFrom)) or (
                isinstance(st, ast.Expr) and isinstance(st.value, ast.Constant)
            ):
                continue  # imports are not uses; a bare string is a docstring
            else:
                roots |= _names(st)
                continue
            for t in targets:
                q = f"{mod}.{t}" if mod else t
                defs[q] = used
                by_name.setdefault(t, set()).add(q)
    scripts = [REPO / "__spark_entry__.py", REPO / "bench.py",
               *(REPO / "perfbench").rglob("*.py"), *(REPO / "tools").rglob("*.py")]
    for f in scripts:
        roots |= _names(ast.parse(f.read_text()), strings=True)
    return defs, by_name, roots


def unreached_public() -> set[str]:
    defs, by_name, roots = _scan()
    seen: set[str] = set()
    todo = [q for n in roots for q in by_name.get(n, ())]
    while todo:
        q = todo.pop()
        if q not in seen:
            seen.add(q)
            todo += [p for n in defs[q] for p in by_name.get(n, ())]
    return {q for q in defs if q not in seen and not q.rsplit(".", 1)[-1].startswith("_")}


def test_public_surface_has_production_callers():
    unreached = unreached_public()
    assert sorted(unreached - ALLOWED) == [], "public, but reached only from tests (or nothing)"
    assert sorted(ALLOWED - unreached) == [], "listed, but now has a production caller or is gone"
