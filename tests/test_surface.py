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

A second scan, for want of an installed linter, fails on an imported
name that its module never uses.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "sm_etl_cloud_run_spark"

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
    assert sorted(unreached - _KEPT) == [], "public, but reached only from tests (or nothing)"
    assert sorted(_KEPT - unreached) == [], "listed, but now has a production caller or is gone"


def _unused_imports(path: Path) -> list[str]:
    """Names `path` imports and never uses. `__future__` imports, lines
    marked `# noqa` and names listed in `__all__` are exempt."""
    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()
    imported: dict[str, int] = {}
    used: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            if getattr(n, "module", None) == "__future__" or "# noqa" in lines[n.lineno - 1]:
                continue
            for a in n.names:
                imported.setdefault(a.asname or a.name.split(".")[0], n.lineno)
        elif isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            used |= {c.value for c in ast.walk(n.value) if isinstance(c, ast.Constant)}
    return [f"{path.relative_to(REPO)}:{line}: {name}"
            for name, line in sorted(imported.items(), key=lambda kv: kv[1]) if name not in used]


def test_no_unused_imports():
    # package `__init__.py` files import names only to re-export them
    files = [f for d in ("sm_etl_cloud_run_spark", "tests", "tools", "perfbench")
             for f in sorted((REPO / d).rglob("*.py")) if f.name != "__init__.py"]
    files += sorted(REPO.glob("*.py"))
    assert [u for f in files for u in _unused_imports(f)] == []
