"""Surface guard: every public package definition has a production caller.

A name-reference reachability scan over the AST. The roots are
`__spark_entry__.py`, `bench.py`, `perfbench/`, `tools/`,
`runner.main`, every `@register`ed query and the module-level code
of the package (imports and `__all__` aside). The definitions are the
package's top-level functions, classes and assignments, and the public
methods and properties of its classes: a method is reached by its own
name, not by its class's. A definition is reached when a reached body
names it: as a bare name, an attribute, an imported name, or, in the
root scripts, a word of a string (`runner --job module:function`).
Names match across modules, so the scan can only over-approximate what
is reached. Docstrings and comments never count.

What stays unreached is reached only from `tests/`, or from nothing,
and must be listed below with its reason. A new test-only definition
fails this test, and so does a listed one that gains a production
caller or is deleted.

A second scan does the same for the fields of the package's
`@dataclass`es: a field that no production code reads as an attribute
(`spec.rename`) fails unless it is listed with its reason. A read
counts only through a receiver that is annotated with, or bound to, the
field's class (`_Receivers`), so a dead field with a common name
(`name`, `path`) is not hidden by an unrelated `x.name`. Bindings are
read flow-insensitively and across modules by bare name, so this scan,
too, can only miss an unread field.

A third scan, for want of an installed linter, fails on an imported
name that its module never uses.

A fourth scan does for parameters what the first does for definitions:
a defaulted parameter of a package function or method that no
production call passes, by position or by keyword, fails unless it is
listed with its reason. Calls match by the callee's bare name (a
class's name calls its `__init__`), `partial(f, ...)` counts as a call
of `f`, and a `*args` or `**kw` at a call passes every position or
every keyword, so this scan, too, can only miss an unset parameter.
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
}

# Dataclass fields no production code reads, kept on purpose.
_KEPT_FIELDS = {
    # the one-line summary every `@register` call states for its query
    "plans.registry.QuerySpec.description",
}

# Defaulted parameters no production call passes, kept on purpose: each
# is a deployment setting or a seam a test uses to put in a fake. A
# parameter that only a frozen caller passes needs no entry, since the
# scan counts `perfbench/` as production (`read_jdbc_table(num_partitions)`).
_KEPT_PARAMS = {
    # seam: tests decode with a fake in place of Pillow/soundfile
    "operators.multimodal.extract_features.decode_fn",
    # seam: tests read a fake CORRECTNESS_r*.json history from a temp dir
    "plans.window_plan.last_green.history_dir",
}

_WORD = re.compile(r"[A-Za-z_]\w*")


def _docstrings(tree: ast.AST) -> set[int]:
    """Ids of the docstring constants of every module, class and
    function in `tree`."""
    return {
        id(n.body[0].value) for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant) and isinstance(n.body[0].value.value, str)
    }


def _names(node: ast.AST, *, strings: bool = False) -> set[str]:
    out: set[str] = set()
    docs = _docstrings(node) if strings else set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif (strings and isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docs):
            out.update(_WORD.findall(n.value))
    return out


def _public_method(node: ast.AST) -> bool:
    """A public method or property of a class body: reached on its own,
    by its name, not by the class's."""
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_")


def _package() -> list[tuple[str, ast.Module]]:
    """(dotted module name relative to the package, parsed module)."""
    out = []
    for f in sorted(PKG.rglob("*.py")):
        mod = ".".join(f.relative_to(PKG).with_suffix("").parts)
        out.append((mod.removesuffix(".__init__").removesuffix("__init__"), ast.parse(f.read_text())))
    return out


def _scripts() -> list[Path]:
    return [REPO / "__spark_entry__.py", REPO / "bench.py",
            *(REPO / "perfbench").rglob("*.py"), *(REPO / "tools").rglob("*.py")]


def _scan() -> tuple[dict[str, set[str]], dict[str, set[str]], set[str]]:
    """(defs: qualified name -> names its body uses,
    by_name: bare name -> qualified names, roots: names used by roots)."""
    defs: dict[str, set[str]] = {}
    by_name: dict[str, set[str]] = {}
    roots = {"main"}  # runner.main, the `python -m ...runner` entry
    for mod, tree in _package():
        for st in tree.body:
            if isinstance(st, ast.ClassDef):
                targets, used = [st.name], set()
                for part in (*st.bases, *st.keywords, *st.decorator_list, *st.body):
                    if _public_method(part):
                        q = f"{mod}.{st.name}.{part.name}"
                        defs[q] = _names(part)
                        by_name.setdefault(part.name, set()).add(q)
                    else:
                        used |= _names(part)
            elif isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
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
    for f in _scripts():
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


def _callee(f: ast.AST) -> str | None:
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _production_calls() -> dict[str, list[tuple[float, set[str | None]]]]:
    """Callee name -> (positional count, keyword names) of each call in
    production code; `*args` counts as every position and `**kw` as the
    keyword `None`, which stands for every keyword."""
    trees = [tree for _, tree in _package()] + [ast.parse(f.read_text()) for f in _scripts()]
    out: dict[str, list[tuple[float, set[str | None]]]] = {}
    for n in (n for t in trees for n in ast.walk(t) if isinstance(n, ast.Call)):
        name, args = _callee(n.func), n.args
        if name == "partial" and args:
            name, args = _callee(args[0]), args[1:]
        if name is not None:
            npos = float("inf") if any(isinstance(a, ast.Starred) for a in args) else len(args)
            out.setdefault(name, []).append((npos, {k.arg for k in n.keywords}))
    return out


def unset_params() -> set[str]:
    """`module.function.param` (or `module.Class.method.param`) for each
    defaulted parameter of a package function or method that no
    production call passes."""
    calls = _production_calls()
    out = set()
    for mod, tree in _package():
        fns = [(st, st.name, f"{mod}.{st.name}", 0) for st in tree.body
               if isinstance(st, ast.FunctionDef)]
        for cls in (st for st in tree.body if isinstance(st, ast.ClassDef)):
            for m in (m for m in cls.body if isinstance(m, ast.FunctionDef)):
                static = "staticmethod" in {_callee(d) for d in m.decorator_list}
                fns.append((m, cls.name if m.name == "__init__" else m.name,
                            f"{mod}.{cls.name}.{m.name}", 0 if static else 1))
        for fn, name, q, self_ in fns:
            a = fn.args
            pos = [*a.posonlyargs, *a.args]
            params = [(p.arg, i - self_) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
            params += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for p, i in params:
                if not any(None in kws or p in kws or (i is not None and npos > i)
                           for npos, kws in calls.get(name, ())):
                    out.add(f"{q}.{p}")
    return out


def test_every_defaulted_parameter_has_a_production_caller():
    unset = unset_params()
    assert sorted(unset - _KEPT_PARAMS) == [], "a defaulted parameter that only tests, or nothing, set"
    assert sorted(_KEPT_PARAMS - unset) == [], "listed, but now passed by production code or gone"


def _annotated(ann: ast.AST | None, classes: set[str]) -> set[str]:
    """The dataclasses an annotation names, string annotations included."""
    if ann is None:
        return set()
    words = _names(ann) | {w for n in ast.walk(ann) if isinstance(n, ast.Constant)
                           and isinstance(n.value, str) for w in _WORD.findall(n.value)}
    return words & classes


# builtins whose result holds what their arguments hold
_PASS = {"enumerate", "zip", "sorted", "reversed", "list", "tuple", "set", "iter", "next", "filter"}


class _Receivers:
    """Which dataclasses an expression may hold, by a flow-insensitive
    reading of annotations and bindings: a name holds what its
    annotation names or what is bound to it; a call of a dataclass, or
    of a function annotated to return one, holds it; a container holds
    what its elements hold, so indexing it, iterating it or calling its
    methods holds the same. Module-level names, functions' return
    annotations and `self.x = ...` attributes match across modules by
    bare name. An expression form not read here holds nothing, so a
    gap can only flag a field that is read, never hide one that is
    not."""

    def __init__(self, trees: list[ast.Module], classes: set[str]):
        self.classes = classes
        self.returns: dict[str, set[str]] = {}
        self.attrs: dict[str, set[str]] = {}
        self.globals: dict[str, set[str]] = {}
        for t in trees:
            for n in ast.walk(t):
                if isinstance(n, ast.FunctionDef):
                    self.returns.setdefault(n.name, set()).update(_annotated(n.returns, classes))
        for _ in range(2):  # a binding may use a name bound later in the file
            for t in trees:
                self.bind(t.body, self.globals)
                for n in ast.walk(t):
                    if isinstance(n, ast.Assign):
                        for tgt in n.targets:
                            if isinstance(tgt, ast.Attribute):
                                self.attrs.setdefault(tgt.attr, set()).update(self.of(n.value, {}))

    def of(self, e: ast.AST | None, env: dict[str, set[str]]) -> set[str]:
        if isinstance(e, ast.Name):
            return env.get(e.id, set()) | self.globals.get(e.id, set())
        if isinstance(e, ast.Call):
            f = e.func
            if isinstance(f, ast.Name) and f.id in _PASS:
                return set().union(*(self.of(x, env) for x in e.args))
            if isinstance(f, ast.Name):
                return ({f.id} & self.classes) | self.returns.get(f.id, set())
            if isinstance(f, ast.Attribute):
                return self.returns.get(f.attr, set()) | self.of(f.value, env)
        if isinstance(e, ast.Attribute):
            return self.attrs.get(e.attr, set()) | self.globals.get(e.attr, set())
        if isinstance(e, ast.Subscript):
            return self.of(e.value, env)
        if isinstance(e, (ast.Tuple, ast.List, ast.Set)):
            return set().union(*(self.of(x, env) for x in e.elts))
        if isinstance(e, (ast.ListComp, ast.GeneratorExp)):
            inner = dict(env)
            for g in e.generators:
                self.bind_target(g.target, self.of(g.iter, inner), inner)
            return self.of(e.elt, inner)
        return set()

    def bind_target(self, target: ast.AST, held: set[str], env: dict[str, set[str]]) -> None:
        for n in ast.walk(target):
            if isinstance(n, ast.Name):
                env.setdefault(n.id, set()).update(held)

    def bind(self, body: list[ast.stmt], env: dict[str, set[str]]) -> None:
        """Bind the names that the statements of one scope assign."""
        for n in _scope_nodes(body):
            if isinstance(n, ast.Assign):
                for tgt in n.targets:
                    self.bind_target(tgt, self.of(n.value, env), env)
            elif isinstance(n, ast.AnnAssign):
                held = _annotated(n.annotation, self.classes) | self.of(n.value, env)
                self.bind_target(n.target, held, env)
            elif isinstance(n, (ast.For, ast.comprehension)):
                self.bind_target(n.target, self.of(n.iter, env), env)


def _scope_nodes(body: list[ast.AST]):
    """Every node of one scope, not descending into nested functions,
    lambdas or classes (the nodes themselves are yielded)."""
    todo = list(body)
    while todo:
        n = todo.pop()
        yield n
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)):
            todo.extend(ast.iter_child_nodes(n))


def _field_reads(rec: _Receivers, body: list[ast.AST], env: dict[str, set[str]],
                 fields: dict[str, set[str]], owner: str | None = None) -> set[str]:
    """`Class.field` for each field read, in this scope and the scopes
    nested in it, through a receiver that holds the field's class."""
    env = {k: set(v) for k, v in env.items()}
    for _ in range(2):
        rec.bind(body, env)
    out = set()
    for n in _scope_nodes(body):
        if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out |= {f"{c}.{n.attr}" for c in rec.of(n.value, env) if n.attr in fields.get(c, ())}
        if isinstance(n, ast.ClassDef):
            out |= _field_reads(rec, n.body, env, fields, owner=n.name)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            inner = dict(env)
            args = [*n.args.posonlyargs, *n.args.args, *n.args.kwonlyargs]
            for i, a in enumerate(args):
                held = _annotated(a.annotation, rec.classes)
                if i == 0 and owner and not isinstance(n, ast.Lambda):
                    held = held | {owner}  # `self`
                inner[a.arg] = held
            body_ = n.body if isinstance(n.body, list) else [n.body]
            out |= _field_reads(rec, [*n.args.defaults, *body_], inner, fields)
    return out


def unread_fields() -> set[str]:
    """Public fields of package `@dataclass`es that no production code
    reads as an attribute of a receiver that holds the field's class
    (`spec.rename` with `spec: FactSpec`, or `spec = TIPOS[tipo]` with
    `TIPOS: dict[str, FactSpec]`)."""
    pkg = _package()
    trees = [tree for _, tree in pkg] + [ast.parse(f.read_text()) for f in _scripts()]
    owner = {}
    fields: dict[str, set[str]] = {}
    for mod, tree in pkg:
        for st in tree.body:
            if isinstance(st, ast.ClassDef) and any("dataclass" in _names(d) for d in st.decorator_list):
                names = {p.target.id for p in st.body
                         if isinstance(p, ast.AnnAssign) and isinstance(p.target, ast.Name)
                         and not p.target.id.startswith("_")}
                fields[st.name] = names
                owner.update({f"{st.name}.{f}": f"{mod}.{st.name}.{f}" for f in names})
    rec = _Receivers(trees, set(fields))
    read = set().union(*(_field_reads(rec, t.body, {}, fields) for t in trees))
    return {q for f, q in owner.items() if f not in read}


def test_dataclass_fields_are_read():
    unread = unread_fields()
    assert sorted(unread - _KEPT_FIELDS) == [], "a dataclass field that production code never reads"
    assert sorted(_KEPT_FIELDS - unread) == [], "listed, but now read or gone"


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
