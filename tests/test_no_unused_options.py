"""Every engine option has a caller.

An AST census over the repository: each defaulted parameter of a
``big_data_lab_three_spark`` function must be passed by at least one call
site, and each package function must be referenced somewhere outside its
own ``def``.  A default that no caller overrides is a constant spelled as
an option; a function nothing calls is code nobody runs.

Call sites are matched by the callee's simple name (``f(...)`` or
``x.f(...)``; a class name stands for its ``__init__``), so two functions
sharing a name share their callers.  A parameter counts as passed when a
call names it as a keyword, reaches its position with positional
arguments (``self``/``cls`` skipped), or splats ``*args``/``**kwargs``.
``functools.partial(f, ...)`` bindings and calls through
``from m import f as g`` count as calls of ``f``.

References are matched by simple name too, except for module-level
functions: a use of ``f`` counts for ``m.f`` only in ``m`` itself, in a
module that imports ``f`` from ``m`` (directly or through a package
re-export), or as ``x.f`` where ``x`` is ``m`` imported as a module.  So
a dead function stays dead when a live one elsewhere shares its name.  A
package ``__init__`` re-export is not a reference.

The allowlists name what stays on purpose: deployment settings, and the
oracle SQL builders and correctness bounds that check the engine.
``python tests/test_no_unused_options.py`` prints the whole census.
"""

from __future__ import annotations

import ast
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "big_data_lab_three_spark"
CALLERS = [
    PKG,
    ROOT / "tests",
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

# Unpassed defaults kept on purpose, keyed "<module>.<function>:<param>".
ALLOWED_PARAMS = {
    "sources.sinks.redis_client:host": "deployment setting (Redis address)",
    "sources.sinks.redis_client:port": "deployment setting (Redis address)",
    "sources.sinks.redis_client:password": "deployment setting (credential)",
    "sources.sinks.redis_client:db": "deployment setting (Redis database)",
    "sources.sinks.redis_client:timeout_s": "deployment setting (network timeout)",
    "session.get_spark:master": "deployment setting (cluster master URL)",
    "logger.get_logger:level": "deployment setting (log verbosity)",
    "catalog.resolve_artifact_dir:env_var": "deployment setting (artifact path override)",
    "catalog.resolve_artifact_dir:preferred": "deployment setting (artifact path)",
    "serve.app.create_app:sf_dir": "deployment setting (data path of the served split)",
    "queries.corpus._kcore_oracle:k": "oracle SQL; the reference mirrors the Spark query's constants",
    "queries.corpus._kcore_oracle:rounds": "oracle SQL; the reference mirrors the Spark query's constants",
    "queries.corpus._bpe_oracle_apply_rounds:k": "oracle SQL; the reference mirrors the Spark query's constants",
    "queries.vector._ann_recall_audit:recall_floor": "correctness bound of the recall audits",
}

# Functions no Python code references, keyed "<module>.<function>".
ALLOWED_FUNCTIONS = {
    "serve.app.create_app": "ASGI factory, started by name: uvicorn --factory ...:create_app",
}


def _files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _module(path: Path, pkg: Path) -> str:
    rel = path.relative_to(pkg).with_suffix("")
    return ".".join(rel.parts)


def _dotted(path: Path, pkg: Path) -> str:
    """The importable name of a package file (``__init__`` → package)."""
    parts = [pkg.name, *path.relative_to(pkg).with_suffix("").parts]
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _chain(node: ast.expr) -> str | None:
    """``a.b.c`` for a chain of attributes ending in a name."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        head = _chain(node.value)
        return None if head is None else f"{head}.{node.attr}"
    return None


def _source(node: ast.ImportFrom, module: str | None, is_pkg: bool) -> str:
    """The absolute module a ``from ... import`` reads from."""
    if not node.level:
        return node.module or ""
    base = (module or "").split(".")
    base = base[: len(base) - node.level + is_pkg]
    return ".".join(base + ([node.module] if node.module else []))


def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _renamed(tree: ast.Module) -> dict[str, list[str]]:
    """Local names that stand for functions: ``from m import f as g``,
    ``for g in (f, h):`` and ``@pytest.mark.parametrize("g", [f, h])``
    make a call of ``g`` a call of each of ``f`` and ``h``."""
    out: dict[str, list[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if a.asname:
                    out.setdefault(a.asname, []).append(a.name)
        elif (
            isinstance(node, ast.For)
            and isinstance(node.target, ast.Name)
            and isinstance(node.iter, (ast.Tuple, ast.List))
        ):
            out.setdefault(node.target.id, []).extend(
                _callee(e) for e in node.iter.elts if _callee(e)
            )
        elif (
            isinstance(node, ast.Call)
            and _callee(node.func) == "parametrize"
            and len(node.args) >= 2
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[1], (ast.Tuple, ast.List))
        ):
            out.setdefault(str(node.args[0].value), []).extend(
                _callee(e) for e in node.args[1].elts if _callee(e)
            )
    return out


class _Site:
    def __init__(self, args: list[ast.expr], keywords: list[ast.keyword]):
        self.npos = sum(not isinstance(a, ast.Starred) for a in args)
        self.star = any(isinstance(a, ast.Starred) for a in args)
        self.kws = {k.arg for k in keywords if k.arg is not None}
        self.dstar = any(k.arg is None for k in keywords)

    def passes(self, name: str, index: int | None) -> bool:
        if self.dstar or name in self.kws:
            return True
        return index is not None and (self.star or self.npos > index)


def _census(pkg: Path, callers: list[Path]) -> SimpleNamespace:
    """Call sites by callee name, references by simple name and by
    qualified name, and the package's functions as (path, class, def,
    module-level)."""
    sites: dict[str, list[_Site]] = {}
    refs: dict[str, list[tuple[Path, int]]] = {}
    trees: dict[Path, tuple[ast.Module, str | None, bool]] = {}
    for root in callers:
        for path in _files(root):
            trees[path] = (
                ast.parse(path.read_text(), str(path)),
                _dotted(path, pkg) if path.is_relative_to(pkg) else None,
                path.name == "__init__.py",
            )
    modules = {m for _, m, _ in trees.values() if m}
    # package re-exports: (module, name) → (source module, source name)
    exports: dict[tuple[str, str], tuple[str, str]] = {}
    for tree, module, is_pkg in trees.values():
        if module is None:
            continue
        for node in tree.body:
            if isinstance(node, ast.ImportFrom):
                src = _source(node, module, is_pkg)
                for a in node.names:
                    exports[(module, a.asname or a.name)] = (src, a.name)

    def resolve(module: str, name: str) -> str:
        seen = set()
        while (module, name) in exports and (module, name) not in seen:
            seen.add((module, name))
            module, name = exports[(module, name)]
        return f"{module}.{name}"

    qrefs: dict[str, list[tuple[Path, int]]] = {}
    for path, (tree, module, is_pkg) in trees.items():
        renamed = _renamed(tree)
        names: dict[str, str] = {}  # local name → qualified function
        aliases: dict[str, str] = {}  # local name → module
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        aliases[a.asname] = a.name
                    else:
                        head = a.name.split(".")[0]
                        aliases[head] = head
            elif isinstance(node, ast.ImportFrom):
                src = _source(node, module, is_pkg)
                for a in node.names:
                    local = a.asname or a.name
                    if f"{src}.{a.name}" in modules:
                        aliases[local] = f"{src}.{a.name}"
                    else:
                        names[local] = resolve(src, a.name)

        def qualify(node: ast.expr) -> str | None:
            if isinstance(node, ast.Name):
                if node.id in names:
                    return names[node.id]
                return f"{module}.{node.id}" if module else None
            head, _, rest = (_chain(node.value) or "").partition(".")
            if head not in aliases:
                return None
            return resolve(".".join(filter(None, [aliases[head], rest])),
                           node.attr)

        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = _callee(node.func)
                if name == "partial" and node.args:
                    args = node.args[1:]
                    name = _callee(node.args[0])
                else:
                    args = node.args
                for target in [name, *renamed.get(name, [])]:
                    if target:
                        sites.setdefault(target, []).append(
                            _Site(args, node.keywords)
                        )
            if isinstance(node, (ast.Name, ast.Attribute)):
                simple = node.id if isinstance(node, ast.Name) else node.attr
                refs.setdefault(simple, []).append((path, node.lineno))
                qualified = qualify(node)
                if qualified:
                    qrefs.setdefault(qualified, []).append(
                        (path, node.lineno)
                    )

    functions = []

    def visit(node: ast.AST, path: Path, cls: ast.ClassDef | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, path, child)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                functions.append((path, cls, child, node is trees[path][0]))
                visit(child, path, None)
            else:
                visit(child, path, cls)

    for path in _files(pkg):
        visit(trees[path][0], path, None)
    return SimpleNamespace(
        pkg=pkg, sites=sites, refs=refs, qrefs=qrefs, functions=functions
    )


CENSUS = _census(PKG, CALLERS)


def _qualname(path: Path, cls: ast.ClassDef | None, fn: ast.FunctionDef,
              pkg: Path) -> str:
    owner = f"{cls.name}." if cls is not None else ""
    return f"{_module(path, pkg)}.{owner}{fn.name}"


def _unpassed_params() -> list[str]:
    out = []
    for path, cls, fn, _ in CENSUS.functions:
        a = fn.args
        positional = a.posonlyargs + a.args
        bound = (
            cls is not None
            and positional
            and positional[0].arg in ("self", "cls")
        )
        callers = list(CENSUS.sites.get(fn.name, []))
        if cls is not None and fn.name == "__init__":
            callers += CENSUS.sites.get(cls.name, [])
        defaulted = [
            (p.arg, positional.index(p) - bound)
            for p in positional[len(positional) - len(a.defaults):]
        ] + [
            (p.arg, None)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        for name, index in defaulted:
            if not any(s.passes(name, index) for s in callers):
                out.append(f"{_qualname(path, cls, fn, PKG)}:{name}")
    return out


def _unreferenced_functions(census: SimpleNamespace = CENSUS) -> list[str]:
    out = []
    for path, cls, fn, top in census.functions:
        if fn.name.startswith("__") or fn.decorator_list:
            continue
        if top:
            uses = census.qrefs.get(f"{_dotted(path, census.pkg)}.{fn.name}", [])
        else:
            uses = census.refs.get(fn.name, [])
        inside = range(fn.lineno, fn.end_lineno + 1)
        if not any(not (p == path and line in inside) for p, line in uses):
            out.append(_qualname(path, cls, fn, census.pkg))
    return out


def test_every_defaulted_parameter_has_a_caller():
    unused = [p for p in _unpassed_params() if p not in ALLOWED_PARAMS]
    assert not unused, (
        f"{len(unused)} defaulted parameters no call site passes; inline "
        "each default at its use:\n  " + "\n  ".join(unused)
    )


def test_every_function_has_a_caller():
    unused = [
        f for f in _unreferenced_functions() if f not in ALLOWED_FUNCTIONS
    ]
    assert not unused, (
        f"{len(unused)} functions nothing references; delete them:\n  "
        + "\n  ".join(unused)
    )


def test_allowlists_name_live_unused_items():
    stale = (set(ALLOWED_PARAMS) - set(_unpassed_params())) | (
        set(ALLOWED_FUNCTIONS) - set(_unreferenced_functions())
    )
    assert not stale, f"allowlist entries that no longer apply: {sorted(stale)}"


def test_a_dead_function_sharing_a_live_ones_name_is_reported(tmp_path):
    """``aggregates.accuracy`` is dead although ``ml.local.accuracy``, a
    live function of the same name, is called through a re-export; a
    method still counts as called by simple name."""
    pkg = tmp_path / "big_data_lab_three_spark"
    tests = tmp_path / "tests"
    files = {
        pkg / "__init__.py": "",
        pkg / "ml" / "__init__.py": "from .local import accuracy\n",
        pkg / "ml" / "local.py": "def accuracy():\n    return 1\n",
        pkg / "aggregates.py": (
            "def accuracy():\n    return 0\n\n\n"
            "class Report:\n    def render(self):\n        return 2\n"
        ),
        pkg / "serve.py": (
            "from big_data_lab_three_spark.ml import accuracy\n\n\n"
            "def score(report):\n    return accuracy() + report.render()\n"
        ),
        tests / "test_serve.py": (
            "from big_data_lab_three_spark import serve\n\n\n"
            "def test_score():\n    serve.score(None)\n"
        ),
    }
    for path, text in files.items():
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    census = _census(pkg, [pkg, tests])
    assert _unreferenced_functions(census) == ["aggregates.accuracy"]


if __name__ == "__main__":
    params, functions = _unpassed_params(), _unreferenced_functions()
    total = sum(
        len(fn.args.defaults) + sum(d is not None for d in fn.args.kw_defaults)
        for _, _, fn, _ in CENSUS.functions
    )
    for p in params:
        print("param", p, "(allowed)" if p in ALLOWED_PARAMS else "")
    for f in functions:
        print("function", f, "(allowed)" if f in ALLOWED_FUNCTIONS else "")
    print(
        f"defaulted parameters {total}; unpassed {len(params)} "
        f"({len(set(params) - set(ALLOWED_PARAMS))} not allowed); "
        f"unreferenced functions {len(functions)} "
        f"({len(set(functions) - set(ALLOWED_FUNCTIONS))} not allowed)"
    )
