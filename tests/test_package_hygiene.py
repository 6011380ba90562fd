"""Import hygiene: every import in the package is used in its scope.

A scope is a module, class, function or lambda. An import binds a name
in the scope it sits in; it counts as used when that name is read
anywhere below the scope, except inside a nested scope that binds the
same name itself. Exempt: ``__init__.py`` modules (they re-export), a
name that another module imports from this one (a re-export), a name
listed in ``__all__``, and a name read only inside a string annotation
(``Optional["pa.Array"]``, kept under ``TYPE_CHECKING``).
"""

from __future__ import annotations

import ast
import pathlib

import duckdb_extension_clickhouse_native_spark as pkg_mod

PKG = pathlib.Path(pkg_mod.__file__).parent
REPO = PKG.parent

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _module_name(path: pathlib.Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _import_from_target(node: ast.ImportFrom, importer: str, is_pkg: bool) -> str:
    """Absolute module name an ``ImportFrom`` reads from."""
    if not node.level:
        return node.module or ""
    base = importer.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _bound_names(node: ast.AST) -> list:
    """(name, line) of each import binding directly in ``node``'s own
    scope (not in nested scopes); ``from __future__`` excluded."""
    out = []

    def walk(n):
        for child in ast.iter_child_nodes(n):
            if isinstance(child, _SCOPES):
                continue
            if isinstance(child, ast.Import):
                for a in child.names:
                    out.append((a.asname or a.name.split(".")[0], child.lineno))
            elif isinstance(child, ast.ImportFrom) and child.module != "__future__":
                for a in child.names:
                    if a.name != "*":
                        out.append((a.asname or a.name, child.lineno))
            walk(child)

    walk(node)
    return out


def _binds(scope: ast.AST, name: str) -> bool:
    """True iff the nested ``scope`` binds ``name`` itself."""
    if isinstance(scope, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        a = scope.args
        args = [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
        if any(x is not None and x.arg == name for x in args):
            return True
    if any(n == name for n, _line in _bound_names(scope)):
        return True

    def stores(n):
        for child in ast.iter_child_nodes(n):
            if isinstance(child, _SCOPES):
                if getattr(child, "name", None) == name:
                    return True
                continue
            if isinstance(child, ast.Name) and isinstance(child.ctx, ast.Store):
                if child.id == name:
                    return True
            if stores(child):
                return True
        return False

    return stores(scope)


def _annotation_strings(tree: ast.AST) -> set:
    """Names read inside string annotations anywhere in ``tree``."""
    names = set()
    annotations = []
    for n in ast.walk(tree):
        if isinstance(n, ast.arg) and n.annotation is not None:
            annotations.append(n.annotation)
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.returns:
            annotations.append(n.returns)
        elif isinstance(n, ast.AnnAssign):
            annotations.append(n.annotation)
    for ann in annotations:
        for c in ast.walk(ann):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                try:
                    expr = ast.parse(c.value, mode="eval")
                except SyntaxError:
                    continue
                names |= {x.id for x in ast.walk(expr) if isinstance(x, ast.Name)}
    return names


def _reads(scope: ast.AST, name: str) -> bool:
    def walk(n):
        for child in ast.iter_child_nodes(n):
            if isinstance(child, _SCOPES) and _binds(child, name):
                continue
            if (
                isinstance(child, ast.Name)
                and child.id == name
                and isinstance(child.ctx, (ast.Load, ast.Del))
            ):
                return True
            if walk(child):
                return True
        return False

    return walk(scope)


def _exported(tree: ast.AST) -> set:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            out |= {
                e.value
                for e in ast.walk(n.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            }
    return out


def _reexported() -> dict:
    """{module: names some other file imports from it}, over the
    package and every Python file next to it (tests, tools, scripts)."""
    out: dict = {}
    for f in REPO.rglob("*.py"):
        if any(p.startswith(".") for p in f.relative_to(REPO).parts):
            continue
        try:
            tree = ast.parse(f.read_text())
        except (SyntaxError, UnicodeDecodeError):
            continue
        importer = _module_name(f)
        is_pkg = f.name == "__init__.py"
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                mod = _import_from_target(n, importer, is_pkg)
                out.setdefault(mod, set()).update(a.name for a in n.names)
    return out


def unused_imports() -> list:
    reexported = _reexported()
    found = []
    for f in sorted(PKG.rglob("*.py")):
        if f.name == "__init__.py":
            continue
        tree = ast.parse(f.read_text())
        spared = (
            reexported.get(_module_name(f), set())
            | _exported(tree)
            | _annotation_strings(tree)
        )
        scopes = [tree, *(n for n in ast.walk(tree) if isinstance(n, _SCOPES))]
        for scope in scopes:
            for name, line in _bound_names(scope):
                if name in spared or _reads(scope, name):
                    continue
                found.append(f"{f.relative_to(PKG)}:{line} {name}")
    return found


def test_every_package_import_is_used():
    assert unused_imports() == []
