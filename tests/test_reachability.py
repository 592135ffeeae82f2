"""Every package module is reached from an entry point, not only from its
tests, and every package function is named somewhere.

Walks the ``import`` statements (including those inside functions) from
the CLI, ``python -m imposm3_spark``, the query registry
(``__spark_entry__.py``), ``bench.py`` and the ``perfbench/`` modules. A
module that none of them reaches is code that only its own tests run:
give it an entry point or delete it. A top-level function, class or
method whose name no Python file in the repo mentions is code nothing
runs. Spark-free; parses source only.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "imposm3_spark"
ROOTS = [
    REPO / PKG / "cli.py",
    REPO / PKG / "__main__.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *(p for p in (REPO / "perfbench").glob("*.py") if not p.name.startswith("test_")),
]
# unreached on purpose; one reason each
ALLOWED = {
    f"{PKG}.streaming": "public streaming form of `imposm run` (docs/API.md)",
    f"{PKG}.streaming.replication": "StreamingReplicator (docs/API.md)",
}


def _package_modules() -> dict[str, Path]:
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported_names(path: Path, name: str):
    """Dotted names that `path` (module `name`) imports; `from m import x`
    yields both `m` and `m.x`, since x may be a submodule."""
    is_pkg = path.name == "__init__.py"
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = name.split(".")[: None if is_pkg else -1]
                base = base[: len(base) - node.level + 1]
                mod = ".".join(base + ([mod] if mod else []))
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "__import__"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            yield node.args[0].value


def _reached(modules: dict[str, Path]) -> set[str]:
    todo = [(p, f"{PKG}.{p.stem}" if p.parent.name == PKG else p.stem) for p in ROOTS]
    seen = {name for _, name in todo}
    while todo:
        path, name = todo.pop()
        for imported in _imported_names(path, name):
            parts = imported.split(".")
            # importing a.b.c runs the __init__ of a and a.b too
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append((modules[mod], mod))
    return seen


def test_every_package_module_has_an_entry_point():
    modules = _package_modules()
    unreached = sorted(set(modules) - _reached(modules) - set(ALLOWED))
    assert not unreached, (
        "package modules no entry point imports (only tests reach them): "
        + ", ".join(unreached)
    )


def test_allowlist_names_existing_unreached_modules():
    modules = _package_modules()
    reached = _reached(modules)
    assert set(ALLOWED) <= set(modules), sorted(set(ALLOWED) - set(modules))
    assert not set(ALLOWED) & reached, sorted(set(ALLOWED) & reached)


def _repo_sources() -> list[Path]:
    return [
        p for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]


def _is_registered(node) -> bool:
    """`@register(...)`-decorated definitions are reached through a
    registry lookup, not by name."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def test_every_package_function_is_named():
    """Names count as references when they appear as a variable, an
    attribute, an import alias or a string that is an identifier (a
    `getattr` target, a monkeypatch name) in any Python file. Dunder
    methods are called by the language and are skipped."""
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    named: set[str] = set()
    unnamed = []
    for path in _repo_sources():
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                named.add(node.id)
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
            elif isinstance(node, ast.alias):
                named.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.isidentifier():
                    named.add(node.value)
        if path.relative_to(REPO).parts[0] != PKG:
            continue
        for top in tree.body:
            members = top.body if isinstance(top, ast.ClassDef) else []
            for node in (top, *members):
                if (
                    isinstance(node, defs)
                    and not (node.name.startswith("__") and node.name.endswith("__"))
                    and not _is_registered(node)
                ):
                    unnamed.append((f"{path.relative_to(REPO)}:{node.lineno}", node.name))
    unused = sorted(f"{where} {name}" for where, name in unnamed if name not in named)
    assert not unused, "package definitions nothing names: " + ", ".join(unused)
