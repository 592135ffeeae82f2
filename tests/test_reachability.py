"""Every package module is reached from an entry point, not only from its
tests.

Walks the ``import`` statements (including those inside functions) from
the CLI, ``python -m imposm3_spark``, the query registry
(``__spark_entry__.py``), ``bench.py`` and the ``perfbench/`` modules. A
module that none of them reaches is code that only its own tests run:
give it an entry point or delete it. Spark-free; parses source only.
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
    f"{PKG}.diff.state_store": "the ReplicationRunner.state_store hook",
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
