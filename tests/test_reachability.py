"""Every package module is reached from a program entry point.

A static import walk (stdlib `ast`, no Spark) from the CLI, the driver
contract, the query bench and the benchmark harness.  A module that
only its own test imports fails here by name: delete it, or wire it to
an entry point.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "file_dedup_rust_spark"

ROOTS = [
    REPO / "run_pipeline.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]

# Package modules that no entry point imports, each with its reason.
ALLOWED_UNREACHED = {
    # the numpy reference that tests/test_pipeline_recall.py and
    # tests/test_datagen_oracle.py compare the Spark pipeline against
    f"{PKG}.oracle",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted((REPO / PKG).rglob("*.py"))}


def _imports(path: Path, name: str, modules: dict[str, Path]) -> set[str]:
    """Package modules `path` imports anywhere in its body, including
    function-level and relative imports.  `from a import b` counts `a.b`
    when `b` is a submodule, and importing `a.b.c` counts the parent
    packages `a` and `a.b` whose `__init__` runs first."""
    is_pkg = path.name == "__init__.py"
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                up = base[: len(base) - node.level + 1]
                mod = ".".join(up + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            found.add(mod)
            found.update(f"{mod}.{a.name}" for a in node.names)
    closed = set()
    for mod in found:
        parts = mod.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {m for m in closed if m in modules}


def _reached() -> set[str]:
    modules = _package_modules()
    todo = [(p, _module_name(p)) for p in ROOTS]
    seen: set[str] = set()
    while todo:
        path, name = todo.pop()
        for mod in _imports(path, name, modules) - seen:
            seen.add(mod)
            todo.append((modules[mod], mod))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules, reached = set(_package_modules()), _reached()
    unreached = sorted(modules - reached - ALLOWED_UNREACHED)
    assert not unreached, (
        "package modules no entry point imports (only tests reach them): "
        + ", ".join(unreached)
    )
    # an allow-list entry must name a module that exists and is unreached
    assert ALLOWED_UNREACHED <= modules - reached
