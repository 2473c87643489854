"""Every package module is imported by a program entry point.

The entry points are the driver contract (``__spark_entry__.py``), the
maintenance CLI (``trino_iceberg_maintenance_spark/__main__.py``), the
benchmark (``perfbench/*.py``) and the maintained tools
(``tools/*.py``). The walk reads ``import`` and ``from ... import``
statements with ``ast`` — module-level and function-local alike — and
follows them through the package. A module that only tests import is
dead weight that grows back unnoticed; this test names it.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "trino_iceberg_maintenance_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path) -> set[str]:
    """Dotted names ``path`` imports, each with its enclosing packages
    (importing ``a.b.c`` runs ``a`` and ``a.b`` too)."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package.pop()
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) + 1 - node.level]
            if not node.level:
                base = []
            stem = ".".join(base + ([node.module] if node.module else []))
            names.add(stem)
            names.update(f"{stem}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_package_module_is_reached_from_an_entry_point():
    mods = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    todo = [ROOT / "__spark_entry__.py", ROOT / PKG / "__main__.py",
            *(ROOT / "perfbench").glob("*.py"),
            *(ROOT / "tools").glob("*.py")]
    seen = {_module_name(p) for p in todo}
    while todo:
        for name in _imported(todo.pop()) & mods.keys() - seen:
            seen.add(name)
            todo.append(mods[name])
    unreached = sorted(mods.keys() - seen)
    assert not unreached, (
        f"{len(unreached)} package module(s) reached only from tests "
        f"(or not at all): {unreached}")
