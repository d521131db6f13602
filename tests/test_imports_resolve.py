"""Every ``smatchpp_spark`` import in the repository resolves.

A deleted module or name can leave an import behind inside a function (a
contract query's closure, a tool's timing block) that fails only when
that code runs.  This walks every ``import smatchpp_spark…`` and
``from smatchpp_spark… import …`` with ``ast``, at module level and
nested, and checks that each module imports and each imported name
exists.  Pure Python: no Spark session starts."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED = [
    "smatchpp_spark",
    "jobs",
    "tools",
    "perfbench",
    "tests",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
]
PACKAGE = "smatchpp_spark"


def _in_package(module: str | None) -> bool:
    return module is not None and (
        module == PACKAGE or module.startswith(PACKAGE + ".")
    )


def package_imports() -> list[tuple[str, str, str | None]]:
    """``(file:line, module, name)`` per imported name; ``name`` is None
    for a plain ``import smatchpp_spark…``."""
    found = []
    for entry in SCANNED:
        path = ROOT / entry
        for src in sorted(path.rglob("*.py")) if path.is_dir() else [path]:
            rel = src.relative_to(ROOT)
            for node in ast.walk(ast.parse(src.read_text(), str(rel))):
                where = f"{rel}:{getattr(node, 'lineno', 0)}"
                if isinstance(node, ast.Import):
                    found += [
                        (where, a.name, None)
                        for a in node.names
                        if _in_package(a.name)
                    ]
                elif (
                    isinstance(node, ast.ImportFrom)
                    and node.level == 0
                    and _in_package(node.module)
                ):
                    found += [(where, node.module, a.name) for a in node.names]
    return found


def test_package_imports_resolve():
    imports = package_imports()
    assert imports, "the walk found no package imports"
    broken = []
    for where, module, name in imports:
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            broken.append(f"{where}: {module}: {exc}")
            continue
        if name in (None, "*") or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            broken.append(f"{where}: {module} has no {name}")
    assert not broken, "\n".join(broken)
