"""Every package name the tools, the benchmarks and the driver entry
import must exist, so a deletion or rename that strands one of them
fails here instead of at its next run. Imports modules only; no Spark
session starts."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

PACKAGE = "aws_etl_dados_publicos_cnpj_spark"
ROOT = Path(__file__).resolve().parent.parent
CALLERS = [
    *sorted(ROOT.glob("tools/*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted(ROOT.glob("perfbench/*.py")),
]


def _package_imports(path: Path):
    """``(line, module, name)`` for each package import in ``path``,
    top-level or inside a function; ``name`` is None for ``import m``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            modules = [(node.module, alias.name) for alias in node.names]
        elif isinstance(node, ast.Import):
            modules = [(alias.name, None) for alias in node.names]
        else:
            continue
        for module, name in modules:
            if module == PACKAGE or module.startswith(PACKAGE + "."):
                yield node.lineno, module, name


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    return (
        name is None
        or hasattr(mod, name)
        # a submodule not yet imported
        or (hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}") is not None)
    )


def test_tool_and_bench_imports_resolve():
    found, stranded = 0, []
    for path in CALLERS:
        for line, module, name in _package_imports(path):
            found += 1
            if not _resolves(module, name):
                stranded.append(f"{path.relative_to(ROOT)}:{line}: {module} {name or ''}")
    assert found > 20
    assert stranded == []
