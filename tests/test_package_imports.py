"""Every module of the package is reached by the engine: it is the
``python -m bucket_to_bigquery_spark.run`` CLI, or some other package
module, ``bench.py``, ``__spark_entry__.py`` or a script under ``tools/``
imports it. A module only tests import is code the registry, the CLIs
and the bench never run.

Imports are read statically from the source, function-local ones
included (``operators/lm.py`` is reached only that way)."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "bucket_to_bigquery_spark"
CLI = f"{PKG}.run"


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path: Path) -> set[str]:
    """Absolute names of every module (or module attribute) ``path``
    imports, with the parent packages each import also loads."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_package_module_is_imported_by_the_engine():
    modules = sorted((REPO / PKG).rglob("*.py"))
    importers = modules + [REPO / "bench.py", REPO / "__spark_entry__.py"]
    importers += sorted((REPO / "tools").glob("*.py"))
    imported_by: dict[str, set[str]] = {}
    for path in importers:
        for target in _imported_names(path):
            imported_by.setdefault(target, set()).add(_module_name(path))
    orphans = [
        str(p.relative_to(REPO)) for p in modules
        if _module_name(p) != CLI
        and not imported_by.get(_module_name(p), set()) - {_module_name(p)}
    ]
    assert orphans == []
