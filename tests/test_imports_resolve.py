"""Import guard: every `from docling_pdf_spark… import name` in the
package, the jobs, the driver entry and the bench/perf harnesses —
function-local imports included — names a module that imports and a
name it has. Harness rows import inside their functions, so a deleted
or renamed package name would otherwise break them only when they run.
Spark-free: modules are imported, no session is started."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "docling_pdf_spark"
SOURCES = [PACKAGE, "jobs", "__spark_entry__.py", "bench.py", "bench", "scripts",
           "perfbench"]


def _files() -> list[Path]:
    out = []
    for src in SOURCES:
        p = ROOT / src
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return out


def _package_imports(path: Path) -> list[tuple[str, str | None, int]]:
    """(module, name or None for a plain import, line) for every import
    of the package anywhere in the file."""
    pkg = path.relative_to(ROOT).parts[:-1]
    out = []
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.ImportFrom):
            # a relative import resolves against the file's package
            base = pkg[:len(pkg) - node.level + 1] if node.level else ()
            mod = ".".join([*base, *filter(None, [node.module])])
            if mod.split(".")[0] == PACKAGE:
                out += [(mod, a.name, node.lineno) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None, node.lineno) for a in node.names
                    if a.name.split(".")[0] == PACKAGE]
    return out


def test_every_package_import_resolves():
    broken = []
    for path in _files():
        for mod, name, line in _package_imports(path):
            where = f"{path.relative_to(ROOT)}:{line}"
            try:
                m = importlib.import_module(mod)
            except ImportError as e:
                broken.append(f"{where}: {mod}: {e}")
                continue
            if name is None or name == "*" or hasattr(m, name):
                continue
            try:  # `from pkg import submodule`
                importlib.import_module(f"{mod}.{name}")
            except ImportError:
                broken.append(f"{where}: {mod} has no {name}")
    assert broken == [], "\n".join(broken)

