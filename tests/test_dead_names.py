"""Dead-name guard: every top-level def, class and assignment in the
package must be referenced somewhere in the repo's Python files beyond
its own definition and its re-exports from package `__init__.py` files.
Spark-free: it parses source text only."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _uses(rel: Path, text: str) -> str:
    """The source text whose words count as uses. A package
    `__init__.py` re-export (`from .mod import name`) is not a use:
    it would keep a name alive that nothing calls."""
    if rel.name != "__init__.py":
        return text
    lines = text.splitlines()
    for node in ast.parse(text).body:
        if isinstance(node, ast.ImportFrom):
            for i in range(node.lineno - 1, node.end_lineno):
                lines[i] = ""
    return "\n".join(lines)


def test_no_package_name_is_only_its_own_definition():
    files = [p for p in ROOT.rglob("*.py")
             if not any(part.startswith(".") or part == "dist"
                        for part in p.relative_to(ROOT).parts)]
    texts = {p.relative_to(ROOT): p.read_text(encoding="utf-8") for p in files}
    # a name is all word characters, so its word matches are exactly
    # the maximal \w+ runs equal to it
    words = Counter(w for rel, t in texts.items()
                    for w in re.findall(r"\w+", _uses(rel, t)))
    dead = []
    for rel, text in texts.items():
        if rel.parts[0] != "docling_pdf_spark":
            continue
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            else:
                continue
            dead += [f"{rel}:{n}" for n in names if words[n] == 1]
    assert dead == [], f"unreferenced package names: {dead}"
