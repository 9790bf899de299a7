"""No package code lives only for its tests.

Every top-level ``def`` and ``class`` in the package must be referenced
from outside its own body by code that is not a test: the package
itself, ``scripts/``, ``perfbench/``, the bench entry points or the
driver contract. A reference is a name, an attribute, an import alias or
a string that spells the identifier (``getattr`` lookups, ``__all__``).
Queries filed with ``@register`` are the driver contract and are exempt.
The check only parses files; it starts no Spark session.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "cdrc_semantic_search_spark")

# Definitions kept although only tests call them, each with its reason.
KEEP = {
    # the reference twin that test_kg_parity compares the engine's mentions against
    "oracle_mentions",
    # the reference's SentenceSplitter semantics, pinned against its pure twin
    "chunk_sentences",
    # compacted_pq_codes and upsert_pq_index read its deltas (the PQ commit path)
    "stream_pq_upsert",
    # the reference's retrieval-mode × alpha sweep (COVERAGE row A6)
    "evaluate_mode_alpha_grid",
}

_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def _caller_files() -> list[str]:
    files = glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    files += [
        f for f in glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
        if os.path.basename(f) != "test_smoke.py"
    ]
    files += [
        os.path.join(ROOT, f) for f in ("bench.py", "bench_extra.py", "__spark_entry__.py")
    ]
    return sorted(files)


def _docstrings(node: ast.AST) -> set[int]:
    out = set()
    for n in ast.walk(node):
        body = getattr(n, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            if isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
                out.add(id(body[0].value))
    return out


def _references(node: ast.AST) -> set[str]:
    docs = _docstrings(node)
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            if _NAME.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def _is_registered(node) -> bool:
    """Filed in the query registry (``register``) or its oracle table
    (``value_oracles._register``)."""
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name in ("register", "_register"):
            return True
    return False


def test_every_package_definition_has_a_non_test_caller():
    defs = []  # (name, key of its own statement, file)
    references: dict[tuple[str, int], set[str]] = {}  # (file, statement index) -> names
    for path in _caller_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        where = os.path.relpath(path, ROOT)
        for i, stmt in enumerate(tree.body):
            references[(where, i)] = _references(stmt)
            if (
                where.startswith("cdrc_semantic_search_spark")
                and isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not _is_registered(stmt)
            ):
                defs.append((stmt.name, (where, i), where))

    dead = [
        f"{where}: {name}"
        for name, own, where in defs
        if name not in KEEP
        and not any(name in names for key, names in references.items() if key != own)
    ]
    assert not dead, "defined in the package but called only from tests:\n" + "\n".join(dead)
    assert KEEP <= {name for name, _, _ in defs}, "keep-list names a definition that is gone"
