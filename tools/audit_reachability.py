#!/usr/bin/env python
"""Package reachability audit: no top-level def that only tests reach.

A package function that only a unit test calls is code the engine
carries without using. This lists every top-level ``def`` / ``class``
and module-level constant (``X = ...``) under
``pdf_to_vectordb_etl_spark/`` and marks it reached when its name is
referenced from outside ``tests/``: ``__spark_entry__.py``,
``bench.py``, ``tools/``, ``perfbench/``, or the package's own code.

Reachability is a fixpoint. The roots are the names referenced
anywhere outside a package top-level def or constant (module-level
code, the entry module, the tools) plus :data:`ALLOWLIST`. A def is
reached when a root names it, or when the body of a reached def (for a
constant, its assigned value) names it. So two test-only defs that
call each other stay unreached; a private helper of a reached def is
reached.

Pure AST plus name matching (a name matches every def of that name,
in any module); starts no Spark. Imports inside the package's
``__init__.py`` files are re-exports, not uses, and do not count.

Exit 1 when a def is unreached and not allowlisted, or when an
allowlist entry is stale: no such def, one that non-test code reaches
without the allowlist, or one that no file outside its own module
names, tests included (nothing uses it at all).

Usage: python tools/audit_reachability.py
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pdf_to_vectordb_etl_spark"
#: the non-test code whose references count (besides the package)
CALLERS = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "tools",
           ROOT / "perfbench"]
TESTS = ROOT / "tests"

#: defs kept although only tests reach them: the reference surface,
#: each with the COVERAGE.md row it implements (no registry query
#: reaches these through the package; the query twin inlines its own
#: plan), and the references that tests check a registry path against
ALLOWLIST = {
    # §2.1–§3: the reference's own surface
    "write_page_images": "S3 page image scan / O4 image sink (§2.1, §2.10)",
    "bucket_subjects_range_join": "J3 subject range join, the reference for the CASE form (§2.3)",
    "subject_dim": "J3 subject range join: its dimension table (§2.3)",
    "write_bucketed": "§2.3 bucketed co-located join / O6 collection DDL (§2.10)",
    "subject_concat": "A2 order-preserving concat (§2.4)",
    "stats_pivot_reference_csv": "A4 stats pivot in the reference's CSV layout (§2.4)",
    "upsert_foreach_partition": "O5 vector upsert / U4 per-partition client (§2.10)",
    "console_progress": "O8 console progress sink (§2.10)",
    "read_page_stream": "T3 incremental folder ETL: the page-file stream source (§2.11)",
    "run_incremental_etl": "T3 incremental folder ETL (§2.11)",
    "stream_event_counts": "§2.11 watermarked windows",
    "openai_embed_fn": "U3 embedding UDF through an OpenAI-style client (§2.12)",
    "fake_client_embed": "U3 offline client for openai_embed_fn (§2.12)",
    "extract_pdf": "§3 entry point extract_pdf (df/txt/json/dict modes)",
    "file_to_vector_table": "§3 entry point file_to_vector_table",
    "embedding_near_duplicates": "test reference: the baseline test_blas_embedding_pairs_match_hof checks the registry's _blas path against",
}


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _names(node: ast.AST, *, imports: bool = True) -> set[str]:
    """Every identifier ``node`` references: loads, attribute names,
    and (with ``imports``) imported names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif imports and isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _defined(stmt: ast.stmt) -> set[str]:
    """Names a top-level statement defines: a def or class, or the
    plain-name targets of a constant assignment (``X = ...``,
    ``X: T = ...``, ``X, Y = ...``; dunders such as ``__all__`` are
    module protocol, not constants)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, ast.Assign):
        targets = list(stmt.targets)
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return set()
    names: set[str] = set()
    while targets:  # unpack X, (Y, *Z) = ...; X.a = / X[k] = are uses
        t = targets.pop()
        if isinstance(t, ast.Name) and not t.id.startswith("__"):
            names.add(t.id)
        elif isinstance(t, (ast.Tuple, ast.List)):
            targets.extend(t.elts)
        elif isinstance(t, ast.Starred):
            targets.append(t.value)
    return names


def scan(allow=ALLOWLIST) -> tuple[dict[str, list[str]], set[str]]:
    """Return ({def name: [module:line, ...]}, names reached from the
    non-test code plus ``allow``)."""
    defs: dict[str, list[str]] = {}
    bodies: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in _py_files(PACKAGE):
        tree = ast.parse(path.read_text(), filename=str(path))
        where = path.relative_to(ROOT)
        reexports = path.name == "__init__.py"
        for stmt in tree.body:
            names = _defined(stmt)
            if not names:
                roots |= _names(stmt, imports=not reexports)
            for name in names:
                defs.setdefault(name, []).append(f"{where}:{stmt.lineno}")
                bodies[name] = bodies.get(name, set()) | (_names(stmt) - names)
    for caller in CALLERS:
        for path in _py_files(caller):
            roots |= _names(ast.parse(path.read_text(), filename=str(path)))

    reached = (roots | set(allow)) & set(defs)
    frontier = list(reached)
    while frontier:
        for name in bodies[frontier.pop()] & set(defs):
            if name not in reached:
                reached.add(name)
                frontier.append(name)
    return defs, reached


def mentions() -> dict[str, set[str]]:
    """{file: names it references} over the package, the non-test
    callers and ``tests/`` (re-exports in ``__init__.py`` excluded)."""
    out: dict[str, set[str]] = {}
    for root in [PACKAGE, *CALLERS, TESTS]:
        for path in _py_files(root):
            tree = ast.parse(path.read_text(), filename=str(path))
            imports = not (root == PACKAGE and path.name == "__init__.py")
            out[str(path.relative_to(ROOT))] = _names(tree, imports=imports)
    return out


def stale_entries(allow, defs, reached_bare, named) -> list[str]:
    """Allowlist entries to drop: no such def, a def in
    ``reached_bare`` (reached without the allowlist), or a def that no
    file of ``named`` outside its own module references."""
    stale = []
    for name in sorted(allow):
        homes = {where.rsplit(":", 1)[0] for where in defs.get(name, ())}
        used = any(name in names for f, names in named.items() if f not in homes)
        if not homes or name in reached_bare or not used:
            stale.append(name)
    return stale


def main() -> int:
    defs, reached = scan()
    unreached = sorted(set(defs) - reached)
    stale = stale_entries(ALLOWLIST, defs, scan(())[1], mentions())
    for name in unreached:
        print(f"UNREACHED  {name}  ({', '.join(defs[name])})")
    for name in stale:
        print(f"STALE ALLOWLIST  {name}: no such def, reached without the "
              "allowlist, or named nowhere outside its module")
    print(f"{len(defs)} top-level package defs and constants, {len(reached)} reached "
          f"({len(ALLOWLIST)} allowlisted), {len(unreached)} unreached")
    return 1 if unreached or stale else 0


if __name__ == "__main__":
    sys.exit(main())
