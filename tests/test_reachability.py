"""Every top-level name in ``kg_obo_spark/`` is reached from an entry point,
or kept for a stated reason.

An AST pass (no imports, no Spark) starts from the roots: the registry
(``__spark_entry__.py``), ``scripts/``, the frozen harnesses (``bench.py``,
``bench_extra.py``, ``perfbench/``), ``tools/``, and package code that runs at
import (module-level statements other than defs, assigns and imports). Reached
code reaches every top-level def or assign of the package that it names, as a
name, an attribute, an import or an identifier-shaped string (the perfbench
tracer wraps functions by name). Docstrings and ``__all__`` lists are not
references. Names are matched by identifier, not by module, so the pass can
only over-report reachability, never under-report it.

A name no root reaches is dead code unless ``KEEP`` names it, with the
``docs/COVERAGE.md`` row it reproduces or the contract that needs it.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "kg_obo_spark"
ROOTS = ("__spark_entry__.py", "scripts", "bench.py", "bench_extra.py", "perfbench", "tools")

KEEP = {
    "extract_version_iri": "COVERAGE S4",
    "extract_imports": "COVERAGE S5",
    "replace_illegal_chars": "COVERAGE P2",
    "registry_from_entries": "COVERAGE S1",
    "filter_registry": "COVERAGE P1",
    "read_kgx_tsv": "COVERAGE S6",
    "decompress_kgx_targz": "COVERAGE S8",
    "write_obojson": "COVERAGE S12",
    "rewrite_category": "COVERAGE P4",
    "verify_uploads": "COVERAGE P6",
    "write_id_update_artifacts": "COVERAGE P8b",
    "apply_id_update_map": "COVERAGE J1",
    "remap_with_count": "COVERAGE J2, A13",
    "missing_namespaces": "COVERAGE J6, A10",
    "parse_robot_metrics": "COVERAGE A7",
    "tracking_to_versions": "COVERAGE P3, J7",
    "run_stats_job": "COVERAGE J5, J7",
    "save_bucketed": "SURVEY §4.4 bucketed-join contract (tests/test_plans.py)",
    "start_canonicalization_stream": (
        "COVERAGE §2.7; drives the tests of apply_epoch/read_assignment, "
        "which bench.py --registry-probe imports"
    ),
    "start_kg_pipeline_stream": "COVERAGE §2.7: the streaming sink of the per-batch body",
    "read_kg_edges": "COVERAGE §2.7: read side of start_kg_pipeline_stream",
}


def _py_files(path: Path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _parse(path: Path) -> ast.Module:
    tree = ast.parse(path.read_text(), str(path))
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                node.body = body[1:]
    return tree


def _names_used(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _top_level_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _package_defs() -> tuple[dict[str, list[ast.stmt]], set[str]]:
    """(name -> its top-level statements, names used by import-time code)."""
    defs: dict[str, list[ast.stmt]] = {}
    import_time: set[str] = set()
    for path in _py_files(PACKAGE):
        for stmt in _parse(path).body:
            names = _top_level_names(stmt)
            if names == ["__all__"] or isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if names:
                for name in names:
                    defs.setdefault(name, []).append(stmt)
            else:
                import_time |= _names_used(stmt)
    return defs, import_time


def _reached(defs: dict[str, list[ast.stmt]], roots: set[str]) -> set[str]:
    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for stmt in defs[name]:
            todo.extend(n for n in _names_used(stmt) if n in defs and n not in reached)
    return reached


def _entry_roots(import_time: set[str]) -> set[str]:
    roots = set(import_time)
    for root in ROOTS:
        for path in _py_files(REPO / root):
            roots |= _names_used(_parse(path))
    return roots


def test_every_package_name_is_reached_or_kept():
    defs, import_time = _package_defs()
    reached = _reached(defs, _entry_roots(import_time) | set(KEEP))
    dead = sorted(n for n in defs if n not in reached and not n.startswith("__"))
    assert not dead, (
        f"no entry point reaches {dead}: delete them with their tests, or add "
        "each to KEEP with the COVERAGE row or contract that needs it"
    )


def test_keep_list_holds_only_defined_otherwise_unreached_names():
    defs, import_time = _package_defs()
    reached = _reached(defs, _entry_roots(import_time))
    assert not sorted(set(KEEP) - set(defs)), "KEEP names a deleted name"
    assert not sorted(set(KEEP) & reached), "KEEP names a name an entry point reaches"
