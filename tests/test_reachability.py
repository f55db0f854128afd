"""Reachability guard: no package code that only tests reach.

Every public top-level function, class or constant in ``studiocr_spark/``
must be referenced from production code, or be listed in ``ALLOWED``
with its reason. Production is the package itself, ``jobs/``,
``tools/``, ``perfbench/``, ``__spark_entry__.py`` and ``bench.py``;
``tests/`` does not count. For a function or class a reference is an
AST name, attribute or import alias, so docstrings and comments never
count, and neither does a definition's use of its own name (recursion).
A constant (an ``Assign``/``AnnAssign`` target) is reached only by a
name or attribute that loads it, so neither its own assignment nor a
bare import counts. Names match by their bare spelling: a dead
definition that shares its name with a live one passes, so the guard
is a floor, not a proof.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "studiocr_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# "<module path under studiocr_spark/>::<name>" -> why it stays although
# no production path reaches it
ALLOWED = {
    "functions/imagepipeline.py::apply_pipeline": "SURVEY §2 U9",
    "operators/boilerplate.py::extract_main_text": (
        "scalar main-text form of strip_boilerplate, pinned by "
        "test_boilerplate::test_classification_and_main_text"
    ),
    "operators/dedup.py::word_shingles": (
        "reference spec for "
        "test_dedup_pairs::test_arrow_shingles_match_expression_on_edge_cases"
    ),
    "operators/export.py::export_document": "SURVEY §2 S7",
    "operators/export.py::grid_search_eval": "SURVEY §2 A10",
    "operators/extract.py::quarantine": "SURVEY §2 S3",
    "operators/lifecycle.py::dedup_manifest": "SURVEY §2 D4",
    "operators/lifecycle.py::delete_document": "SURVEY §2 D1",
    "operators/lifecycle.py::rename_document": "SURVEY §2 D2",
    "operators/lifecycle.py::renumber_pages": "SURVEY §2 W1/W2, D3",
    "operators/lifecycle.py::resolve_unique_names": "SURVEY §2 J6",
    "operators/search.py::first_page_per_doc": "SURVEY §2 S8/W6",
    "operators/search.py::matched_page_navigation": "SURVEY §2 W4/W5",
    "operators/similarity.py::hyperplane_signature": (
        "reference spec for test_similarity::test_signature_forms_agree"
    ),
    "plans/explain.py::has_broadcast_join": "plan-pin helper of test_plans",
    "plans/explain.py::read_schemas": "plan-pin helper of test_plans",
    "sources/catalog.py::IcebergCatalog": (
        "SURVEY §2 S5/S9 Iceberg commit path, gated on the runtime jar"
    ),
}


def _production_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    for d in ("jobs", "tools", "perfbench"):
        files += sorted((ROOT / d).glob("*.py"))
    return files + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def _public_defs() -> dict[str, str]:
    """"<module>::<name>" -> name for every public top-level def/class."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, DEFS) and not node.name.startswith("_"):
                out[f"{mod}::{node.name}"] = node.name
    return out


def _public_constants() -> dict[str, str]:
    """"<module>::<NAME>" -> NAME for every public module-level
    assignment target."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name) and not name.id.startswith("_"):
                        out[f"{mod}::{name.id}"] = name.id
    return out


def _loaded() -> set[str]:
    """Bare names that production loads (Load-context names and
    attributes)."""
    loads: set[str] = set()
    for path in _production_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                loads.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(
                node.ctx, ast.Load
            ):
                loads.add(node.attr)
    return loads


def _referenced() -> set[str]:
    """Bare names referenced from production. Inside a top-level package
    definition its own name is skipped, so recursion does not count."""
    refs: set[str] = set()
    for path in _production_files():
        in_pkg = path.is_relative_to(PKG)
        for top in ast.parse(path.read_text()).body:
            own = top.name if in_pkg and isinstance(top, DEFS) else None
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                elif isinstance(node, ast.alias):
                    name = node.name.rsplit(".", 1)[-1]
                else:
                    continue
                if name != own:
                    refs.add(name)
    return refs


def _unreached() -> set[str]:
    refs, loads = _referenced(), _loaded()
    return {
        key for key, name in _public_defs().items() if name not in refs
    } | {key for key, name in _public_constants().items() if name not in loads}


def test_every_public_definition_is_reached_or_allowlisted():
    missing = sorted(_unreached() - ALLOWED.keys())
    assert not missing, (
        "no production path references these; call them from production, "
        f"delete them, or allowlist them with a reason: {missing}"
    )


def test_allowlist_is_current():
    defs = _public_defs() | _public_constants()
    unreached = _unreached()
    gone = sorted(k for k in ALLOWED if k not in defs)
    reached = sorted(k for k in ALLOWED if k in defs and k not in unreached)
    assert not gone, f"allowlisted but no longer defined: {gone}"
    assert not reached, f"allowlisted but now reached from production: {reached}"
    assert all(reason.strip() for reason in ALLOWED.values())
