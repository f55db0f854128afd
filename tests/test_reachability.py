"""Reachability guard: no package code that only tests reach.

Every public top-level function, class or constant in ``studiocr_spark/``
must be reached from production code, or be listed in ``ALLOWED`` with
its reason. The roots are the production files outside the package
(``jobs/``, ``tools/``, ``perfbench/``, ``__spark_entry__.py`` and
``bench.py``) and the package's module-level statements other than
definitions and imports; ``tests/`` does not count. A top-level package
definition, public or ``_private``, is reached when a root or a reached
definition references it, so a definition that only an ``ALLOWED`` one
calls is still reported: ``ALLOWED`` entries are not roots. For a
function or class a reference is an AST name, attribute or import
alias, so docstrings and comments never count, and neither does a
definition's use of its own name (recursion). A constant (an
``Assign``/``AnnAssign`` target) is reached only by a name or attribute
that loads it, so neither its own assignment nor a bare import counts;
a reached constant reaches what its value references. Names match by
their bare spelling: a dead definition that shares its name with a
live one passes, so the guard is a floor, not a proof.

The parameter check closes a blind spot of the reference check: a branch,
a dial or a column name behind a parameter default. A parameter of a
public top-level package function whose default is a literal (``None``,
a bool, a number or a string) must take at least two different values
across production call sites, or be listed in ``KNOBS_ALLOWED`` with its
reason; a dial production sets one way is a module constant, and a
column name, separator or salt is the literal where it is read. An
omitted argument counts as its default, a constant argument (a string
too) as its value, a non-literal argument (a variable, a ``**kwargs``
spread) as a second value, and a call through ``from ... import f as
g`` resolves to ``f``. A function is matched by its bare name, and one never called
from production (a dispatch-table entry, say) takes only its defaults.
Functions in ``ALLOWED`` are skipped.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "studiocr_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# "<module path under studiocr_spark/>::<name>" -> why it stays although
# no production path reaches it
ALLOWED = {
    "operators/boilerplate.py::extract_main_text": (
        "scalar main-text form of strip_boilerplate, pinned by "
        "test_boilerplate::test_classification_and_main_text"
    ),
    "operators/dedup.py::word_shingles": (
        "reference spec for "
        "test_dedup_pairs::test_arrow_shingles_match_expression_on_edge_cases"
    ),
    "operators/extract.py::quarantine": "SURVEY §2 S3",
    "operators/similarity.py::hyperplane_signature": (
        "reference spec for test_similarity::test_signature_forms_agree"
    ),
    "plans/explain.py::has_broadcast_join": "plan-pin helper of test_plans",
    "plans/explain.py::read_schemas": "plan-pin helper of test_plans",
    "sources/catalog.py::ICEBERG_DDL": "part of the jar-gated Iceberg path",
    "sources/catalog.py::IcebergCatalog": (
        "SURVEY §2 S5/S9 Iceberg commit path, gated on the runtime jar"
    ),
    "sources/catalog.py::iceberg_available": (
        "part of the jar-gated Iceberg path"
    ),
}

# "<module path>::<function>(<parameter>)" -> why a parameter with a
# literal default stays although production gives it a single value
KNOBS_ALLOWED = {
    "session.py::build_pyfiles_zip(dest)": (
        "deployment path: writes the zip that spark-submit --py-files ships"
    ),
    "operators/search.py::global_search(documents)": (
        "the reference's empty query lists every document, "
        "ListDocuments.py:210-212"
    ),
    "operators/search.py::global_search_indexed(documents)": (
        "the reference's empty query lists every document, "
        "ListDocuments.py:210-212"
    ),
    "operators/search.py::in_doc_search(case_sensitive)": (
        "DocWindow.py:357-360, oracle-tested by test_search"
    ),
    "streaming/incremental.py::run_checkpointed_extract(fail_after_buckets)": (
        "the crash-injection hook of the resume tests"
    ),
    "sources/decode.py::tesseract_decode(best)": (
        "the reference's OcrEngine surface; the native libraries are "
        "absent and get_decoder passes no options"
    ),
    "sources/decode.py::tesseract_decode(preprocessing)": (
        "the reference's OcrEngine surface; the native libraries are "
        "absent and get_decoder passes no options"
    ),
    "sources/decode.py::tesseract_decode(tessdata_root)": (
        "the reference's OcrEngine surface; the native libraries are "
        "absent and get_decoder passes no options"
    ),
    "sources/decode.py::tesseract_decode(oem)": (
        "the reference's OcrEngine surface, validated as in "
        "OcrEngine.py:35-44; get_decoder passes no options"
    ),
    "sources/decode.py::tesseract_decode(psm)": (
        "the reference's OcrEngine surface, validated as in "
        "OcrEngine.py:35-44; get_decoder passes no options"
    ),
}


def _production_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    for d in ("jobs", "tools", "perfbench"):
        files += sorted((ROOT / d).glob("*.py"))
    return files + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]


def _names(node: ast.AST, own: str | None = None) -> tuple[set, set]:
    """(references, loads) of the bare names under ``node``: every name,
    attribute and import alias, and the Load-context names and
    attributes among them. ``own`` is skipped, so recursion does not
    count."""
    refs: set[str] = set()
    loads: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            name, load = n.id, isinstance(n.ctx, ast.Load)
        elif isinstance(n, ast.Attribute):
            name, load = n.attr, isinstance(n.ctx, ast.Load)
        elif isinstance(n, ast.alias):
            name, load = n.name.rsplit(".", 1)[-1], False
        else:
            continue
        if name != own:
            refs.add(name)
            if load:
                loads.add(name)
    return refs, loads


def _graph(package: dict[str, ast.Module]):
    """The top-level definitions of ``package`` as nodes
    ``"<module>::<name>" -> (name, is_constant, (references, loads))``,
    and the (references, loads) of each other module-level statement,
    imports aside: those statements are roots."""
    nodes: dict[str, tuple[str, bool, tuple[set, set]]] = {}
    roots: list[tuple[set, set]] = []
    for mod, tree in package.items():
        for top in tree.body:
            if isinstance(top, DEFS):
                nodes[f"{mod}::{top.name}"] = (
                    top.name, False, _names(top, top.name)
                )
            elif isinstance(top, (ast.Assign, ast.AnnAssign)):
                targets = getattr(top, "targets", None) or [top.target]
                for target in targets:
                    for n in ast.walk(target):
                        if isinstance(n, ast.Name):
                            edges = (
                                _names(top.value, n.id)
                                if top.value is not None
                                else (set(), set())
                            )
                            nodes[f"{mod}::{n.id}"] = (n.id, True, edges)
            elif not isinstance(top, (ast.Import, ast.ImportFrom)):
                roots.append(_names(top))
    return nodes, roots


def _unreached_in(
    package: dict[str, ast.Module], roots: list[ast.Module]
) -> set[str]:
    """Public top-level definitions of ``package`` that no root reaches.

    A definition is reached when a root, or a reached definition,
    references it by its bare name: a function or class by any
    reference, a constant only by a name or attribute that loads it.
    """
    nodes, pending = _graph(package)
    pending += [_names(tree) for tree in roots]
    reached: set[str] = set()
    while pending:
        refs, loads = pending.pop()
        for key, (name, is_constant, edges) in nodes.items():
            if key not in reached and name in (loads if is_constant else refs):
                reached.add(key)
                pending.append(edges)
    return {
        key
        for key, (name, _, _) in nodes.items()
        if key not in reached and not name.startswith("_")
    }


@functools.cache
def _package() -> dict[str, ast.Module]:
    return {
        path.relative_to(PKG).as_posix(): ast.parse(path.read_text())
        for path in sorted(PKG.rglob("*.py"))
    }


@functools.cache
def _unreached() -> frozenset[str]:
    roots = [
        ast.parse(path.read_text())
        for path in _production_files()
        if not path.is_relative_to(PKG)
    ]
    return frozenset(_unreached_in(_package(), roots))


def test_every_public_definition_is_reached_or_allowlisted():
    missing = sorted(_unreached() - ALLOWED.keys())
    assert not missing, (
        "no production path references these; call them from production, "
        f"delete them, or allowlist them with a reason: {missing}"
    )


def test_allowlist_is_current():
    nodes, _ = _graph(_package())
    unreached = _unreached()
    gone = sorted(k for k in ALLOWED if k not in nodes)
    reached = sorted(k for k in ALLOWED if k in nodes and k not in unreached)
    assert not gone, f"allowlisted but no longer defined: {gone}"
    assert not reached, f"allowlisted but now reached from production: {reached}"
    assert all(reason.strip() for reason in ALLOWED.values())


def test_reach_follows_calls_from_roots_only():
    """A chain from a root is reached; a definition that only an
    allowlisted (unreached) one calls is reported; a definition that
    only calls itself is reported."""
    package = {
        "m.py": ast.parse(
            "LIMIT = 3\n"
            "def entry():\n    return helper()\n"
            "def helper():\n    return _inner(LIMIT)\n"
            "def _inner(n):\n    return n\n"
            "def allowed():\n    return only_from_allowed()\n"
            "def only_from_allowed():\n    return 1\n"
            "def recursive(n):\n    return recursive(n - 1)\n"
        )
    }
    roots = [ast.parse("from pkg.m import entry\nentry()\n")]
    assert _unreached_in(package, roots) - {"m.py::allowed"} == {
        "m.py::only_from_allowed",
        "m.py::recursive",
    }


_NON_LITERAL = object()


def _literal(node: ast.AST):
    """The value of a ``None``/bool/number/string literal (a negated
    number included), else ``_NON_LITERAL``."""
    if (
        isinstance(node, ast.UnaryOp)
        and isinstance(node.op, ast.USub)
        and isinstance(node.operand, ast.Constant)
        and type(node.operand.value) in (int, float)
    ):
        return -node.operand.value
    if isinstance(node, ast.Constant) and (
        node.value is None or type(node.value) in (bool, int, float, str)
    ):
        return node.value
    return _NON_LITERAL


@functools.cache
def _production_calls() -> dict[str, list[ast.Call]]:
    """Bare callee name -> every production call of it, with
    ``from ... import f as g`` aliases resolved to ``f``."""
    calls: dict[str, list[ast.Call]] = {}
    for path in _production_files():
        tree = ast.parse(path.read_text())
        aliases = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                called = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(aliases.get(called, called), []).append(node)
    return calls


def _switch_params() -> dict[str, tuple[str, list[str], dict]]:
    """"<module>::<function>" -> (name, positional parameter names,
    {parameter: default}) for every public top-level function with a
    literal default, ``ALLOWED`` ones aside."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            key = f"{mod}::{node.name}"
            if node.name.startswith("_") or key in ALLOWED:
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            with_default = positional[len(positional) - len(a.defaults):]
            pairs = list(zip(with_default, a.defaults))
            pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            switches = {
                p.arg: _literal(d)
                for p, d in pairs
                if _literal(d) is not _NON_LITERAL
            }
            if switches:
                out[key] = (node.name, [p.arg for p in positional], switches)
    return out


def _call_values(
    calls: list[ast.Call], positional: list[str], params
) -> dict[str, set]:
    """Values each of ``params`` takes across ``calls``: a constant's
    value (a string too), a negated number's, ``_NON_LITERAL`` for
    anything else, the default when the argument is omitted."""
    values = {p: set() for p in params}
    for node in calls:
        passed: dict[str, ast.AST | None] = {}
        for i, arg in enumerate(node.args):
            if isinstance(arg, ast.Starred):
                passed.update({p: None for p in positional[i:]})
                break
            if i < len(positional):
                passed[positional[i]] = arg
        for kw in node.keywords:
            if kw.arg is None:  # **kwargs
                passed.update({p: None for p in params if p not in passed})
            else:
                passed[kw.arg] = kw.value
        for p, default in params.items():
            if p not in passed:
                values[p].add(default)
            elif passed[p] is None:
                values[p].add(_NON_LITERAL)
            elif isinstance(passed[p], ast.Constant):
                values[p].add(passed[p].value)
            else:
                values[p].add(_literal(passed[p]))
    return values


def _single_valued(
    calls: list[ast.Call], positional: list[str], params
) -> list[str]:
    """The ``params`` that ``calls`` give a single literal value (the
    default included)."""
    return [
        p
        for p, seen in _call_values(calls, positional, params).items()
        if _NON_LITERAL not in seen and len(seen) < 2
    ]


def _fixed_switches() -> set[str]:
    """"<module>::<function>(<parameter>)" for every parameter with a
    literal default that production gives a single literal value (its
    default included)."""
    return {
        f"{key}({p})"
        for key, (name, positional, params) in _switch_params().items()
        for p in _single_valued(
            _production_calls().get(name, []), positional, params
        )
    }


def test_one_literal_value_is_reported_whatever_its_type():
    """A parameter that every call sets to one constant is single-valued,
    a string constant included, whatever literal type its default has;
    a second value or a non-literal argument clears it."""
    params = {"mode": None, "n": 2, "col": "text"}

    def single(src: str) -> list[str]:
        calls = [
            n for n in ast.walk(ast.parse(src)) if isinstance(n, ast.Call)
        ]
        return _single_valued(calls, ["mode", "n", "col"], params)

    assert _literal(ast.parse('"text"').body[0].value) == "text"
    assert single('f(mode="a")\nf("a", n=2)') == ["mode", "n", "col"]
    assert single('f(mode="a", n=-1, col="url")\nf(mode="b", n=-1)') == [
        "n"
    ]
    assert single('f(mode=m, n=3, col="text")\nf(col=c)') == []


def test_every_switch_takes_two_values_or_is_allowlisted():
    fixed = sorted(_fixed_switches() - KNOBS_ALLOWED.keys())
    assert not fixed, (
        "production gives these parameters one value only; delete the "
        "parameter and the path it selects (a dial becomes a module "
        "constant, a column name a literal), or allowlist it with a "
        f"reason: {fixed}"
    )


def test_switch_allowlist_is_current():
    fixed = _fixed_switches()
    stale = sorted(k for k in KNOBS_ALLOWED if k not in fixed)
    assert not stale, f"allowlisted but not a one-value switch: {stale}"
    assert all(reason.strip() for reason in KNOBS_ALLOWED.values())
