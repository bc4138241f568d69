"""Guards on how the harnesses, the scripts and the package reference
``kgforge``. A static scan: the files are parsed, never run.

- Every ``alias.attr`` whose alias names an imported ``kgforge`` module,
  and every name taken by ``from kgforge... import name``, must exist,
  so deleting a function cannot leave ``bench.py``, ``kgforge/gate.py``,
  ``perfbench/`` or a script calling something that is gone.
- Every public top-level function and class in ``kgforge/`` must be
  referenced from the package outside its own definition, or from
  ``bench.py``, ``__spark_entry__.py``, ``perfbench/`` or a script.
  Tests do not count. The names that are reached only from tests are
  listed in ``LIBRARY_ONLY``, each with its COVERAGE.md row or as a
  test oracle; code that mirrors no reference feature is deleted
  instead of listed."""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", ROOT / "kgforge" / "gate.py",
     *ROOT.glob("perfbench/*.py")]
)
PACKAGE = sorted(ROOT.glob("kgforge/**/*.py"))
CALLERS = sorted({*FILES, *PACKAGE, ROOT / "__spark_entry__.py"})

# Public names only tests reach, as ``module.name`` under ``kgforge``:
# the COVERAGE.md row that marks the name "library only, tested", or
# "test oracle" for a plain-Python replay the tests compare Spark with.
LIBRARY_ONLY = {
    "analysis.bom_name_summary": "AN",
    "analysis.change_analysis_summary": "AN",
    "connector.HttpNtriplesTransport": "K1",
    "connector.deliver_ntriples": "K1",
    "connector.deliver_cypher_batches": "K2",
    "datapipe.dedup.minhash_signatures": "test oracle",
    "datapipe.dedup.simhash64": "test oracle",
    "datapipe.similarity.embedding_near_dups_exact": "test oracle",
    "normalize.normalize_part_number_py": "test oracle",
    "reports.write_reports": "K4",
    "resume.read_triples": "K2",
    "sources.change_affects_links": "S9",
    "sources.read_api_pages": "S9",
    "sources.read_excel_changes": "S9",
}
# decorators that hand the function to a registry (the gate's)
REGISTRATIONS = {"_register"}


def _resolve(module: str, name: str):
    """``module.name`` as an attribute or a submodule, else None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _references(tree: ast.AST) -> list[tuple[int, str, str, str, object]]:
    """Every kgforge reference in one parsed file, as ``(line, ref,
    module, name, resolved)``; ``resolved`` is None when the name is
    missing. Names taken by ``from ... import`` come first, then
    attribute uses."""
    aliases: dict[str, str] = {}  # local name -> kgforge module name
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "kgforge":
                    # ``import kgforge.x`` binds ``kgforge``; ``as y`` binds the module
                    aliases[a.asname or "kgforge"] = a.name if a.asname else "kgforge"
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "kgforge":
            for a in node.names:
                obj = _resolve(node.module, a.name)
                refs.append(
                    (node.lineno, f"from {node.module} import {a.name}", node.module, a.name, obj)
                )
                if isinstance(obj, types.ModuleType):
                    aliases[a.asname or a.name] = obj.__name__

    def module_of(expr) -> str | None:
        if isinstance(expr, ast.Name):
            return aliases.get(expr.id)
        if isinstance(expr, ast.Attribute):
            parent = module_of(expr.value)
            if parent is not None:
                obj = _resolve(parent, expr.attr)
                if isinstance(obj, types.ModuleType):
                    return obj.__name__
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            module = module_of(node.value)
            if module is not None:
                obj = _resolve(module, node.attr)
                refs.append((node.lineno, f"{module}.{node.attr}", module, node.attr, obj))
    return refs


def _unresolved(tree: ast.AST) -> list[str]:
    """Missing kgforge references in one parsed file, as ``line: ref``."""
    return [f"{line}: {ref}" for line, ref, _, _, obj in _references(tree) if obj is None]


def _public_defs(tree: ast.Module) -> set[str]:
    """Public top-level functions and classes, less registered ones."""
    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
        and not any(
            isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id in REGISTRATIONS
            for d in node.decorator_list
        )
    }


def _own_uses(tree: ast.Module) -> set[str]:
    """Bare names a module uses, a definition's use of its own name
    (recursion) excepted."""
    used = set()
    for top in tree.body:
        own = getattr(top, "name", None)
        used |= {n.id for n in ast.walk(top) if isinstance(n, ast.Name) and n.id != own}
    return used


def _unreached(package: dict[str, ast.Module], callers: list[ast.AST]) -> list[str]:
    """Public definitions of ``package`` (module name -> tree) that no
    caller names and their own module does not use, as ``module.name``
    with the ``kgforge.`` prefix dropped."""
    reached = {(module, name) for tree in callers for _, _, module, name, _ in _references(tree)}
    for module, tree in package.items():
        reached |= {(module, name) for name in _own_uses(tree)}
    return sorted(
        f"{module.removeprefix('kgforge.')}.{name}"
        for module, tree in package.items()
        for name in _public_defs(tree)
        if (module, name) not in reached
    )


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def test_harness_and_script_references_resolve():
    assert len(FILES) > 5
    missing = []
    for path in FILES:
        rel = path.relative_to(ROOT).as_posix()
        missing += [f"{rel}:{m}" for m in _unresolved(_parse(path))]
    assert not missing, f"references to missing kgforge names: {missing}"


def test_scan_flags_missing_names_in_every_form():
    src = (
        "import kgforge.graph as g\n"
        "from kgforge import graph\n"
        "from kgforge.datapipe import dedup as dd\n"
        "import kgforge\n"
        "from kgforge.graph import no_such_import\n"
        "g.connected_components\n"
        "g.no_such_alias\n"
        "graph.no_such_from\n"
        "dd.no_such_datapipe\n"
        "kgforge.graph.no_such_chain\n"
    )
    got = _unresolved(ast.parse(src))
    assert got == [
        "5: from kgforge.graph import no_such_import",
        "7: kgforge.graph.no_such_alias",
        "8: kgforge.graph.no_such_from",
        "9: kgforge.datapipe.dedup.no_such_datapipe",
        "10: kgforge.graph.no_such_chain",
    ]


def test_every_public_name_is_reached():
    package = {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__"): _parse(p)
        for p in PACKAGE
    }
    unreached = set(_unreached(package, [_parse(p) for p in CALLERS]))
    unlisted = sorted(unreached - LIBRARY_ONLY.keys())
    assert not unlisted, (
        f"public names no program file reaches: {unlisted}; give each a caller, "
        "list it in LIBRARY_ONLY with its COVERAGE row, or delete it"
    )
    stale = sorted(LIBRARY_ONLY.keys() - unreached)
    assert not stale, f"LIBRARY_ONLY entries that are reached or gone: {stale}"
    rows = {
        line.split("|")[1].strip(): line
        for line in (ROOT / "COVERAGE.md").read_text().splitlines()
        if line.startswith("| ")
    }
    unmarked = [
        f"{name} -> {why}"
        for name, why in LIBRARY_ONLY.items()
        if why != "test oracle" and "library only, tested" not in rows.get(why, "")
    ]
    assert not unmarked, f"COVERAGE rows missing or not marked 'library only, tested': {unmarked}"


def test_reach_scan_flags_the_unreached_name():
    planted = ast.parse(
        "def planted_unreached():\n"
        "    return planted_unreached()\n"  # recursion is not a caller
        "def planted_reached():\n"
        "    pass\n"
        "def planted_helper():\n"
        "    pass\n"
        "def _planted_private():\n"
        "    pass\n"
        "@_register('planted', None)\n"
        "def planted_registered():\n"
        "    return planted_helper()\n"
    )
    caller = ast.parse("from kgforge import graph\ngraph.planted_reached\n")
    assert _unreached({"kgforge.graph": planted}, [planted, caller]) == [
        "graph.planted_unreached"
    ]
    assert _unreached({"kgforge.graph": planted}, [planted]) == [
        "graph.planted_reached", "graph.planted_unreached"
    ]
