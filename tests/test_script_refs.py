"""Guard: the benchmark harnesses and scripts still resolve against the
package. Every ``alias.attr`` whose alias names an imported ``kgforge``
module, and every name taken by ``from kgforge... import name``, must
exist — so deleting a function cannot leave ``bench.py``,
``kgforge/gate.py``, ``perfbench/`` or a script calling something that
is gone. A static scan: the files are parsed, never run."""

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


def _resolve(module: str, name: str):
    """``module.name`` as an attribute or a submodule, else None."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _unresolved(tree: ast.AST) -> list[str]:
    """Missing kgforge references in one parsed file, as ``line: ref``."""
    aliases: dict[str, str] = {}  # local name -> kgforge module name
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "kgforge":
                    # ``import kgforge.x`` binds ``kgforge``; ``as y`` binds the module
                    aliases[a.asname or "kgforge"] = a.name if a.asname else "kgforge"
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "kgforge":
            for a in node.names:
                obj = _resolve(node.module, a.name)
                if obj is None:
                    missing.append(f"{node.lineno}: from {node.module} import {a.name}")
                elif isinstance(obj, types.ModuleType):
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
            if module is not None and _resolve(module, node.attr) is None:
                missing.append(f"{node.lineno}: {module}.{node.attr}")
    return missing


def test_harness_and_script_references_resolve():
    assert len(FILES) > 5
    missing = []
    for path in FILES:
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        missing += [f"{rel}:{m}" for m in _unresolved(tree)]
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
