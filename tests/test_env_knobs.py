"""Guard: the only env-var knobs are the deployment settings read by
``kgforge/session.py`` (cores, driver memory, local dir). An operator
that wants a tunable takes it as an argument from its caller, so no
module elsewhere may read the process environment."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "kgforge"
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}
ALLOWED = {"session.py"}


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ENV_NAMES:
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ENV_NAMES for a in node.names):
                lines.append(node.lineno)
    return sorted(lines)


def test_only_session_reads_the_environment():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in ALLOWED:
            continue
        for line in _env_reads(ast.parse(path.read_text(), filename=str(path))):
            offenders.append(f"kgforge/{rel}:{line}")
    assert not offenders, f"env reads outside session.py: {offenders}"


def test_guard_flags_every_env_read_form():
    src = (
        "import os\n"
        "from os import getenv\n"
        "a = os.environ.get('X')\n"
        "b = os.getenv('Y')\n"
        "c = __import__('os').environ['Z']\n"
    )
    assert _env_reads(ast.parse(src)) == [2, 3, 4, 5]
