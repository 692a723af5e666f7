"""Knob tripwire: the environment variables the engine package,
bench.py and tools/*.py read are an explicit allow-list.  A new knob
has to be added here deliberately, together with the measurement that
justifies it; prefer deleting a knob to adding one."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_UI",
    "SPARK_MASTER",
    "SPARK_SUBMIT_DEPLOY_MODE",
}


def _named(node: ast.AST, name: str) -> bool:
    # os.environ / os.getenv, or the bare name after `from os import`
    return (isinstance(node, ast.Attribute) and node.attr == name) or (
        isinstance(node, ast.Name) and node.id == name
    )


def _key(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<non-literal key>"


def env_reads(source: str) -> set[str]:
    """Every environment key ``source`` reads through
    ``os.environ.<method>(key)``, ``os.environ[key]``,
    ``key in os.environ`` or ``os.getenv(key)``."""
    keys: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call):
            f = node.func
            if _named(f, "getenv") or (
                isinstance(f, ast.Attribute) and _named(f.value, "environ")
            ):
                keys.add(_key(node.args[0] if node.args else None))
        elif isinstance(node, ast.Subscript) and _named(node.value, "environ"):
            keys.add(_key(node.slice))
        elif isinstance(node, ast.Compare) and any(
            _named(c, "environ") for c in node.comparators
        ):
            keys.add(_key(node.left))
    return keys


def test_env_knobs_match_allow_list():
    # the scanner itself must see every read form
    src = (
        "import os\n"
        "from os import environ\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = 'C' in os.environ\n"
        "d = os.getenv('D')\n"
        "e = environ.get(name)\n"
    )
    assert env_reads(src) == {"A", "B", "C", "D", "<non-literal key>"}

    package = sorted((ROOT / "distributed_system_spark").rglob("*.py"))
    tools = sorted((ROOT / "tools").glob("*.py"))
    files = [ROOT / "bench.py", *package, *tools]
    by_file = {
        str(p.relative_to(ROOT)): env_reads(p.read_text()) for p in files
    }
    read = set().union(*by_file.values())
    assert read == ALLOWED, {
        "unlisted": {
            f: sorted(k - ALLOWED) for f, k in by_file.items() if k - ALLOWED
        },
        "listed but never read": sorted(ALLOWED - read),
    }
