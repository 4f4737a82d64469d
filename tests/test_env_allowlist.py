"""The library reads only deployment settings from the environment.

Every `os.environ`/`os.getenv` read in iceberg_query_engine_spark/ must
name a variable on the deployment allowlist. Thresholds and gates are
module constants (tests override them with monkeypatch.setattr), so a
new environment knob fails here instead of growing unnoticed.
"""

from __future__ import annotations

import ast
import pathlib

import iceberg_query_engine_spark

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_WAREHOUSE"}


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST) -> list[ast.AST]:
    """The key expression of every environment read in a module."""
    keys: list[ast.AST] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.append(node.slice)  # os.environ["X"]
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if _is_environ(f.value) or (  # os.environ.get / setdefault / pop
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                keys.append(node.args[0] if node.args else f)
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            keys.append(node.left)  # "X" in os.environ
    return keys


def _names(keys: list[ast.AST]) -> set[str]:
    out = set()
    for k in keys:
        assert isinstance(k, ast.Constant) and isinstance(k.value, str), (
            f"environment read with a non-literal key at line {k.lineno}"
        )
        out.add(k.value)
    return out


def test_env_reads_are_deployment_allowlist():
    root = pathlib.Path(iceberg_query_engine_spark.__file__).parent
    found: set[str] = set()
    for path in sorted(root.rglob("*.py")):
        found |= _names(_env_reads(ast.parse(path.read_text(), str(path))))
    assert found == ALLOWED


def test_scanner_sees_every_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C', '1')\n"
        "d = 'D' in os.environ\n"
    )
    assert _names(_env_reads(ast.parse(src))) == {"A", "B", "C", "D"}
