"""Build-once artifacts go through registry.derived_dir.

A module-level `dict[str, str]` that starts empty and fills at run time
is the shape of a hand-rolled path memo (sf_dir → built path): it keys
on the path instead of the source's content and has no partial-build
gate. A new one in iceberg_query_engine_spark/ fails here; derived_dir
owns the path, the content key and the completion sentinel. (Constant
tables such as the suites' ORACLE SQL maps are non-empty literals.)
"""

from __future__ import annotations

import ast
import pathlib

import iceberg_query_engine_spark


def _str_str_memos(tree: ast.Module) -> list[str]:
    """Names bound at module level to an empty `dict[str, str]`."""
    out = []
    for node in tree.body:
        if (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.target, ast.Name)
            and ast.unparse(node.annotation).replace(" ", "") == "dict[str,str]"
            and ast.unparse(node.value) in ("{}", "dict()")
        ):
            out.append(node.target.id)
    return out


def test_no_module_level_path_memos():
    root = pathlib.Path(iceberg_query_engine_spark.__file__).parent
    found = [
        f"{path.relative_to(root)}:{name}"
        for path in sorted(root.rglob("*.py"))
        for name in _str_str_memos(ast.parse(path.read_text(), str(path)))
    ]
    assert found == [], f"use registry.derived_dir instead of {found}"


def test_scanner_sees_a_path_memo():
    src = (
        "_CACHE: dict[str, str] = {}\n"
        "_MEMO: dict[str, str] = dict()\n"
        "ORACLE: dict[str, str] = {'q1': 'SELECT 1'}\n"
        "_OK: dict[tuple[int, str], str] = {}\n"
        "def f():\n"
        "    local: dict[str, str] = {}\n"
    )
    assert _str_str_memos(ast.parse(src)) == ["_CACHE", "_MEMO"]
