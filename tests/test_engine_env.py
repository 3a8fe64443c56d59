"""The engine's behaviour is set by its arguments, not by the environment:
no module under pttcrawler_spark/engine/ reads a SPARK_GRAFT_* variable."""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "pttcrawler_spark" / "engine"


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _env_reads(tree: ast.AST):
    """(line, name) of every os.environ[...] / os.environ.get(...) /
    os.getenv(...) whose key is a string literal."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr == "get"
                    and _is_environ(f.value)) or (
                    isinstance(f, ast.Attribute) and f.attr == "getenv"
                    and isinstance(f.value, ast.Name) and f.value.id == "os"):
                key = node.args[0]
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield node.lineno, key.value


def test_env_reader_finds_reads():
    src = ('import os\nos.environ.get("SPARK_GRAFT_A")\n'
           'os.environ["SPARK_GRAFT_B"]\nos.getenv("SPARK_GRAFT_C", "1")\n')
    assert [n for _, n in sorted(_env_reads(ast.parse(src)))] == [
        "SPARK_GRAFT_A", "SPARK_GRAFT_B", "SPARK_GRAFT_C"]


def test_engine_reads_no_spark_graft_env():
    found = [
        f"{p.name}:{line}: {name}"
        for p in sorted(ENGINE.glob("*.py"))
        for line, name in _env_reads(ast.parse(p.read_text(encoding="utf-8")))
        if name.startswith("SPARK_GRAFT_")
    ]
    assert not found, found
