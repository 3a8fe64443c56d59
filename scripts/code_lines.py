"""Count code lines per module and in total.

A code line is a physical line that holds at least one token other than a
comment, a newline or indentation, and is not part of a module, class or
function docstring. Blank lines, comment-only lines and docstrings are not
code; a line that carries code and a trailing comment is.

Usage: python scripts/code_lines.py [path ...]   (default: pttcrawler_spark)
Prints "<lines> <file>" for each .py file under each path, then
"<lines> total".
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(ln for ln in range(tok.start[0], tok.end[0] + 1)
                         if ln not in docs)
    return len(lines)


def main(paths: list[str]) -> None:
    total = 0
    for root in map(Path, paths or ["pttcrawler_spark"]):
        files = [root] if root.is_file() else sorted(root.rglob("*.py"))
        for f in files:
            n = code_lines(f.read_text(encoding="utf-8"))
            total += n
            print(f"{n:6d} {f}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
