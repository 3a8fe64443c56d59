"""Every module under pttcrawler_spark/ is reached from something that runs.

The roots are the entry points a crawl, a benchmark or the graded suite
starts from: the package's ``__main__``/``cli``/``submit``/``suite``, the
``__spark_entry__`` driver, ``bench.py``, perfbench and ``scripts/``. An
AST walk (nothing is imported) follows every ``import`` and ``from``
statement in a reached file, at module level or inside a function, absolute
or relative. A package module that no root reaches is dead code.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pttcrawler_spark"


def _roots() -> list[Path]:
    roots = [PKG / f"{m}.py" for m in ("__main__", "cli", "submit", "suite")]
    roots += [REPO / "__spark_entry__.py", REPO / "bench.py"]
    roots += [p for p in sorted((REPO / "perfbench").glob("*.py"))
              if p.name != "test_smoke.py"]
    roots += sorted((REPO / "scripts").glob("*.py"))
    return roots


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _package_of(path: Path) -> list[str]:
    """The dotted package a file's relative imports resolve against."""
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    return parts[:-1]


def _imported_modules(path: Path) -> set[str]:
    """Dotted names of the repo modules ``path`` imports, with the
    ``from X import y`` case resolved to ``X.y`` when ``y`` is a module."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(path)
                pkg = pkg[:len(pkg) - node.level + 1]
                base = ".".join(pkg + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            # `import a.b.c` also runs a/__init__ and a/b/__init__
            parts = name.split(".")
            found.update(".".join(parts[:i + 1]) for i in range(len(parts)))
    return {m for m in found if m and _module_file(m) is not None}


def _reached() -> set[Path]:
    todo = list(_roots())
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        todo.extend(_module_file(m) for m in _imported_modules(path))
    return seen


def test_every_package_module_is_reached():
    reached = _reached()
    unreached = sorted(
        str(p.relative_to(REPO)) for p in PKG.rglob("*.py")
        if p.name != "__init__.py" and p not in reached)
    assert unreached == []


def test_walk_follows_relative_and_function_level_imports():
    # crawl.py imports politeness with `from ..operators import ...` at
    # module level and migrate with `from . import migrate` inside crawl()
    mods = _imported_modules(PKG / "engine" / "crawl.py")
    assert {"pttcrawler_spark.operators.politeness",
            "pttcrawler_spark.engine.migrate"} <= mods
    # bench.py imports the engine only inside functions
    assert "pttcrawler_spark.engine.crawl" in _imported_modules(REPO / "bench.py")
