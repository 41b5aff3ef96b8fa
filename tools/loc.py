"""Line counts per Python file, split by kind.

    python tools/loc.py polars_quant_spark/operators/segmented.py [more.py ...]
    python tools/loc.py polars_quant_spark

Prints total, code, docstring, comment-only and blank lines per file (and a
TOTAL row for several files). A directory stands for its ``*.py`` files,
recursively, in sorted order. A line belongs to the first kind that claims
it: docstring (any line of a statement that is a bare string literal, as
the AST sees it), blank, comment-only (``#`` after indentation), else code.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path


def count(path: str) -> tuple[int, int, int, int, int]:
    src = open(path, encoding="utf-8").read()
    lines = src.splitlines()
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant) \
                and isinstance(node.value.value, str):
            doc.update(range(node.lineno, node.end_lineno + 1))
    blank = sum(1 for i, s in enumerate(lines, 1) if i not in doc and not s.strip())
    comment = sum(1 for i, s in enumerate(lines, 1) if i not in doc and s.strip().startswith("#"))
    code = len(lines) - len(doc) - blank - comment
    return len(lines), code, len(doc), comment, blank


def expand(args: list[str]) -> list[str]:
    """The files ``args`` name: a directory expands to its ``*.py`` files."""
    out: list[str] = []
    for a in args:
        d = Path(a)
        out += sorted(str(f) for f in d.rglob("*.py")) if d.is_dir() else [a]
    return out


if __name__ == "__main__":
    rows = [(p, count(p)) for p in expand(sys.argv[1:])]
    if len(rows) > 1:
        rows.append(("TOTAL", tuple(map(sum, zip(*(c for _, c in rows))))))
    print(f"{'total':>7} {'code':>7} {'doc':>7} {'comment':>7} {'blank':>7}  file")
    for path, c in rows:
        print(" ".join(f"{v:>7}" for v in c), "", path)
