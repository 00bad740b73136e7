#!/usr/bin/env python
"""Count code lines of Python files: lines holding at least one token that
is not a comment, with docstrings excluded.

A docstring is a string-literal expression statement that opens a module,
class or function body; every line it spans is left out. Blank lines,
comment-only lines and the lines of a docstring do not count; a line that
holds code and a trailing comment does.

Usage: python scripts/count_code_lines.py PATH [PATH ...]
Each PATH is a ``.py`` file or a directory searched recursively. Prints one
line per file (count, path), then the total over all files.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_code_lines(source: str) -> int:
    """Number of lines of ``source`` that hold a non-comment token outside
    a docstring."""
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        for line in range(tok.start[0], tok.end[0] + 1):
            if line not in doc:
                code.add(line)
    return len(code)


def _files(paths: list[str]) -> list[Path]:
    out: list[Path] = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().split("\n\n")[-2], file=sys.stderr)
        return 2
    total = 0
    for f in _files(argv):
        n = count_code_lines(f.read_text(encoding="utf-8"))
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
