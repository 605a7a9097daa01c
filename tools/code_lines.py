#!/usr/bin/env python
"""Count the package's code lines: no blanks, comments or docstrings.

A line counts when the tokenizer finds a token on it other than a
comment, a newline or an indent change, and no docstring covers it.  A
docstring is the string expression that opens a module, class or
function body (found with ``ast``); every line it spans is dropped.

Usage: python tools/code_lines.py [--per-file] [ROOT]

ROOT defaults to the ``ultimate_data_engineering_project_spark`` package
next to this script's parent directory.  Prints the total, or one
``lines path`` row per file then the total with ``--per-file``.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_BODIES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _BODIES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Code lines of one module's source text."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "root", nargs="?",
        default=os.path.join(here, "ultimate_data_engineering_project_spark"),
    )
    ap.add_argument("--per-file", action="store_true")
    args = ap.parse_args()
    total = 0
    for dirpath, dirnames, files in os.walk(args.root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            if args.per_file:
                print(f"{n:6d} {os.path.relpath(path, args.root)}")
    print(total)


if __name__ == "__main__":
    sys.exit(main())
