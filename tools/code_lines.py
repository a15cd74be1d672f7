"""Count code lines: lines holding code, without comments, docstrings or
blank lines. No Spark needed.

A docstring is the string-literal statement that opens a module, class
or function; every other string literal, multi-line ones included,
counts line by line as code.

Usage:
    python tools/code_lines.py [paths ...]   # default: spark_aknn/

Prints one ``<lines>  <file>`` row per .py file (directories are walked
recursively), then ``<lines>  total``.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    docstrings: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                docstrings.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main(argv: list[str]) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = argv or [os.path.join(repo, "spark_aknn")]
    total = 0
    for path in paths:
        for f in _py_files(path):
            with open(f) as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:6d}  {os.path.relpath(f)}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
