"""Count code lines of Python modules.

A code line is a source line that carries at least one non-comment
token, minus the lines of module, class and function docstrings.
Blank lines, comment-only lines and docstrings do not count; every
line of a multi-line statement or string literal does.

    python scripts/code_lines.py earth_data_kit_spark/operators/dedup.py ...
    python scripts/code_lines.py earth_data_kit_spark

A directory stands for its ``*.py`` files, recursively.  Prints one
``<count>  <path>`` line per file and a ``total`` line.
"""

from __future__ import annotations

import ast
import io
import os
import pathlib
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            doc = node.body[0] if node.body else None
            if (
                isinstance(doc, ast.Expr)
                and isinstance(doc.value, ast.Constant)
                and isinstance(doc.value.value, str)
            ):
                lines.difference_update(range(doc.lineno, doc.end_lineno + 1))
    return len(lines)


def _files(paths: list[str]) -> list[str]:
    """``paths`` with each directory replaced by its ``*.py`` files,
    recursively and in sorted order."""
    out: list[str] = []
    for path in paths:
        if os.path.isdir(path):
            out += sorted(str(p) for p in pathlib.Path(path).rglob("*.py"))
        else:
            out.append(path)
    return out


def main(paths: list[str]) -> None:
    total = 0
    for path in _files(paths):
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
