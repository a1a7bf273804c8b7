"""Line counts of the ``game_data_etl_pipeline_spark`` package.

Usage: python scripts/count_lines.py

Prints, per ``.py`` file and in total, ``lines`` (every physical line)
and ``code`` (lines that carry a token other than a comment, and are
not part of a module, class or function docstring). Blank lines,
comment-only lines and docstring lines are not code; a multi-line
string that is not a docstring (an oracle's SQL) is.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "game_data_etl_pipeline_spark"

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def count(source: str) -> tuple[int, int]:
    """(lines, code lines) of one Python source."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(source.splitlines()), len(code - _docstring_lines(ast.parse(source)))


def main() -> int:
    rows = []
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    rows.append((os.path.relpath(path, ROOT), *count(f.read())))
    width = max(len(r[0]) for r in rows)
    print(f"{'file':<{width}}  {'lines':>7}  {'code':>7}")
    for path, lines, code in rows:
        print(f"{path:<{width}}  {lines:>7}  {code:>7}")
    print(f"{'total':<{width}}  {sum(r[1] for r in rows):>7}  {sum(r[2] for r in rows):>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
