"""Count code lines: non-blank, non-comment, non-docstring lines of Python.

A line counts when it holds at least one token that is not a comment
and does not belong to a docstring (the first string statement of a
module, class or function). Blank lines, comment-only lines and every
line of a docstring do not count.

Usage: python tools/code_lines.py [path ...]

Each path is a ``.py`` file or a directory searched recursively for
``.py`` files. Prints one count per path, then the total over the
distinct files named. With no path, counts the package directory.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "spark_streaming_sql_s3_connector_spark")

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


def count_source(src: str) -> int:
    """Code lines of one module's source text."""
    doc = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        code.update(
            n for n in range(tok.start[0], tok.end[0] + 1) if n not in doc
        )
    return len(code)


def python_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [os.path.abspath(path)]
    out = []
    for d, dirs, names in os.walk(path):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        out.extend(
            os.path.abspath(os.path.join(d, n))
            for n in sorted(names)
            if n.endswith(".py")
        )
    return out


def count_file(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return count_source(f.read())


def main(argv: list[str]) -> int:
    paths = argv or [os.path.relpath(PACKAGE)]
    seen: dict[str, int] = {}
    for p in paths:
        if not os.path.exists(p):
            print(f"no such path: {p}", file=sys.stderr)
            return 2
        n = 0
        for f in python_files(p):
            if f not in seen:
                seen[f] = count_file(f)
            n += seen[f]
        print(f"{n:>8,}  {p}")
    print(f"{sum(seen.values()):>8,}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
