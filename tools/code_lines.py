"""Count the code lines of Python files: every physical line that holds
a token of code, so blank lines, comment-only lines and docstrings are
left out.

A docstring is the leading string literal of a module, class or
function body (found with ``ast``); its lines are dropped whole. Every
other line is kept when ``tokenize`` finds a token on it that is not a
comment or a line break. A statement spread over several lines counts
each line that carries code; the lines inside a multi-line string
literal that is not a docstring count too.

Usage::

    python tools/code_lines.py FILE [FILE ...]

prints one ``<count>  <path>`` line per file, then the total when more
than one file is given.
"""

from __future__ import annotations

import ast
import io
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


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers spanned by the docstrings in ``tree``."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    """The number of code lines in ``source``."""
    skip = docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NOT_CODE:
            continue
        for n in range(tok.start[0], tok.end[0] + 1):
            if n not in skip:
                lines.add(n)
    return len(lines)


def main(paths: list[str]) -> int:
    if not paths:
        print("usage: python tools/code_lines.py FILE [FILE ...]", file=sys.stderr)
        return 2
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {path}")
    if len(paths) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
