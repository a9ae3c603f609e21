"""Count code lines in Python files: the one line-count method used when a
change reports how much code it adds or removes.

A code line is a physical line touched by at least one token other than a
comment or a docstring; blank lines never count.  A token spanning several
lines (a multi-line string, say) counts every line it touches.  Docstrings
are the string literals that open a module, class or function body (found
with ``ast``); code lines come from ``tokenize``.

Usage:

    python tools/code_lines.py <path[:lo-hi]>...

``path:lo-hi`` counts only lines lo..hi (1-based, inclusive) of the file.
Prints one ``<count>\t<spec>`` line per argument, then the total.
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
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def docstring_lines(source: str) -> set[int]:
    """Line numbers covered by module/class/function docstrings."""
    out: set[int] = set()
    for node in ast.walk(ast.parse(source)):
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
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> set[int]:
    """Line numbers touched by a token that is neither comment nor docstring."""
    docs = docstring_lines(source)
    out: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NOT_CODE:
            continue
        if tok.type == tokenize.STRING and tok.start[0] in docs:
            continue
        out.update(range(tok.start[0], tok.end[0] + 1))
    return out


def count(spec: str) -> int:
    path, _, span = spec.partition(":")
    with open(path, encoding="utf-8") as fh:
        lines = code_lines(fh.read())
    if span:
        lo, hi = (int(x) for x in span.split("-"))
        lines = {n for n in lines if lo <= n <= hi}
    return len(lines)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for spec in argv:
        n = count(spec)
        total += n
        print(f"{n}\t{spec}")
    print(f"{total}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
