#!/usr/bin/env python
"""Code lines per Python file, as JSON.

``python scripts/code_lines.py FILE [FILE ...]`` prints
``{"FILE": n, ..., "total": N}``, where ``n`` counts the lines that
hold code: blank lines, comment-only lines and docstring lines (any
statement that is a bare string literal) do not count. A line that a
multi-line string or bracket spans counts once per line it spans, as
code. Compare the numbers of two revisions to size a refactor.
"""

from __future__ import annotations

import ast
import io
import json
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    """The number of code lines in Python source ``src``."""
    docs = set()
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            docs.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python scripts/code_lines.py FILE [FILE ...]")
    out = {}
    for path in sys.argv[1:]:
        with open(path, encoding="utf-8") as f:
            out[path] = code_lines(f.read())
    out["total"] = sum(out.values())
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
