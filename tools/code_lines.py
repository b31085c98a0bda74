"""Count code lines per Python file and in total.

A code line holds at least one token that is not a comment, and is not
part of a module, class or function docstring; blank lines do not count.
Unlike ``wc -l``, deleting a comment or a docstring does not move it.

    python tools/code_lines.py                       # the package, tracked files
    python tools/code_lines.py fink_filters_spark/operators/dedup.py ...
"""

from __future__ import annotations

import ast
import io
import subprocess
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def code_lines(source: str) -> int:
    """Number of code lines in one Python source text."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        body = getattr(node, "body", None)
        if (isinstance(body, list) and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main(paths: list[str]) -> None:
    if not paths:
        paths = subprocess.run(
            ["git", "ls-files", "fink_filters_spark/*.py"],
            capture_output=True, text=True, check=True,
        ).stdout.split()
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
