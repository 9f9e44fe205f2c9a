"""Count code lines: lines holding at least one Python token, minus
comments, blank lines and docstrings (module, class and function
docstrings, found with ``ast``).

    python tools/count_code_lines.py promptly_data_pipelines_spark
    python tools/count_code_lines.py path/to/module.py:152-1180

A ``file:a-b`` argument counts only lines a..b of that file. A
directory argument counts every ``.py`` file under it and prints the
total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(src: str) -> set[int]:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - doc


def count(arg: str) -> int:
    path, _, span = arg.partition(":")
    if os.path.isdir(path):
        return sum(
            count(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".py")
        )
    with open(path, encoding="utf-8") as f:
        lines = code_lines(f.read())
    if span:
        a, b = (int(x) for x in span.split("-"))
        lines = {n for n in lines if a <= n <= b}
    return len(lines)


if __name__ == "__main__":
    args = sys.argv[1:]
    if not args or any(not os.path.exists(a.partition(":")[0]) for a in args):
        sys.stderr.write(__doc__)
        sys.exit(2)
    for a in args:
        print(f"{count(a):7d}  {a}")
