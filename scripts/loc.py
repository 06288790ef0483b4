"""Count the code lines of the engine package.

A code line is a physical line that carries at least one token which is
neither a comment nor part of a docstring (the string statement that opens
a module, class or function body); blank lines do not count either.  A
statement spanning several lines counts each of them.

Usage: python scripts/loc.py [package_dir]
       (default: python_async_sample_spark/ next to this script's parent;
        prints one "<lines>  <module>" row per module, largest first, then
        the total)
"""

from __future__ import annotations

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


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and node.body:
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
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in docs:
                lines.add(ln)
    return len(lines)


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, "python_async_sample_spark"
    )
    base = os.path.dirname(os.path.abspath(pkg))
    counts = {}
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as fh:
                    counts[os.path.relpath(path, base)] = code_lines(fh.read())
    for name, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:7d}  {name}")
    print(f"{sum(counts.values()):7d}  total ({len(counts)} modules)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
