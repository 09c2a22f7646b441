"""Code lines per file and in total under a source tree (default ``kg/``):
lines that hold a token other than a comment, and other than a module,
class or function docstring; blank lines do not count.  Usage: python
tools/code_lines.py [dir ...]
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstrings(tree: ast.AST) -> set[tuple[int, int]]:
    """(line, column) where each docstring's string token starts."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.add((first.lineno, first.col_offset))
    return out


def code_lines(source: str) -> int:
    docs = _docstrings(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _LAYOUT or (tok.type == tokenize.STRING and tok.start in docs):
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main(dirs: list[str]) -> int:
    total = 0
    for top in dirs:
        for root, subdirs, names in os.walk(top):
            subdirs.sort()
            for name in sorted(names):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    n = code_lines(f.read())
                total += n
                print(f"{n:6d}  {os.path.relpath(path, ROOT)}")
    print(f"{total:6d}  total")
    return total


if __name__ == "__main__":
    main(sys.argv[1:] or [os.path.join(ROOT, "kg")])
