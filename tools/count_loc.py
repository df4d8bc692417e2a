"""Count lines of Python code: lines holding a token other than a
comment, not blank, and not part of a module, class or function
docstring.

    python tools/count_loc.py linkgraph                # total
    python tools/count_loc.py linkgraph/pregel.py ...  # per file + total

A directory is walked for ``*.py`` files. With no path, ``-h``,
``--help`` or a path that does not exist it prints this text and
exits 2.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER,
}
SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: Path) -> int:
    src = path.read_text()
    docs = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, SCOPES) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first, "value", None), ast.Constant
            ) and isinstance(first.value.value, str):
                docs.update(range(first.lineno, first.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def main(args: list[str]) -> None:
    if not args or any(a in ("-h", "--help") or not Path(a).exists() for a in args):
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    total = 0
    for arg in args:
        root = Path(arg)
        files = sorted(root.rglob("*.py")) if root.is_dir() else [root]
        for f in files:
            n = code_lines(f)
            total += n
            if not root.is_dir():
                print(n, f)
    print("total", total)


if __name__ == "__main__":
    main(sys.argv[1:])
