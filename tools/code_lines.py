"""Code lines of Python files at two git revisions.

A code line is a line that holds a token other than a comment; the
lines of docstrings (a string literal that opens a module, class or
function body) do not count, and neither do blank lines. This is the
measure the change log quotes as "code lines".

Usage:
  python tools/code_lines.py OLD_REV NEW_REV PATH...

Prints one line per path, ``path  old -> new``, then the total. A path
missing at a revision counts 0 there.
"""

from __future__ import annotations

import ast
import io
import subprocess
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_code_lines(source: str) -> int:
    """Lines of ``source`` holding a non-comment token outside docstrings."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def _at(rev: str, path: str) -> str | None:
    out = subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True, text=True)
    return out.stdout if out.returncode == 0 else None


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    old_rev, new_rev, paths = argv[0], argv[1], argv[2:]
    total_old = total_new = 0
    for path in paths:
        old, new = (_at(rev, path) for rev in (old_rev, new_rev))
        n_old = count_code_lines(old) if old is not None else 0
        n_new = count_code_lines(new) if new is not None else 0
        total_old, total_new = total_old + n_old, total_new + n_new
        print(f"{path}  {n_old} -> {n_new}")
    print(f"total  {total_old} -> {total_new}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
