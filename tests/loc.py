"""Count code lines of Python sources: physical lines minus blank,
comment-only and docstring lines.

    python tests/loc.py 'giraph_spark/*.py'        # a git pathspec
    python tests/loc.py giraph_spark/functions     # a directory
    python tests/loc.py -v a.py b.py               # per-file rows too

Each argument is a file, a directory (its ``*.py`` files, recursively)
or a git pathspec expanded with ``git ls-files``. A line counts as code
when a token other than a comment or a line break starts on or spans
it, and it is not part of a module, class or function docstring. The
totals line reads ``code <n> physical <n> files <n>``. To report a
change's net effect, run it at the parent commit and at the change.
"""

from __future__ import annotations

import ast
import io
import subprocess
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def count(src: str) -> tuple[int, int]:
    """``(code, physical)`` line counts of one source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None) if isinstance(node, _DOC_OWNERS) else None
        first = body[0] if body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            code.difference_update(range(first.lineno, first.end_lineno + 1))
    return len(code), len(src.splitlines())


def _files(arg: str) -> list[Path]:
    p = Path(arg)
    if p.is_file():
        return [p]
    if p.is_dir():
        return sorted(p.rglob("*.py"))
    out = subprocess.run(
        ["git", "ls-files", "--", arg], capture_output=True, text=True, check=True
    ).stdout.split()
    return [Path(f) for f in out if f.endswith(".py")]


def main(argv: list[str]) -> int:
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    if not args:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    files = sorted({f for a in args for f in _files(a)})
    total_code = total_phys = 0
    for f in files:
        code, phys = count(f.read_text(encoding="utf-8"))
        total_code += code
        total_phys += phys
        if verbose:
            print(f"{code:7d} {phys:7d} {f}")
    print(f"code {total_code} physical {total_phys} files {len(files)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
