"""Line counts for Python sources: code lines and raw lines per file.

A code line is a line that carries at least one token other than a comment
or a line break and is not part of a docstring (the first string statement
of a module, class or function). Raw lines are ``len(text.splitlines())``.
Directories are walked recursively for ``*.py``; one line per file, then a
total.

Usage: python scripts/loc.py [paths...]   (default: the package directory)
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_PACKAGE = Path(__file__).resolve().parent.parent / "data_lakes_tp2_student_spark"
_LAYOUT = (
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
)
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def count(path: Path) -> tuple[int, int]:
    """(code lines, raw lines) of one Python file."""
    src = path.read_text()
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _SCOPES) and ast.get_docstring(node, False) is not None:
            first = node.body[0]
            doc.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _LAYOUT:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc), len(src.splitlines())


def files(paths: list[str]) -> list[Path]:
    out: list[Path] = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> None:
    total_code = total_raw = 0
    for f in files(argv or [str(_PACKAGE)]):
        code, raw = count(f)
        total_code += code
        total_raw += raw
        print(f"{code:>7,} {raw:>7,}  {f}")
    print(f"{total_code:>7,} {total_raw:>7,}  total (code / raw)")


if __name__ == "__main__":
    main(sys.argv[1:])
