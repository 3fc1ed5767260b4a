"""Count code lines in Python sources, the way ROADMAP.md reports them.

A code line is a physical line spanned by at least one token that is not
a comment, a NL/NEWLINE/INDENT/DEDENT token, or a string in statement
position (a docstring, or any other statement made of strings alone).
Blank lines, comment lines and docstring lines therefore do not count;
a multi-line expression counts every line it spans.

    python scripts/code_lines.py unmixing_spark scripts

prints one ``count path`` line per .py file (directories are walked
recursively, files sorted by path) and a final ``count total`` line.
"""

from __future__ import annotations

import os
import sys
import tokenize

_LAYOUT = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
           tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(path: str) -> int:
    """Number of code lines in one Python file."""
    lines: set[int] = set()
    stmt: list[tokenize.TokenInfo] = []

    def close() -> None:
        if stmt and not all(t.type == tokenize.STRING for t in stmt):
            for t in stmt:
                lines.update(range(t.start[0], t.end[0] + 1))
        stmt.clear()

    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
                close()
            elif tok.type not in _LAYOUT and tok.type != tokenize.ENCODING:
                stmt.append(tok)
    close()
    return len(lines)


def _py_files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                out += [os.path.join(root, n) for n in files
                        if n.endswith(".py")]
        else:
            out.append(p)
    return sorted(out)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in _py_files(argv):
        n = code_lines(path)
        total += n
        print(f"{n:6d} {path}")
    print(f"{total:6d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
