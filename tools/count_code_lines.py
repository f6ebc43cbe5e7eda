"""Count code lines per Python module under a directory.

A code line holds at least one token that is not a comment. Blank
lines, comment-only lines and docstring lines (a string literal that
is a statement of its own: module, class and function docstrings, and
bare string statements) are left out; every line a code string literal
spans counts.

    python tools/count_code_lines.py sketchlib

prints one ``<lines>  <path>`` line per module, sorted by path, then
``<lines>  total``.
"""

import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENCODING,
             tokenize.ENDMARKER}


def code_lines(source: str) -> int:
    """The number of code lines in one module's ``source``."""
    docstrings = set()
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)):
            docstrings.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def count_tree(root: str) -> dict:
    """{path of each ``.py`` file under ``root``: its code lines}."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    out[path] = code_lines(f.read())
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    counts = count_tree(argv[0])
    for path in sorted(counts):
        print(f"{counts[path]:6d}  {path}")
    print(f"{sum(counts.values()):6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
