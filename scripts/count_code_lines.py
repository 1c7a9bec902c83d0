"""Count code lines in Python sources: lines that hold a token other than a
comment or a docstring. Blank, comment-only and docstring lines are not
counted.

Usage: python scripts/count_code_lines.py [path ...]
(default: the big_data_audio_classification_spark package)
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                getattr(body[0], "value", None), ast.Constant
            ) and isinstance(body[0].value.value, str):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            lines.update(n for n in range(tok.start[0], tok.end[0] + 1) if n not in doc)
    return len(lines)


def main() -> None:
    roots = sys.argv[1:] or [os.path.join(REPO, "big_data_audio_classification_spark")]
    total = 0
    for root in roots:
        files = [root] if root.endswith(".py") else [
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".py")
        ]
        total += sum(code_lines(f) for f in files)
    print(total)


if __name__ == "__main__":
    main()
