"""Count code lines: lines holding a Python token other than a comment,
with blank lines and docstring lines skipped.

Usage:

    python tools/code_lines.py FILE [FILE::Qualname ...]

``FILE`` counts the whole module. ``FILE::Qualname`` counts one class,
function or method, e.g. ``dask_grblas_spark/core.py::GrVector.vxm``;
a class counts with its decorators and all its methods. Prints one
``count  target`` line per argument, then the total when given more
than one.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def _code_lines(source: str) -> set[int]:
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - _docstring_lines(ast.parse(source))


def _find(tree: ast.AST, qualname: str) -> ast.AST:
    node = tree
    for part in qualname.split("."):
        for child in ast.iter_child_nodes(node):
            if (isinstance(child, (ast.ClassDef, ast.FunctionDef,
                                   ast.AsyncFunctionDef))
                    and child.name == part):
                node = child
                break
        else:
            raise SystemExit(f"{qualname}: no definition named {part!r}")
    return node


def count(target: str) -> int:
    path, _, qualname = target.partition("::")
    with open(path, encoding="utf-8") as fh:
        source = fh.read()
    lines = _code_lines(source)
    if not qualname:
        return len(lines)
    node = _find(ast.parse(source), qualname)
    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
    return sum(1 for n in lines if first <= n <= node.end_lineno)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for target in argv:
        n = count(target)
        total += n
        print(f"{n:6d}  {target}")
    if len(argv) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
