"""Count code lines in a Python file: lines that carry a token other
than a comment, with blank lines and docstrings left out.

    python scripts/code_lines.py FILE [NAME ...]

With NAMEs, prints one ``NAME LINES`` row per named top-level function
or class (decorators included), then their ``total``. Without, prints
the whole file's count. A docstring is any bare string statement: the
first statement of a module, class or function, and the attribute
docstrings that follow an assignment."""

import ast
import io
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_rows(src: str, tree: ast.Module) -> set:
    """Line numbers (1-based) that hold code."""
    rows = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            rows.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(tree):
        if (isinstance(node, ast.Expr)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)):
            rows.difference_update(range(node.lineno, node.end_lineno + 1))
    return rows


def top_level_spans(tree: ast.Module) -> dict:
    """{name: (first line, last line)} of top-level defs and classes."""
    spans = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min([node.lineno]
                        + [d.lineno for d in node.decorator_list])
            spans[node.name] = (first, node.end_lineno)
    return spans


def main(argv) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    path, names = argv[0], argv[1:]
    with open(path, encoding="utf-8") as f:
        src = f.read()
    tree = ast.parse(src)
    rows = code_rows(src, tree)
    if not names:
        print(len(rows))
        return 0
    spans = top_level_spans(tree)
    missing = [n for n in names if n not in spans]
    if missing:
        print(f"not top-level in {path}: {' '.join(missing)}",
              file=sys.stderr)
        return 1
    total = 0
    for n in names:
        lo, hi = spans[n]
        k = sum(1 for r in rows if lo <= r <= hi)
        total += k
        print(f"{n} {k}")
    print(f"total {total}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
