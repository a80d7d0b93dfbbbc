"""Count code lines of Python files: lines holding at least one token that
is not a comment, and that are not part of a docstring.  Blank lines,
comment-only lines and docstring lines do not count.

    python bench_history/probe_scripts/code_loc.py DIR_OR_FILE [...]

Prints one JSON object: per-file counts and their total.
"""

import ast
import io
import json
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def docstring_lines(tree):
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(
                getattr(body[0], "value", None), ast.Constant
            ) and isinstance(body[0].value.value, str):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path):
    src = open(path, encoding="utf-8").read()
    docs = docstring_lines(ast.parse(src))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def files(arg):
    if os.path.isfile(arg):
        yield arg
        return
    for root, _, names in os.walk(arg):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(root, n)


def main():
    per_file = {p: code_lines(p) for a in sys.argv[1:] for p in files(a)}
    print(json.dumps({"total": sum(per_file.values()), "files": per_file}, indent=1))


if __name__ == "__main__":
    main()
