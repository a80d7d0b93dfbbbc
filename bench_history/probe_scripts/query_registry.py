"""Dump the query registry of one checkout of this repo as JSON.

    python bench_history/probe_scripts/query_registry.py REPO_DIR > OUT.json

For every ``queries()`` key, in order: the builder's function name and a
digest of its code object (bytecode, constants, names and nested code,
but not its name or line numbers), so two checkouts can be compared
builder by builder across a rename or a move.  For ``oracle_sql()``: a
digest of each key's SQL text and one of the whole dict.  No Spark
session is started.
"""

import hashlib
import json
import sys
import types


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def code_digest(co: types.CodeType) -> str:
    parts = [co.co_code.hex()]
    for c in co.co_consts:
        if isinstance(c, types.CodeType):
            parts.append(code_digest(c))
        elif isinstance(c, frozenset):
            parts.append(repr(sorted(map(repr, c))))
        else:
            parts.append(repr(c))
    parts += [repr(co.co_names), repr(co.co_varnames),
              repr(co.co_freevars), repr(co.co_cellvars)]
    return _digest("\0".join(parts))


def main():
    sys.path.insert(0, sys.argv[1])
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    print(json.dumps({
        "queries": [
            {"key": k, "builder": fn.__name__, "code": code_digest(fn.__code__)}
            for k, fn in e.queries().items()
        ],
        "oracle_sql": {k: _digest(v) for k, v in oracles.items()},
        "oracle_sql_all": _digest(json.dumps(oracles)),
    }, indent=1))


if __name__ == "__main__":
    main()
