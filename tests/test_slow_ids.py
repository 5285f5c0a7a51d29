"""Guard for the two-tier suite: every id in ``slow_tests.txt`` must
name a test function that exists. A stale id (its test deleted or
renamed) silently promotes nothing to the slow tier and hides the
rename from review. Parses the test files with ``ast`` — no Spark."""

from __future__ import annotations

import ast
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _test_functions(path: str) -> set[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_every_slow_id_names_a_test_function():
    with open(os.path.join(HERE, "slow_tests.txt")) as fh:
        ids = [
            line.strip()
            for line in fh
            if line.strip() and not line.lstrip().startswith("#")
        ]
    assert ids
    defined: dict[str, set[str]] = {}
    stale = []
    for tid in ids:
        fname, _, name = tid.partition("::")
        path = os.path.join(HERE, fname)
        if not os.path.isfile(path):
            stale.append(tid)
            continue
        if fname not in defined:
            defined[fname] = _test_functions(path)
        if name not in defined[fname]:
            stale.append(tid)
    assert not stale, f"slow_tests.txt names no such test: {stale}"
