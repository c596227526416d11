"""The slow-tier ledger (tests/durations.json) names real tests: conftest
marks a test slow by its node id, so a key left behind by a renamed or
moved test would silently put the test back into the default tier."""

from __future__ import annotations

import ast
import json
import os

TESTS = os.path.dirname(os.path.abspath(__file__))


def test_every_ledger_key_names_an_existing_test():
    with open(os.path.join(TESTS, "durations.json")) as f:
        keys = json.load(f)
    defined: dict[str, set[str]] = {}
    stale = []
    for key in keys:
        path, _, name = key.partition("::")
        fname = os.path.basename(path)
        if fname not in defined:
            full = os.path.join(TESTS, fname)
            defined[fname] = set()
            if os.path.exists(full):
                with open(full) as f:
                    tree = ast.parse(f.read())
                defined[fname] = {
                    n.name for n in tree.body if isinstance(n, ast.FunctionDef)
                }
        if name.split("[")[0] not in defined[fname]:
            stale.append(key)
    assert stale == []
