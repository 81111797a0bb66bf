"""The driver registries in __spark_entry__.py name each query once.

A dict literal silently keeps the last of two equal keys, so a repeated
name would shadow an earlier entry without any error at import time."""

import ast
import collections
import os

import pytest

ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"
)


def _returned_dict_keys(func_name: str) -> list[str]:
    with open(ENTRY) as f:
        tree = ast.parse(f.read())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == func_name
    )
    ret = next(n for n in ast.walk(fn) if isinstance(n, ast.Return))
    # the literal may be wrapped, e.g. `return _rotated({...})`
    literal = next(n for n in ast.walk(ret) if isinstance(n, ast.Dict))
    return [k.value for k in literal.keys]


@pytest.mark.parametrize("func_name", ["queries", "oracle_sql"])
def test_registry_has_no_repeated_key(func_name):
    keys = _returned_dict_keys(func_name)
    repeated = [k for k, n in collections.Counter(keys).items() if n > 1]
    assert not repeated, repeated
    assert len(keys) >= 100
