"""Dev scripts and tests import the engine from their own checkout: a
hard-coded absolute path on ``sys.path`` would make a second checkout run
(and report on) another tree's code."""

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files():
    for sub in ("scripts_dev", "tests"):
        for d, _, names in sorted(os.walk(os.path.join(ROOT, sub))):
            for name in sorted(names):
                if name.endswith(".py"):
                    yield os.path.relpath(os.path.join(d, name), ROOT)


def _hard_coded_sys_path(tree):
    """Absolute string literals passed to sys.path.insert/append."""
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"):
            for arg in node.args:
                for sub in ast.walk(arg):
                    if (isinstance(sub, ast.Constant)
                            and isinstance(sub.value, str)
                            and os.path.isabs(sub.value)):
                        yield node.lineno, sub.value


@pytest.mark.parametrize("rel", list(_py_files()))
def test_no_hard_coded_checkout_on_sys_path(rel):
    with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=rel)
    assert list(_hard_coded_sys_path(tree)) == []
