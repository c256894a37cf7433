"""Static checks on the repository itself: no Spark session needed.

- Every ``tests/slow_tests.txt`` line names a test function that exists.
  conftest.py marks manifest IDs as slow and silently ignores the rest,
  so a stale line would otherwise go unnoticed.
- The package reads exactly the environment values listed below.
"""

from __future__ import annotations

import ast
import os

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
PACKAGE_DIR = os.path.join(os.path.dirname(TESTS_DIR), "utility_service_areas_spark")

# The engine's whole environment surface: the two deployment settings
# (core count, driver heap) and the worker import path session.py
# extends.
ENV_SURFACE = {"PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def test_slow_manifest_names_existing_tests():
    with open(os.path.join(TESTS_DIR, "slow_tests.txt"), encoding="utf-8") as f:
        ids = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
    assert ids
    defined: dict[str, set[str]] = {}
    stale = []
    for node_id in ids:
        file_name, _, name = node_id.partition("::")
        path = os.path.join(TESTS_DIR, file_name)
        if path not in defined:
            defined[path] = (
                {n.name for n in _parse(path).body if isinstance(n, ast.FunctionDef)}
                if os.path.isfile(path)
                else set()
            )
        if name.split("[", 1)[0] not in defined[path]:
            stale.append(node_id)
    assert not stale, f"slow_tests.txt names missing tests: {stale}"


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_names(path: str) -> set[str]:
    """Names passed to ``os.environ.get``, ``os.environ[...]`` and
    ``os.getenv`` in one module. A module-level string constant is
    resolved; any other non-literal name is reported as ``<dynamic>``."""
    tree = _parse(path)
    consts = {
        t.id: node.value.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def name_of(arg: ast.AST) -> str:
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        if isinstance(arg, ast.Name) and arg.id in consts:
            return consts[arg.id]
        return f"<dynamic {os.path.basename(path)}:{arg.lineno}>"

    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            names.add(name_of(node.slice))
        elif isinstance(node, ast.Call) and node.args:
            fn = node.func
            env_get = isinstance(fn, ast.Attribute) and fn.attr == "get" and _is_environ(fn.value)
            getenv = (isinstance(fn, ast.Attribute) and fn.attr == "getenv") or (
                isinstance(fn, ast.Name) and fn.id == "getenv"
            )
            if env_get or getenv:
                names.add(name_of(node.args[0]))
    return names


def test_env_surface_is_fixed():
    read = set()
    for root, _, files in os.walk(PACKAGE_DIR):
        for f in files:
            if f.endswith(".py"):
                read |= _env_names(os.path.join(root, f))
    assert read == ENV_SURFACE


@pytest.mark.parametrize(
    "src, want",
    [
        ('import os\nos.environ.get("A", "1")', {"A"}),
        ('import os\nos.environ["B"] = "x"', {"B"}),
        ('import os\nos.getenv("C")', {"C"}),
        ('import os\n_K = "D"\nos.environ.get(_K)', {"D"}),
        ("import os\nk = 'E'.lower()\nos.getenv(k)", {"<dynamic m.py:3>"}),
    ],
    ids=["get", "subscript", "getenv", "module_constant", "dynamic"],
)
def test_env_scan_sees_every_read_form(tmp_path, src, want):
    path = tmp_path / "m.py"
    path.write_text(src)
    assert _env_names(str(path)) == want
