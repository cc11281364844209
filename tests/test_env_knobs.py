"""The engine, the hand-run scripts and ``bench.py`` each read a fixed,
known set of environment variables. Every ``os.environ.get``,
``os.environ[...]`` and ``os.getenv`` under ``network_iq_spark/`` and
``scripts/`` and in ``bench.py`` is found by walking the AST, so a new
option read from the environment fails this test until it is added to
``KNOBS``, ``SCRIPT_KNOBS`` or ``BENCH_KNOBS``, and shows up in the diff
that adds it. A name passed through a function parameter
resolves to that parameter's string default."""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "LLM_API_URL",
    "LLM_MODEL",
    "LLM_API_KEY",
    "NETWORKIQ_S3_PATH",
}

# the soak/A-B cells run through scripts/ab.py, which has no options; these
# are the data dir and the options of the plan dumper
SCRIPT_KNOBS = {
    "SPARK_GRAFT_SF_DIR",
    "PLAN_OUT",
    "PLAN_REPO",
    "PLAN_SUFFIX",
}

# bench.py takes its queries as arguments; its repeat count and storage
# release follow from what it observes, so only the data dir and the
# retime switch remain
BENCH_KNOBS = {"SPARK_GRAFT_SF_DIR", "BENCH_NO_RETIME"}


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_key(node: ast.AST) -> ast.AST | None:
    """The key expression of an environment read, or None."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        f = node.func
        if (f.attr == "get" and _is_environ(f.value)) or (
            f.attr == "getenv"
            and isinstance(f.value, ast.Name)
            and f.value.id == "os"
        ):
            return node.args[0] if node.args else None
    if isinstance(node, ast.Subscript) and _is_environ(node.value):
        return node.slice
    return None


def _param_defaults(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> dict:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {
        p.arg: d.value
        for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)
        if isinstance(d, ast.Constant)
    }
    out.update(
        (p.arg, d.value)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if isinstance(d, ast.Constant)
    )
    return out


def _reads(tree: ast.AST, where: str):
    """Yield the variable name of every environment read in ``tree``;
    a key that is neither a string literal nor a parameter with a string
    default yields an ``<unresolved ...>`` marker naming the line."""

    def visit(node: ast.AST, scope: dict):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = {**scope, **_param_defaults(node)}
        key = _env_key(node)
        if key is not None:
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                yield key.value
            elif isinstance(key, ast.Name) and isinstance(scope.get(key.id), str):
                yield scope[key.id]
            else:
                yield f"<unresolved {where}:{node.lineno}>"
        for child in ast.iter_child_nodes(node):
            yield from visit(child, scope)

    yield from visit(tree, {})


def _py_files(target: str):
    path = os.path.join(ROOT, target)
    if os.path.isfile(path):
        yield path
    for dirpath, _, files in os.walk(path):
        yield from (os.path.join(dirpath, f) for f in files if f.endswith(".py"))


@pytest.mark.parametrize(
    "target, knobs",
    [
        ("network_iq_spark", KNOBS),
        ("scripts", SCRIPT_KNOBS),
        ("bench.py", BENCH_KNOBS),
    ],
    ids=["network_iq_spark", "scripts", "bench.py"],
)
def test_reads_only_the_known_env_knobs(target, knobs):
    found = set()
    for path in _py_files(target):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        found |= set(_reads(tree, os.path.relpath(path, ROOT)))
    assert found == knobs


def test_reads_resolve_literals_subscripts_and_parameter_defaults():
    src = (
        "import os\n"
        "A = os.environ['A']\n"
        "def f(name='B', *, other='C'):\n"
        "    def g():\n"
        "        return os.getenv(name), os.environ.get(other, 'x')\n"
        "    return g\n"
        "def h(k):\n"
        "    return os.getenv(k)\n"
    )
    assert sorted(_reads(ast.parse(src), "m.py")) == [
        "<unresolved m.py:8>",
        "A",
        "B",
        "C",
    ]
