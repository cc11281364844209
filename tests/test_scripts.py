"""Every engine or benchmark name a ``scripts/*.py`` file imports must
exist. The scripts run by hand, outside the test suite, and several
import private helpers of the query modules, so a refactor that moves or
renames a helper would otherwise break them silently. Imports inside
functions are checked too."""

from __future__ import annotations

import ast
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(ROOT, "scripts")
PACKAGES = ("network_iq_spark", "perfbench")


def _imports():
    """(script, module, name) for every import of a project module; name
    is None for a plain ``import module``."""
    found = []
    for fname in sorted(os.listdir(SCRIPTS)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(SCRIPTS, fname)) as fh:
            tree = ast.parse(fh.read(), fname)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                mod = node.module or ""
                if mod.split(".")[0] in PACKAGES:
                    found += [(fname, mod, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                found += [
                    (fname, a.name, None)
                    for a in node.names
                    if a.name.split(".")[0] in PACKAGES
                ]
    return found


IMPORTS = _imports()


def test_scripts_import_project_modules():
    assert IMPORTS


@pytest.mark.parametrize(
    "script, module, name",
    IMPORTS,
    ids=[f"{s}:{m}:{n}" for s, m, n in IMPORTS],
)
def test_script_import_resolves(script, module, name):
    mod = importlib.import_module(module)
    if name is not None and not hasattr(mod, name):
        importlib.import_module(f"{module}.{name}")  # a submodule
