"""Every public operator is used, and every keyword option it takes is set
by some caller to a value other than its default.

An option that every caller leaves at its default is a constant with a
parameter's cost: it doubles the configurations a reader must consider and
no test or query exercises the other branch. This test walks the AST of
every call site in the engine, the scripts, ``bench.py``,
``__spark_entry__.py``, ``perfbench/`` and ``tests/`` and fails when a
public function in ``network_iq_spark/operators/`` has an option nobody
sets, or is neither referenced nor named in a string or docstring outside
its own definition.

Calls resolve by the called name alone, so a same-named function elsewhere
can only make an option look used, never unused. A ``**name`` splat of a
dict literal bound in the same file counts as its keywords; any other
``*args`` or ``**kw`` splat counts as setting every option it could reach.
A function used as a value (``functools.partial(f, ...)``, a callback
argument, ``assigner = f``) is called where the scan cannot see its
arguments, so every option it takes counts as set.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATORS = os.path.join("network_iq_spark", "operators")
CALLER_TREES = (
    "network_iq_spark",
    "scripts",
    "bench.py",
    "__spark_entry__.py",
    "perfbench",
    "tests",
)


def _py_files(target: str):
    path = os.path.join(ROOT, target)
    if os.path.isfile(path):
        yield path
    for dirpath, _, files in os.walk(path):
        yield from (os.path.join(dirpath, f) for f in files if f.endswith(".py"))


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _same_value(a: ast.AST, b: ast.AST) -> bool:
    if ast.dump(a) == ast.dump(b):
        return True
    try:
        return ast.literal_eval(a) == ast.literal_eval(b)
    except ValueError:
        return False


def _options(fn: ast.FunctionDef) -> tuple[list[str], dict]:
    """Positional parameter names, and ``{option: default}`` for every
    parameter with a default."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    opts = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    opts.update(
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return pos, opts


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _dict_literals(tree: ast.AST) -> dict:
    """``{name: [keyword]}`` for every ``name = dict(k=v, ...)`` or
    ``name = {"k": v, ...}`` in ``tree``, so a ``**name`` splat resolves to
    the keywords it carries. A name bound more than once gets them all."""
    out: dict[str, list] = {}
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
        ):
            continue
        v = node.value
        if isinstance(v, ast.Call) and _callee(v.func) == "dict" and not v.args:
            kws = v.keywords
        elif isinstance(v, ast.Dict) and all(
            isinstance(k, ast.Constant) and isinstance(k.value, str) for k in v.keys
        ):
            kws = [ast.keyword(k.value, val) for k, val in zip(v.keys, v.values)]
        else:
            continue
        out.setdefault(node.targets[0].id, []).extend(kws)
    return out


def _calls(tree: ast.AST):
    """Yield ``(name, args, keywords)`` for every call, with a ``**name``
    splat of a dict literal bound in the same file yielding its keywords."""
    dicts = _dict_literals(tree)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _callee(node.func)
        if name is None:
            continue
        keywords = []
        for kw in node.keywords:
            if kw.arg is None and isinstance(kw.value, ast.Name):
                keywords.extend(dicts.get(kw.value.id, [kw]))
            else:
                keywords.append(kw)
        yield name, node.args, keywords


def _passed_as_values(tree: ast.Module):
    """Yield each function name that ``tree`` uses as a value rather than
    calling it: passed as an argument (``functools.partial`` included),
    bound to a name, or put in a container. Such a function can be called
    where the scan cannot see the arguments. Only names the file imports
    or defines at top level count, so a local variable that shares an
    operator's name does not."""
    bound = {
        (a.asname or a.name).split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
    }
    bound |= {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    callees = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    for node in ast.walk(tree):
        if id(node) in callees:
            continue
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id in bound:
                yield node.id
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
        ):
            yield node.attr


def _references(tree: ast.AST, own: dict):
    """Yield each operator name loaded, or named in a string or docstring,
    anywhere in ``tree`` except inside that operator's own definition."""

    def visit(node: ast.AST, inside: str | None):
        if node is own.get(getattr(node, "name", None)):
            inside = node.name
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names = {node.id}
        elif isinstance(node, ast.Attribute):
            names = {node.attr}
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names = set(re.findall(r"\w+", node.value))
        else:
            names = set()
        yield from (n for n in names & own.keys() if n != inside)
        for child in ast.iter_child_nodes(node):
            yield from visit(child, inside)

    yield from visit(tree, None)


def scan(trees: dict, operator_paths: set) -> tuple[list[str], list[str]]:
    """``(unset options as "module.function(option=)", unreferenced
    functions as "module.function")`` for the public top-level functions of
    the files in ``operator_paths``, over the call sites in ``trees``
    (``{path: ast.Module}``)."""
    ops = {}
    for path in sorted(operator_paths):
        mod = os.path.splitext(os.path.basename(path))[0]
        for node in trees[path].body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                ops[node.name] = (mod, node)
    own = {name: fn for name, (_, fn) in ops.items()}
    set_opts: dict[str, set] = {name: set() for name in ops}
    referenced = set()
    for tree in trees.values():
        referenced.update(_references(tree, own))
        for name in _passed_as_values(tree):
            if name in ops:
                set_opts[name].update(_options(ops[name][1])[1])
        for name, args, keywords in _calls(tree):
            if name not in ops:
                continue
            pos, opts = _options(ops[name][1])
            for i, arg in enumerate(args):
                if isinstance(arg, ast.Starred):
                    set_opts[name].update(pos[i:])
                    break
                if i < len(pos) and pos[i] in opts and not _same_value(
                    arg, opts[pos[i]]
                ):
                    set_opts[name].add(pos[i])
            for kw in keywords:
                if kw.arg is None:
                    set_opts[name].update(opts)
                elif kw.arg in opts and not _same_value(kw.value, opts[kw.arg]):
                    set_opts[name].add(kw.arg)
    unset = [
        f"{mod}.{name}({opt}=)"
        for name, (mod, fn) in sorted(ops.items())
        for opt in _options(fn)[1]
        if opt not in set_opts[name]
    ]
    unreferenced = [
        f"{mod}.{name}"
        for name, (mod, _) in sorted(ops.items())
        if name not in referenced
    ]
    return unset, unreferenced


def _repo_scan() -> tuple[list[str], list[str]]:
    trees = {
        path: _parse(path) for target in CALLER_TREES for path in _py_files(target)
    }
    ops = {p for p in trees if os.path.dirname(os.path.relpath(p, ROOT)) == OPERATORS}
    return scan(trees, ops)


def test_every_operator_option_is_set_by_some_caller():
    unset, _ = _repo_scan()
    assert unset == []


def test_every_operator_is_referenced_outside_its_definition():
    _, unreferenced = _repo_scan()
    assert unreferenced == []


def test_scan_resolves_positions_keywords_values_splats_and_mentions():
    op_src = (
        "def op(df, k=5, *, mode='a', deep=False, used=1, at=0):\n"
        "    return df\n"
        "def idle(df, n=1):\n"
        '    """Calls idle(df)."""\n'
        "def named(df):\n"
        "    return df\n"
        "def hook(df, cap=None):\n"
        "    return df\n"
    )
    caller_src = (
        '"""See named."""\n'
        "from ops import m\n"
        "op(df, 5, mode='a')\n"
        "m.op(df, used=x)\n"
        "op(df, 5.0, deep=False)\n"
        "kw = dict(at=2, mode='a')\n"
        "op(df, **kw)\n"
        "run(partial(m.hook))\n"
    )
    trees = {"ops/m.py": ast.parse(op_src), "caller.py": ast.parse(caller_src)}
    unset, unreferenced = scan(trees, {"ops/m.py"})
    assert unset == ["m.idle(n=)", "m.op(k=)", "m.op(mode=)", "m.op(deep=)"]
    assert unreferenced == ["m.idle"]
