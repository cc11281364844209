"""Every public engine function is used, and every keyword option it takes
is set by some caller to a value other than its default.

An option that every caller leaves at its default is a constant with a
parameter's cost: it doubles the configurations a reader must consider and
no test or query exercises the other branch. This test walks the AST of
every call site in the engine, the scripts, ``bench.py``,
``__spark_entry__.py``, ``perfbench/`` and ``tests/`` and fails when a
public top-level function of ``network_iq_spark`` has an option nobody
sets, or is neither referenced nor named in a string or docstring outside
its own definition. The scan covers the top-level modules and every
package but ``queries/``, whose queries are registered by decorator and
whose helpers are private.

Calls resolve by the called name alone, so a same-named function elsewhere
can only make an option look used, never unused; a name bound by
``from m import f as g`` resolves to ``f``. A ``**name`` splat of a dict
literal bound in the same file counts as its keywords; any other ``*args``
or ``**kw`` splat counts as setting every option it could reach. A function
passed as an argument to a top-level function defined once in the scanned
files, which only ever calls the parameter that receives it, is called by
those calls: ``index(keys)`` inside a sink that takes ``index=lsh_index``
sets no option of ``lsh_index``. A function used as any other value
(``functools.partial(f, ...)``, ``assigner = f``, a callback handed to
Spark) is called where the scan cannot see its arguments, so every option
it takes counts as set. An ``__all__`` list only re-exports a
name, so its strings are not a reference. ``perfbench/`` is frozen with the
benchmark, so an option one of its calls passes counts as set whatever the
value.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "network_iq_spark"
UNSCANNED = os.path.join(ENGINE, "queries")
FROZEN = "perfbench"
# Deployment settings: the credentials, the env var that names the source
# path and its fallback, and the env var of the API key differ from one
# deployment to the next, so they stay options although every caller in
# the repo leaves them at their defaults.
DEPLOYMENT_SETTINGS = {
    "cloud.s3a_conf(access_key=)",
    "cloud.s3a_conf(secret_key=)",
    "cloud.env_source_path(env_var=)",
    "cloud.env_source_path(default=)",
    "enrichment.http_chat_provider(api_key_env=)",
}
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


def _aliases(tree: ast.AST) -> dict:
    """``{g: f}`` for every ``from m import f as g`` in ``tree``."""
    return {
        a.asname: a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for a in node.names
        if a.asname
    }


def _calls(tree: ast.AST):
    """Yield ``(name, args, keywords)`` for every call, with an import alias
    resolved to the imported name and a ``**name`` splat of a dict literal
    bound in the same file yielding its keywords."""
    dicts = _dict_literals(tree)
    aliases = _aliases(tree)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _callee(node.func)
        if name is None:
            continue
        if isinstance(node.func, ast.Name):
            name = aliases.get(name, name)
        keywords = []
        for kw in node.keywords:
            if kw.arg is None and isinstance(kw.value, ast.Name):
                keywords.extend(dicts.get(kw.value.id, [kw]))
            else:
                keywords.append(kw)
        yield name, node.args, keywords


def _receivers(trees: dict) -> dict:
    """``{name: (path, FunctionDef)}`` for every top-level function of
    ``trees``; a name defined in more than one file maps to ``None``, since
    the scan cannot tell which one a call reaches."""
    out: dict = {}
    for path, tree in trees.items():
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                out[node.name] = None if node.name in out else (path, node)
    return out


def _param_calls(fn: ast.FunctionDef, index: int | None, keyword: str | None):
    """The calls ``fn`` makes of the parameter that receives positional
    argument ``index`` or ``keyword``, or ``None`` when that parameter is
    used as anything but a callee (returned, passed on, stored)."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if keyword is None:
        param = pos[index] if index < len(pos) else None
    else:
        param = keyword if keyword in pos + [p.arg for p in a.kwonlyargs] else None
    calls = [
        n for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == param
    ]
    callees = {id(c.func) for c in calls}
    loads = [
        n for n in ast.walk(fn)
        if isinstance(n, ast.Name) and n.id == param and isinstance(n.ctx, ast.Load)
    ]
    if param is None or any(id(n) not in callees for n in loads):
        return None
    return calls


def _passed_as_values(tree: ast.Module, receivers: dict):
    """Yield ``(name, path, calls)`` for each function ``tree`` uses as a
    value rather than calling it. When it is an argument of a function in
    ``receivers`` that only calls the parameter receiving it, ``calls``
    are those calls and ``path`` is the receiver's file; otherwise
    (``functools.partial``, bound to a name, put in a container, handed to
    code outside the scan) ``calls`` is ``None``: it can be called where
    the scan cannot see the arguments. Only names the file imports or
    defines at top level count, so a local variable that shares an
    operator's name does not."""
    aliases = _aliases(tree)
    bound = {
        (a.asname or a.name).split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
    }
    bound |= {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    callees = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    slots = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            name = _callee(node.func)
            if isinstance(node.func, ast.Name):
                name = aliases.get(name, name)
            receiver = receivers.get(name)
            if receiver is None:
                continue
            for i, arg in enumerate(node.args):
                if isinstance(arg, ast.Starred):
                    break  # later arguments' parameters are unknown
                slots[id(arg)] = (receiver, i, None)
            for kw in node.keywords:
                if kw.arg is not None:
                    slots[id(kw.value)] = (receiver, None, kw.arg)
    for node in ast.walk(tree):
        if id(node) in callees:
            continue
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            if node.id not in bound:
                continue
            name = aliases.get(node.id, node.id)
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
        ):
            name = node.attr
        else:
            continue
        calls = path = None
        if id(node) in slots:
            (path, fn), index, keyword = slots[id(node)]
            calls = _param_calls(fn, index, keyword)
        yield name, path, calls


def _is_all(node: ast.AST) -> bool:
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _references(tree: ast.AST, own: dict):
    """Yield each function name loaded, or named in a string or docstring,
    anywhere in ``tree`` except inside that function's own definition and
    an ``__all__`` list."""
    aliases = _aliases(tree)

    def visit(node: ast.AST, inside: str | None):
        if _is_all(node):
            return
        if node is own.get(getattr(node, "name", None)):
            inside = node.name
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names = {aliases.get(node.id, node.id)}
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


def _module(path: str) -> str:
    """``pkg/m.py`` -> ``m``; a package's ``pkg/__init__.py`` -> ``pkg``."""
    head, base = os.path.split(os.path.splitext(path)[0])
    return os.path.basename(head) if base == "__init__" else base


def scan(
    trees: dict, scanned: set, frozen: set = frozenset(), exempt: set = frozenset()
) -> tuple[list[str], list[str]]:
    """``(unset options as "module.function(option=)", unreferenced
    functions as "module.function")`` for the public top-level functions of
    the files in ``scanned``, over the call sites in ``trees``
    (``{path: ast.Module}``). An option a call in a ``frozen`` file passes
    counts as set whatever its value; an ``exempt`` option is not
    reported."""
    ops = {}
    for path in sorted(scanned):
        for node in trees[path].body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                assert node.name not in ops, f"{node.name} is defined twice"
                ops[node.name] = (_module(path), node)
    own = {name: fn for name, (_, fn) in ops.items()}
    set_opts: dict[str, set] = {name: set() for name in ops}
    referenced = set()

    def count(name, path, args, keywords):
        pos, opts = _options(ops[name][1])
        for i, arg in enumerate(args):
            if isinstance(arg, ast.Starred):
                set_opts[name].update(pos[i:])
                break
            if i < len(pos) and pos[i] in opts and (
                path in frozen or not _same_value(arg, opts[pos[i]])
            ):
                set_opts[name].add(pos[i])
        for kw in keywords:
            if kw.arg is None:
                set_opts[name].update(opts)
            elif kw.arg in opts and (
                path in frozen or not _same_value(kw.value, opts[kw.arg])
            ):
                set_opts[name].add(kw.arg)

    receivers = _receivers(trees)
    for path, tree in trees.items():
        referenced.update(_references(tree, own))
        for name, at, calls in _passed_as_values(tree, receivers):
            if name not in ops:
                continue
            if calls is None:
                set_opts[name].update(_options(ops[name][1])[1])
            for call in calls or ():
                count(name, at, call.args, call.keywords)
        for name, args, keywords in _calls(tree):
            if name in ops:
                count(name, path, args, keywords)
    unset = [
        f"{mod}.{name}({opt}=)"
        for name, (mod, fn) in sorted(ops.items())
        for opt in _options(fn)[1]
        if opt not in set_opts[name] and f"{mod}.{name}({opt}=)" not in exempt
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
    rel = {p: os.path.relpath(p, ROOT) for p in trees}
    scanned = {
        p for p, r in rel.items() if r.startswith(ENGINE + os.sep)
        and not r.startswith(UNSCANNED + os.sep)
    }
    frozen = {p for p, r in rel.items() if r.startswith(FROZEN + os.sep)}
    return scan(trees, scanned, frozen, DEPLOYMENT_SETTINGS)


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
        "def aliased(df, scale=2):\n"
        "    return df\n"
        "def exported(df):\n"
        "    return df\n"
        "def pinned(df, metric='x', q=0.9):\n"
        "    return df\n"
        "def deployed(df, key_env='KEY'):\n"
        "    return df\n"
        "def cb(df, col='x'):\n"
        "    return df\n"
    )
    caller_src = (
        '"""See named."""\n'
        "from ops import m\n"
        "from ops.m import aliased as _aliased, deployed\n"
        "op(df, 5, mode='a')\n"
        "m.op(df, used=x)\n"
        "op(df, 5.0, deep=False)\n"
        "kw = dict(at=2, mode='a')\n"
        "op(df, **kw)\n"
        "run(partial(m.hook))\n"
        "_aliased(df, 6)\n"
        "deployed(df)\n"
        "def apply(f, df):\n"
        "    return f(df)\n"
        "apply(m.cb, df)\n"
    )
    init_src = (
        "from ops.m import exported\n"
        "__all__ = ['exported']\n"
    )
    frozen_src = "from ops.m import pinned\npinned(df, 'x', q=0.9)\n"
    trees = {
        "ops/m.py": ast.parse(op_src),
        "ops/__init__.py": ast.parse(init_src),
        "caller.py": ast.parse(caller_src),
        "frozen/w.py": ast.parse(frozen_src),
    }
    unset, unreferenced = scan(
        trees,
        {"ops/m.py", "ops/__init__.py"},
        frozen={"frozen/w.py"},
        exempt={"m.deployed(key_env=)"},
    )
    assert unset == [
        "m.cb(col=)", "m.idle(n=)", "m.op(k=)", "m.op(mode=)", "m.op(deep=)"
    ]
    assert unreferenced == ["m.exported", "m.idle"]
