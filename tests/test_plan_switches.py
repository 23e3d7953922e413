"""Every plan switch and column parameter in the package has a caller
that sets it to another value.

A parameter named ``broadcast_*``, ``reuse*``, ``materialize_*`` or
``salt_*`` with a bool default selects between two physical plans. If no
call in the repo (tests included) passes the opposite literal, the second
plan is code that nothing runs; delete it instead of keeping the switch.
A call counts as ``f(..., switch=<bool>)``, or as ``fn(..., **{switch:
<bool>})`` inside a test whose parametrize rows pair ``f`` with the
string ``"switch"``.

A public parameter named ``*_col``/``*_cols`` with a default renames an
input or output column. The operators read fixed-schema tables, so a
name that no call sets to another value is written as a literal instead.
A call sets it when it passes, by keyword or position, anything but the
default literal; forwarding a same-named parameter counts only when that
parameter is itself set somewhere. Pure ``ast`` scan, no Spark.
"""

import ast
import contextlib
import functools
import gc
import os
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "rio_cogeo_spark"
PREFIX = r"(broadcast_|reuse|materialize_|salt_)"
SWITCH = re.compile("^" + PREFIX)
COLUMN = re.compile(r"_cols?$")


@contextlib.contextmanager
def _no_gc():
    """Pause the cyclic collector: the scan keeps ~300k AST nodes alive,
    and each automatic collection would walk all of them again."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if enabled:
            gc.enable()


@functools.cache
def _trees():
    """``{path: module}`` for every repo file outside hidden directories,
    each parsed and walked once."""
    trees = {}
    with _no_gc():
        for root, dirs, files in os.walk(REPO):
            dirs[:] = sorted(d for d in dirs if not d.startswith("."))
            for name in sorted(f for f in files if f.endswith(".py")):
                path = Path(root) / name
                trees[path] = ast.parse(path.read_text(), filename=str(path))
                _nodes(trees[path])
    return trees


@functools.cache
def _nodes(tree):
    """``[(node, enclosing functions)]`` over ``tree``, walked once."""
    out = []

    def visit(node, scopes):
        out.append((node, scopes))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            scopes = scopes + (node,)
        for field in node._fields:
            value = getattr(node, field, None)
            for child in value if isinstance(value, list) else (value,):
                if isinstance(child, ast.AST):
                    visit(child, scopes)

    visit(tree, ())
    return out


def _package(trees):
    return [t for p, t in trees.items() if PACKAGE in p.parents]


def _functions(trees):
    for tree in trees:
        for node, _ in _nodes(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield node


def _defaults(fn):
    """``[(arg, default)]`` for every parameter of ``fn`` with a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    return pairs + [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _switches(trees):
    """``{(function, param): default}`` for every bool plan switch."""
    found = {}
    for node in _functions(trees):
        for param, default in _defaults(node):
            if (SWITCH.match(param.arg) and isinstance(default, ast.Constant)
                    and isinstance(default.value, bool)):
                found[(node.name, param.arg)] = default.value
    return found


def _name(node):
    return node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)


def _bools(nodes):
    return {n.value for n in nodes if isinstance(n, ast.Constant) and isinstance(n.value, bool)}


def _is_parametrized(fn):
    return any(_name(getattr(d, "func", None)) == "parametrize" for d in fn.decorator_list)


def _flipped_literals(trees):
    """``{(callee, keyword): {literal bools passed}}`` over every call."""
    seen = {}
    for tree in trees:
        for node, _ in _nodes(tree):
            if isinstance(node, ast.Call):
                for kw in node.keywords:
                    for b in _bools([kw.value] if kw.arg else []):
                        seen.setdefault((_name(node.func), kw.arg), set()).add(b)
            elif isinstance(node, ast.FunctionDef) and _is_parametrized(node):
                # parametrized over (function, switch): credit each row
                # with the bools the body splats in via **{switch: ...}
                splat = _bools(
                    v for call in ast.walk(node) if isinstance(call, ast.Call)
                    for kw in call.keywords if kw.arg is None and isinstance(kw.value, ast.Dict)
                    for v in kw.value.values
                )
                for row in (r for d in node.decorator_list for r in ast.walk(d)):
                    if splat and isinstance(row, ast.Tuple):
                        keys = [e.value for e in row.elts if isinstance(e, ast.Constant)
                                and isinstance(e.value, str)]
                        for fn in filter(None, map(_name, row.elts)):
                            for key in keys:
                                seen.setdefault((fn, key), set()).update(splat)
    return seen


def test_every_plan_switch_has_a_caller_that_flips_it():
    trees = _trees()
    switches = _switches(_package(trees))
    assert switches, "scan found no switches; the pattern or package path is stale"
    seen = _flipped_literals(trees.values())
    unflipped = sorted(
        f"{fn}({param}={default})"
        for (fn, param), default in switches.items()
        if (not default) not in seen.get((fn, param), set())
    )
    assert not unflipped, (
        "plan switches whose other value no call passes; delete the switch "
        f"and keep the path callers run: {unflipped}"
    )


def _literal(node):
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return None


def _column_passes(trees, params):
    """``{(callee, param): [(value, enclosing functions)]}`` for every
    argument a call passes to a column parameter, by keyword or position."""
    positions = {}
    for fn in _functions(_package(trees)):
        names = [a.arg for a in fn.args.posonlyargs + fn.args.args]
        positions.setdefault(fn.name, []).append(names)
    passes = {key: [] for key in params}
    for tree in trees.values():
        for node, scopes in _nodes(tree):
            if not (isinstance(node, ast.Call) and (f := _name(node.func))):
                continue
            args = [(kw.arg, kw.value) for kw in node.keywords if kw.arg]
            for names in positions.get(f, []):
                for i, value in enumerate(node.args):
                    if isinstance(value, ast.Starred):
                        # unknown positions from here on: count as set
                        args += [(n, value) for n in names[i:]]
                        break
                    if i < len(names):
                        args.append((names[i], value))
            for param, value in args:
                if (f, param) in passes:
                    passes[(f, param)].append((value, scopes))
    return passes


def _forwarded_from(value, scopes):
    """``(function, param)`` when ``value`` names a parameter of an
    enclosing ``def``, else None."""
    if not isinstance(value, ast.Name):
        return None
    for scope in reversed(scopes):
        a = scope.args
        if value.id in [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]:
            return None if isinstance(scope, ast.Lambda) else (scope.name, value.id)
    return None


def test_every_column_parameter_has_a_caller_that_sets_it():
    trees = _trees()
    params = {}
    for fn in _functions(_package(trees)):
        if not fn.name.startswith("_"):
            for param, default in _defaults(fn):
                if COLUMN.search(param.arg):
                    params.setdefault((fn.name, param.arg), set()).add(_literal(default))
    assert params, "scan found no column parameters; the pattern or package path is stale"
    passes = _column_passes(trees, params)
    # a same-named forward sets the callee only if the forwarder's own
    # parameter is set somewhere; iterate until no new parameter is set
    overridden, grew = set(), True
    while grew:
        grew = False
        for key, seen in passes.items():
            if key in overridden:
                continue
            for value, scopes in seen:
                source = _forwarded_from(value, scopes)
                if source is not None and source[1] == key[1]:
                    if source in params and source not in overridden:
                        continue
                elif _literal(value) in params[key] - {None}:
                    continue
                overridden.add(key)
                grew = True
                break
    single = sorted(f"{fn}({param})" for fn, param in set(params) - overridden)
    assert not single, (
        "column parameters that no call sets to another value; write the "
        f"column name as a literal and delete the parameter: {single}"
    )
