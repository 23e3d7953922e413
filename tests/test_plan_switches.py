"""Every boolean plan switch in the package has a caller that flips it.

A parameter named ``broadcast_*``, ``reuse*``, ``materialize_*`` or
``salt_*`` with a bool default selects between two physical plans. If no
call in the repo (tests included) passes the opposite literal, the second
plan is code that nothing runs; delete it instead of keeping the switch.
A call counts as ``f(..., switch=<bool>)``, or as ``fn(..., **{switch:
<bool>})`` inside a test whose parametrize rows pair ``f`` with the
string ``"switch"``. Pure ``ast`` scan, no Spark.
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "rio_cogeo_spark"
PREFIX = r"(broadcast_|reuse|materialize_|salt_)"
SWITCH = re.compile("^" + PREFIX)


def _trees():
    """``{path: module}`` for every repo file that mentions a switch name."""
    trees = {}
    for path in sorted(REPO.rglob("*.py")):
        if any(part.startswith(".") for part in path.relative_to(REPO).parts):
            continue
        text = path.read_text()
        if re.search(r"\b" + PREFIX, text):
            trees[path] = ast.parse(text, filename=str(path))
    return trees


def _switches(trees):
    """``{(function, param): default}`` for every bool plan switch."""
    found = {}
    for tree in trees:
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
            pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for param, default in pairs:
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
        for node in ast.walk(tree):
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
    switches = _switches(t for p, t in trees.items() if PACKAGE in p.parents)
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
