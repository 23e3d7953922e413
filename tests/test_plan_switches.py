"""Every option a public package function takes has a caller that sets it.

One rule: a parameter of a public function or method in
``rio_cogeo_spark`` that has a default needs a call somewhere in the repo
(tests, scripts and the entry module included) that passes another value.
A default that no call changes is a knob with one value in use, often
with an untested branch behind it; write the value as a constant instead.

A call is resolved through its imports (``from rio_cogeo_spark... import
f``, ``MOD.f``, a name defined in the same package module); a method call
``obj.m(...)`` on anything else counts for every package method ``m``. The
call sets a parameter when it passes, by keyword or position, an
expression other than the default. ``*args`` sets every positional
parameter from its place on, and ``**expr`` (other than a dict literal
with string keys) sets every parameter. Forwarding an enclosing
function's own parameter passes that parameter's default until some call
sets it; the scan iterates to a fixpoint. Anything passed from
``bench.py`` or ``perfbench/`` counts as set: those callers are frozen. A
test parametrized over ``(function, "name")`` rows that calls
``fn(..., **{name: <bool>})`` sets ``name`` to the bools it passes.
Two views of the same rule name the options they cover: bool plan
switches (``broadcast_*``, ``reuse*``, ``materialize_*``, ``salt_*``)
and column parameters (``*_col``, ``*_cols``).

The same pass fails a call that passes a keyword the resolved package
function does not accept, or more positional arguments than it takes:
``scripts/`` and ``bench.py`` are not run by the tests, so a removed
parameter would otherwise survive there as a stale keyword. Pure ``ast``
scan, no Spark.
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
FROZEN = (REPO / "bench.py", REPO / "perfbench")
SET = object()  # a passed value that is not comparable with a default
SWITCH = re.compile(r"^(broadcast_|reuse|materialize_|salt_)")
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


def _module_name(path):
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


@functools.cache
def _trees():
    """``{module name: (path, tree, [(node, enclosing scopes)])}`` for every
    repo file outside hidden directories, each parsed and walked once."""
    out = {}
    with _no_gc():
        for root, dirs, files in os.walk(REPO):
            dirs[:] = sorted(d for d in dirs if not d.startswith("."))
            for name in sorted(f for f in files if f.endswith(".py")):
                path = Path(root) / name
                tree = ast.parse(path.read_text(), filename=str(path))
                out[_module_name(path)] = (path, tree, _walk(tree))
    return out


def _walk(tree):
    """``[(node, scopes)]`` in source order; ``scopes`` are the enclosing
    class and function nodes, outermost first."""
    out = []

    def visit(node, scopes):
        out.append((node, scopes))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda,
                             ast.ClassDef)):
            scopes = scopes + (node,)
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(tree, ())
    return out


def _is_package(path):
    return PACKAGE == path or PACKAGE in path.parents


def _params(fn):
    a = fn.args
    return a.posonlyargs + a.args + a.kwonlyargs


def _defaults(fn):
    """``[(arg, default)]`` for every parameter of ``fn`` with a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    return pairs + [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _value(node):
    """A comparable form of an argument or default expression."""
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return ast.unparse(node)


class _Package:
    """Every package function and method, and each repo module's imports."""

    def __init__(self, trees):
        self.trees = trees
        self.functions = {}  # (module, qualname) -> FunctionDef
        self.methods = {}    # method name -> [(module, qualname)]
        for module, (path, _, nodes) in trees.items():
            if not _is_package(path):
                continue
            for node, scopes in nodes:
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if any(not isinstance(s, ast.ClassDef) for s in scopes):
                    continue  # nested in a function: not importable
                qualname = ".".join([s.name for s in scopes] + [node.name])
                self.functions[(module, qualname)] = node
                if scopes:
                    self.methods.setdefault(node.name, []).append((module, qualname))
        self.bindings = {m: self._bindings(m) for m in trees}

    def _bindings(self, module):
        """``{local name: {target}}``; a target is ``("mod", name)`` or a
        ``(module, qualname)`` function key. Imports at any depth count."""
        path, tree, nodes = self.trees[module]
        out = {}
        if _is_package(path):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    out.setdefault(node.name, set()).add((module, node.name))
        base = module if path.name == "__init__.py" else module.rpartition(".")[0]
        for node, _ in nodes:
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] in self.trees or alias.name in self.trees:
                        local = alias.asname or alias.name.split(".")[0]
                        target = alias.name if alias.asname else local
                        out.setdefault(local, set()).add(("mod", target))
            elif isinstance(node, ast.ImportFrom):
                source = node.module or ""
                if node.level:
                    up = base.split(".")
                    up = up[: len(up) - node.level + 1]
                    source = ".".join(up + ([source] if source else []))
                for alias in node.names:
                    local = alias.asname or alias.name
                    full = f"{source}.{alias.name}"
                    if full in self.trees:
                        out.setdefault(local, set()).add(("mod", full))
                    elif source in self.trees:
                        out.setdefault(local, set()).add((source, alias.name))
        return out

    def _export(self, module, name, seen=()):
        """Function keys ``module.name`` refers to, following re-exports."""
        if (module, name) in self.functions:
            return {(module, name)}
        if (module, name) in seen or module not in self.bindings:
            return set()
        seen = seen + ((module, name),)
        out = set()
        for target in self.bindings[module].get(name, ()):
            if target[0] == "mod":
                continue
            out |= self._export(*target, seen)
        if not out and module == PACKAGE.name:
            # the package root re-exports lazily through __getattr__
            out = {k for k in self.functions if k[1] == name}
        return out

    def _module_of(self, module, node):
        """The module an attribute chain like ``A`` or ``pkg.sub`` names."""
        if isinstance(node, ast.Name):
            mods = {t[1] for t in self.bindings[module].get(node.id, ()) if t[0] == "mod"}
            return mods.pop() if len(mods) == 1 else None
        if isinstance(node, ast.Attribute):
            parent = self._module_of(module, node.value)
            if parent and f"{parent}.{node.attr}" in self.trees:
                return f"{parent}.{node.attr}"
        return None

    def resolve(self, module, func):
        """``(function keys, exact)`` a call's ``func`` refers to; ``exact``
        is False for a method matched by name alone."""
        if isinstance(func, ast.Name):
            out = set()
            for target in self.bindings[module].get(func.id, ()):
                if target[0] != "mod":
                    out |= self._export(*target)
            return out, True
        if isinstance(func, ast.Attribute):
            owner = self._module_of(module, func.value)
            if owner is not None:
                return self._export(owner, func.attr), True
            return set(self.methods.get(func.attr, ())), False
        return set(), False


@functools.cache
def _package():
    return _Package(_trees())


def _positional(fn):
    names = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    return names[1:] if names and names[0] in ("self", "cls") else names


def _bound(fn, call):
    """``[(param name, argument)]`` a call binds; an argument is an AST
    node or ``SET`` when a splat covers the parameter."""
    positional = _positional(fn)
    out = []
    for i, value in enumerate(call.args):
        if isinstance(value, ast.Starred):
            out += [(n, SET) for n in positional[i:]]
            break
        if i < len(positional):
            out.append((positional[i], value))
    for kw in call.keywords:
        if kw.arg is not None:
            out.append((kw.arg, kw.value))
        elif isinstance(kw.value, ast.Dict) and all(
                isinstance(k, ast.Constant) and isinstance(k.value, str)
                for k in kw.value.keys):
            out += [(k.value, v) for k, v in zip(kw.value.keys, kw.value.values)]
        elif not isinstance(kw.value, ast.Dict):
            out += [(p.arg, SET) for p in _params(fn)]
    return out


def _rejected(fn, call, bound):
    """What ``fn`` does not accept of a call: unknown keywords, and
    ``*`` for too many positional arguments."""
    out = set() if fn.args.kwarg else {n for n, _ in bound} - {p.arg for p in _params(fn)}
    plain = [a for a in call.args if not isinstance(a, ast.Starred)]
    if len(plain) > len(_positional(fn)) and not fn.args.vararg:
        out.add("*")
    return sorted(out)


def _rebinds(fn, name):
    return any(isinstance(n, ast.Name) and n.id == name and isinstance(n.ctx, ast.Store)
               for n in ast.walk(fn))


@functools.cache
def _scan():
    """``(options, passes, stale)``: ``options`` maps each defaulted public
    parameter ``(module, qualname, param)`` to its default; ``passes``
    maps it to every argument a call binds to it, as ``(value, forwarded
    from, frozen)``; ``stale`` lists calls with an argument no resolved
    package function accepts."""
    pkg = _package()
    options = {}
    for (module, qualname), fn in pkg.functions.items():
        if not any(part.startswith("_") for part in qualname.split(".")):
            for param, default in _defaults(fn):
                options[(module, qualname, param.arg)] = _value(default)
    scope_keys = {id(fn): key for key, fn in pkg.functions.items()}
    passes = {key: [] for key in options}
    stale = []
    for module, (path, _, nodes) in _trees().items():
        frozen = any(path == f or f in path.parents for f in FROZEN)
        for node, scopes in nodes:
            if not isinstance(node, ast.Call):
                continue
            keys, exact = pkg.resolve(module, node.func)
            errors = []
            for key in keys:
                bound = _bound(pkg.functions[key], node)
                errors.append(_rejected(pkg.functions[key], node, bound))
                for name, value in bound:
                    if (*key, name) in passes:
                        source = _forwarded(value, scopes, scope_keys)
                        passes[(*key, name)].append((value, source, frozen))
            if exact and errors and all(errors):
                where = f"{path.relative_to(REPO)}:{node.lineno}"
                stale.append(f"{where} {ast.unparse(node.func)}: {errors[0]}")
    return options, passes, stale


def _forwarded(value, scopes, scope_keys):
    """``(module, qualname, param)`` when ``value`` names a parameter of
    the innermost enclosing package function that binds it and never
    rebinds it; ``SET`` when another scope binds it; else None."""
    if not isinstance(value, ast.Name):
        return None
    for scope in reversed(scopes):
        if isinstance(scope, ast.ClassDef):
            continue
        if value.id in [p.arg for p in _params(scope)]:
            key = scope_keys.get(id(scope))
            if key is None or _rebinds(scope, value.id):
                return SET
            return (*key, value.id)
    return None


def _parametrized_credit(options):
    """Options set by a test parametrized over ``(function, "name")`` rows
    whose body splats ``**{name: <bool>}``."""
    pkg = _package()
    out = set()
    for module, (_, _, nodes) in _trees().items():
        for node, _ in nodes:
            if not isinstance(node, ast.FunctionDef) or not any(
                    isinstance(d, ast.Call) and getattr(d.func, "attr", None) == "parametrize"
                    for d in node.decorator_list):
                continue
            splat = {
                v.value for call in ast.walk(node) if isinstance(call, ast.Call)
                for kw in call.keywords if kw.arg is None and isinstance(kw.value, ast.Dict)
                for v in kw.value.values
                if isinstance(v, ast.Constant) and isinstance(v.value, bool)
            }
            rows = (r for d in node.decorator_list for r in ast.walk(d)
                    if isinstance(r, ast.Tuple))
            for row in rows if splat else ():
                names = [e.value for e in row.elts
                         if isinstance(e, ast.Constant) and isinstance(e.value, str)]
                for element in row.elts:
                    for key in pkg.resolve(module, element)[0]:
                        for name in names:
                            option = (*key, name)
                            if option in options and {repr(b) for b in splat} - {options[option]}:
                                out.add(option)
    return out


def _sets(default, value, source, frozen, options, settled):
    """Whether one argument passed to an option with ``default`` sets it."""
    if frozen or value is SET or source is SET:
        return True
    if source is None:
        return _value(value) != default
    if source not in options:
        return True  # a required parameter: each call of the forwarder sets it
    return source in settled or options[source] != default


def unset_options():
    """``{(module, qualname, param)}`` for every option no call sets."""
    options, passes, _ = _scan()
    settled = _parametrized_credit(options)
    grew = True
    while grew:
        grew = False
        for option, seen in passes.items():
            if option not in settled and any(
                    _sets(options[option], *arg, options, settled) for arg in seen):
                settled.add(option)
                grew = True
    return set(options) - settled


def test_every_option_has_a_caller_that_sets_it():
    options, _, _ = _scan()
    assert len(options) > 100, "scan found few defaulted parameters; the package path is stale"
    unset = sorted(f"{m.rpartition('.')[2]}.{q}({p})" for m, q, p in unset_options())
    assert not unset, (
        "parameters whose default no call changes; fix the value as a "
        f"constant and delete the parameter: {unset}"
    )


def test_every_plan_switch_has_a_caller_that_flips_it():
    options, _, _ = _scan()
    switches = {k for k, d in options.items() if SWITCH.match(k[2]) and d in ("True", "False")}
    assert switches, "scan found no plan switches; the pattern or package path is stale"
    unflipped = sorted(f"{m.rpartition('.')[2]}.{q}({p}={options[(m, q, p)]})"
                       for m, q, p in unset_options() & switches)
    assert not unflipped, (
        "plan switches whose other value no call passes; delete the switch "
        f"and keep the path callers run: {unflipped}"
    )


def test_every_column_parameter_has_a_caller_that_sets_it():
    options, _, _ = _scan()
    columns = {k for k in options if COLUMN.search(k[2])}
    assert columns, "scan found no column parameters; the pattern or package path is stale"
    single = sorted(f"{m.rpartition('.')[2]}.{q}({p})" for m, q, p in unset_options() & columns)
    assert not single, (
        "column parameters that no call sets to another value; write the "
        f"column name as a literal and delete the parameter: {single}"
    )


def test_every_call_passes_only_accepted_arguments():
    _, _, stale = _scan()
    assert not stale, f"calls passing arguments the package function does not take: {stale}"
