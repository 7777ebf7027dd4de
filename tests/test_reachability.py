"""Three static censuses of the engine, so that code, options and
locals that production never uses cannot grow back. Stdlib ``ast`` only;
no Spark session.

Reachability: every top-level engine definition must be reached from
production code.

* Nodes: top-level ``def``/``class`` statements in ``etl_inreach_spark/``,
  and module-level assignments to plain names (one node per name).
* Roots: ``@query``-decorated functions; the other module-level statements
  except imports, plus the re-exports in ``__init__.py``; every name used
  in ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and non-test
  ``perfbench/*.py``.
* Edges: a ``Name``, ``Attribute`` or import alias inside a reached node
  reaches every engine definition with that name.

Matching by name over-approximates reachability, so it can only miss dead
code; it never flags live code.

Options: every parameter of an engine function must receive at least two
values across its call sites (see ``single_valued_options``). A defaulted
parameter counts its default wherever a call omits it. A required parameter
is single-valued only when every call passes the same literal: a source text
that ``ast.literal_eval`` accepts (a str, a number, or a tuple/list of them).
A name counts as its literal when the calling module binds it exactly once,
at module level, to an immutable literal (``SIMHASH_BITS = 60``); other
names, Column expressions, calls and ``*args``/``**kwargs`` are dynamic.
``@query`` functions are skipped: ``(spark, sf_dir)`` is the driver contract.
Production call sites decide whether a parameter has one value; test call
sites add values only when that value is a number, which tests shrink to
stand in for scale.

Locals: every name an engine function assigns must also be read in it or in
a function nested in it (see ``dead_locals``); ``_``-prefixed names are
exempt.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "etl_inreach_spark"

# Unreached by production on purpose. Empty: the references tests compare
# production code against live in tests/references.py.
KEPT_REFERENCES: set[tuple[str, str]] = set()

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _names(tree: ast.AST) -> set[str]:
    """Every identifier a subtree uses: names, attributes, import aliases."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.update(node.name.split("."))
    return out


def _is_query(fn: ast.AST) -> bool:
    for deco in getattr(fn, "decorator_list", ()):
        target = deco.func if isinstance(deco, ast.Call) else deco
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", None)
        if name == "query":
            return True
    return False


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _engine_modules() -> list[tuple[str, ast.Module]]:
    """``(relpath, tree)`` of every engine module, in path order."""
    paths = sorted(glob.glob(os.path.join(REPO, ENGINE, "**", "*.py"), recursive=True))
    return [(os.path.relpath(p, REPO).replace(os.sep, "/"), _parse(p)) for p in paths]


def _assigned_names(stmt: ast.stmt) -> list[str]:
    """Plain names a module-level assignment binds; [] for anything else."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    return names


def unreached() -> list[tuple[str, int, str]]:
    """``(relpath, line, name)`` of every engine definition no root reaches."""
    by_name: dict[str, list[tuple[str, int, str]]] = {}
    nodes: dict[tuple[str, int, str], ast.AST] = {}
    frontier: list[ast.AST] = []
    for rel, tree in _engine_modules():
        init = rel.endswith("__init__.py")
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                names = [stmt.name]
            else:
                names = [] if init else _assigned_names(stmt)
            for name in names:
                key = (rel, stmt.lineno, name)
                nodes[key] = stmt
                by_name.setdefault(name, []).append(key)
            if not names and (not isinstance(stmt, _IMPORTS) or init):
                frontier.append(stmt)
    reached = {key for key, stmt in nodes.items() if _is_query(stmt)}
    frontier += [nodes[key] for key in reached]
    for pattern in ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py"):
        frontier += [_parse(path) for path in sorted(glob.glob(os.path.join(REPO, pattern)))]

    while frontier:
        for name in _names(frontier.pop()):
            for key in by_name.get(name, ()):
                if key not in reached:
                    reached.add(key)
                    frontier.append(nodes[key])
    return sorted(set(nodes) - reached)


def test_only_kept_references_are_unreached():
    found = unreached()
    new = [f"{rel}:{line} {name}" for rel, line, name in found if (rel, name) not in KEPT_REFERENCES]
    assert not new, "engine definitions only tests reach:\n" + "\n".join(new)
    # a kept reference that production now reaches leaves the allow-list
    assert {(rel, name) for rel, _, name in found} == KEPT_REFERENCES


# Files whose calls decide the values an engine parameter takes.
CALLERS = ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py")
# Test files: their calls add values only to a numeric parameter, which tests
# shrink to stand in for scale.
TEST_CALLERS = ("tests/*.py", "perfbench/tests/*.py")


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _params(fn: ast.FunctionDef) -> dict[str, ast.expr | None]:
    """Parameter name -> default expression, or None when it is required."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out: dict[str, ast.expr | None] = dict.fromkeys(arg.arg for arg in pos)
    out.update({arg.arg: d for arg, d in zip(pos[len(pos) - len(a.defaults) :], a.defaults)})
    out.update({arg.arg: d for arg, d in zip(a.kwonlyargs, a.kw_defaults)})
    return out


def _literal(arg: ast.expr) -> str | None:
    """Source text of a literal argument; None if it is not a literal."""
    try:
        ast.literal_eval(arg)
    except ValueError:
        return None
    return ast.unparse(arg)


def _is_number(text: str) -> bool:
    """An int or float literal, or constant arithmetic over them (``1 << 17``)."""
    return all(
        isinstance(n, (ast.BinOp, ast.UnaryOp, ast.operator, ast.unaryop))
        or (isinstance(n, ast.Constant) and type(n.value) in (int, float))
        for n in ast.walk(ast.parse(text, mode="eval").body)
    )


def _constants(tree: ast.Module) -> dict[str, str]:
    """Name -> literal source text for every name the module binds exactly
    once, by a module-level assignment of a literal (``SIMHASH_BITS = 60``).
    Any other binding of the name (a parameter, a local, an import, a
    definition) makes it a variable, not a constant."""
    binds: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
            name = node.id
        elif isinstance(node, ast.arg):
            name = node.arg
        elif isinstance(node, ast.alias):
            name = node.asname or node.name.split(".")[0]
        elif isinstance(node, (*_DEFS, ast.ExceptHandler)) and node.name:
            name = node.name
        else:
            continue
        binds[name] = binds.get(name, 0) + 1
    out = {}
    for stmt in tree.body:
        names = _assigned_names(stmt)
        if len(names) == 1 and binds[names[0]] == 1:
            text = _literal(stmt.value)
            mutable = (ast.List, ast.Dict, ast.Set)
            if text is not None and not any(isinstance(n, mutable) for n in ast.walk(stmt.value)):
                out[names[0]] = text
    return out


def _value(
    call: ast.Call,
    positions: list[str],
    param: str,
    default: ast.expr | None,
    consts: dict[str, str],
    fn_consts: dict[str, str],
) -> str | None:
    """Source text of the value ``param`` takes at ``call``; None if dynamic:
    a bare name that is not a constant of the calling module (``consts``),
    an argument that ``*args``/``**kwargs`` may supply, or a non-literal
    passed to a required parameter. A constant counts as its literal, and
    so does a default that names a constant of the function's own module
    (``fn_consts``)."""
    passed = next((kw.value for kw in call.keywords if kw.arg == param), None)
    idx = positions.index(param) if param in positions else None
    star = next((i for i, a in enumerate(call.args) if isinstance(a, ast.Starred)), None)
    if passed is None and idx is not None and idx < len(call.args):
        passed = call.args[idx] if star is None or idx < star else None
    if passed is not None:
        if isinstance(passed, ast.Name):
            return consts.get(passed.id)
        return _literal(passed) if default is None else ast.unparse(passed)
    if default is None or (idx is not None and star is not None):
        return None
    if any(kw.arg is None for kw in call.keywords):
        return None
    if isinstance(default, ast.Name):
        return fn_consts.get(default.id, ast.unparse(default))
    return ast.unparse(default)


def single_valued_options() -> list[tuple[str, int, str, str, str]]:
    """``(relpath, line, function, param, value)`` for every parameter that
    takes exactly one value over all its call sites.

    * Nodes: parameters of top-level engine functions whose name no other
      top-level engine definition shares; ``@query`` functions, kept
      references and functions never called directly are skipped.
    * Call sites: every call whose callee name or attribute matches, in the
      engine and in ``CALLERS``; they decide whether the parameter has one
      value. Calls in ``TEST_CALLERS`` add values only when that value is a
      number (``_is_number``).
    * Value at a call: an omitted argument counts as the default's source
      text, a passed one as its ``ast.unparse``; a module constant
      (``_constants``) counts as its literal; any other bare name, ``*args``
      or ``**kwargs`` is dynamic and counts as distinct from every other
      value. A required parameter's value is its argument's source text when
      that is a literal (``ast.literal_eval`` accepts it) or a constant, and
      dynamic otherwise.
    """
    fns: dict[str, tuple[str, ast.FunctionDef, dict[str, str]]] = {}
    counts: dict[str, int] = {}
    modules = _engine_modules()
    for rel, tree in modules:
        consts = _constants(tree)
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                counts[stmt.name] = counts.get(stmt.name, 0) + 1
                if (
                    isinstance(stmt, ast.FunctionDef)
                    and not _is_query(stmt)
                    and (rel, stmt.name) not in KEPT_REFERENCES
                ):
                    fns[stmt.name] = (rel, stmt, consts)
    sources = [(False, tree) for _, tree in modules]
    for is_test, patterns in ((False, CALLERS), (True, TEST_CALLERS)):
        for pattern in patterns:
            paths = sorted(glob.glob(os.path.join(REPO, pattern)))
            sources += [(is_test, _parse(path)) for path in paths]
    # callee name -> [(call, constants of the calling module)]
    calls: dict[str, list[tuple[ast.Call, dict[str, str]]]] = {}
    test_calls: dict[str, list[tuple[ast.Call, dict[str, str]]]] = {}
    for is_test, tree in sources:
        consts = _constants(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node) in fns:
                site = (node, consts)
                (test_calls if is_test else calls).setdefault(_callee(node), []).append(site)

    found = []
    for name, (rel, fn, fn_consts) in sorted(fns.items()):
        if counts[name] > 1 or name not in calls:
            continue
        positions = [a.arg for a in fn.args.posonlyargs + fn.args.args]
        for param, default in _params(fn).items():
            values = {
                _value(c, positions, param, default, consts, fn_consts)
                for c, consts in calls[name]
            }
            if len(values) != 1 or None in values:
                continue
            value = values.pop()
            if _is_number(value) and any(
                _value(c, positions, param, default, consts, fn_consts) != value
                for c, consts in test_calls.get(name, ())
            ):
                continue
            found.append((rel, fn.lineno, name, param, value))
    return found


def test_every_engine_option_takes_two_values():
    found = single_valued_options()
    assert not found, "engine options that only ever take one value:\n" + "\n".join(
        f"{rel}:{line} {fn}.{param} = {value}" for rel, line, fn, param, value in found
    )


def dead_locals() -> list[tuple[str, int, str, str]]:
    """``(relpath, line, function, name)`` for every name an engine
    function (at any nesting depth) binds as a plain-name target and that
    no ``Name`` in its body — nested functions and lambdas included —
    reads. Names declared ``global``/``nonlocal`` and ``_``-prefixed
    names are skipped."""
    found = []
    for rel, tree in _engine_modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            stored: dict[str, int] = {}
            read: set[str] = set()
            for node in ast.walk(fn):
                if isinstance(node, ast.Name):
                    if isinstance(node.ctx, ast.Store):
                        stored.setdefault(node.id, node.lineno)
                    else:
                        read.add(node.id)
                elif isinstance(node, (ast.Global, ast.Nonlocal)):
                    read.update(node.names)
            found += [
                (rel, line, fn.name, name)
                for name, line in stored.items()
                if name not in read and not name.startswith("_")
            ]
    return sorted(found)


def test_every_engine_local_is_read():
    found = dead_locals()
    assert not found, "engine locals assigned but never read:\n" + "\n".join(
        f"{rel}:{line} {fn}.{name}" for rel, line, fn, name in found
    )
