"""API-surface sweeps: no column-name option that no caller sets, and no
public function that nothing calls.

The engine's tables are fixed in one place (``domain.BATCH_ANCHOR_SCHEMA``,
``TASK_RESULT_SCHEMA``, the testdata tables), so operators read the column
names those tables have. A parameter that renames a column (named ``col``
or ending in ``_col``, ``_cols`` or ``_key``, with a default) earns its
place only when some call site passes a value for it; otherwise it is one
value in use dressed up as an option, and it must become the literal.

The scan is pure ``ast`` over the package, ``tests/``, ``tools/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py`` (no Spark). A call
is matched to every package function of the called name; a positional or
keyword argument sets the option it lands on, and ``*args``/``**kwargs``
set them all. An argument that only forwards an enclosing function's own
column option (directly or from a closure inside it) counts as set only
if that enclosing option is set somewhere, so a chain of pass-throughs
that nobody starts stays unset.

The function sweep reads the same files. A top-level package function or
class is live when its name is referenced (an ``ast.Name`` or the
attribute of an ``ast.Attribute``) in a package module's top-level code,
anywhere in a test, tool or benchmark file, or in the body of another live
definition. Imports and ``__all__`` strings are not references. Liveness
is matched by name and iterated to a fixpoint.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_NAME = "connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark"
CALLER_PATHS = ("tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")
COLUMN_OPTION = re.compile(r"^(col|.*_(col|cols|key))$")


def _py_files(rel: str):
    path = os.path.join(REPO, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, _dirs, files in os.walk(path):
        for fname in sorted(files):
            if fname.endswith(".py"):
                yield os.path.join(dirpath, fname)


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


class _Fn:
    """One package function: its parameters and its column options."""

    def __init__(self, node: ast.FunctionDef, path: str, is_method: bool):
        self.node, self.path = node, path
        a = node.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        with_default = positional[len(positional) - len(a.defaults) :]
        with_default += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        if is_method and positional[:1] in (["self"], ["cls"]):
            positional = positional[1:]
        self.positional = positional
        self.params = set(positional) | {p.arg for p in a.kwonlyargs}
        self.options = [p for p in with_default if COLUMN_OPTION.match(p)]

    def where(self, param: str) -> str:
        rel = os.path.relpath(self.path, REPO)
        return f"{rel}:{self.node.lineno} {self.node.name}({param})"


def _package_functions(trees: dict[str, ast.Module]) -> dict[int, _Fn]:
    fns: dict[int, _Fn] = {}

    def visit(node, path: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns[id(child)] = _Fn(child, path, isinstance(node, ast.ClassDef))
            visit(child, path)

    for path, tree in trees.items():
        if os.path.relpath(path, REPO).startswith(PKG_NAME + os.sep):
            visit(tree, path)
    return fns


def unset_column_options() -> list[str]:
    """Public package functions' column options that no call site sets."""
    trees = {p: _parse(p) for rel in (PKG_NAME, *CALLER_PATHS) for p in _py_files(rel)}
    fns = _package_functions(trees)
    by_name: dict[str, list[_Fn]] = {}
    for fn in fns.values():
        by_name.setdefault(fn.node.name, []).append(fn)

    # (function id, option) -> sources; None is a direct set, otherwise the
    # (function id, option) of the enclosing option it forwards
    sources: dict[tuple[int, str], list] = {}

    def forwarded(value, stack: list[_Fn]):
        if not isinstance(value, ast.Name):
            return None
        for enclosing in reversed(stack):
            if value.id in enclosing.params:
                if value.id in enclosing.options:
                    return (id(enclosing.node), value.id)
                return None
        return None

    def record(call: ast.Call, stack: list[_Fn]) -> None:
        func = call.func
        name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
        for fn in by_name.get(name, ()):
            star = any(isinstance(a, ast.Starred) for a in call.args)
            star |= any(k.arg is None for k in call.keywords)
            given = list(zip(fn.positional, call.args))
            given += [(k.arg, k.value) for k in call.keywords if k.arg is not None]
            for option in fn.options:
                key = (id(fn.node), option)
                if star:
                    sources.setdefault(key, []).append(None)
                for param, value in given:
                    if param == option:
                        sources.setdefault(key, []).append(forwarded(value, stack))

    def walk(node, stack: list[_Fn]) -> None:
        for child in ast.iter_child_nodes(node):
            inner = stack + [fns[id(child)]] if id(child) in fns else stack
            if isinstance(child, ast.Call):
                record(child, stack)
            walk(child, inner)

    for tree in trees.values():
        walk(tree, [])

    is_set: set[tuple[int, str]] = set()
    changed = True
    while changed:
        changed = False
        for key, srcs in sources.items():
            if key not in is_set and any(s is None or s in is_set for s in srcs):
                is_set.add(key)
                changed = True

    return sorted(
        fn.where(option)
        for fn in fns.values()
        if not fn.node.name.startswith("_")
        for option in fn.options
        if (id(fn.node), option) not in is_set
    )


def test_every_column_option_has_a_caller_that_sets_it():
    unset = unset_column_options()
    assert not unset, (
        "column-name options that no call site sets — read the schema's "
        "column name instead:\n" + "\n".join(unset)
    )


def _referenced_names(node: ast.AST) -> set[str]:
    names = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
    return names


def uncalled_public_definitions() -> list[str]:
    """Public top-level package functions and classes that nothing live
    references."""
    live: set[str] = set()
    # (path, node, names its body references); decorators run at import
    # time, so they count as top-level code
    definitions = []
    for rel in (PKG_NAME, *CALLER_PATHS):
        for path in _py_files(rel):
            tree = _parse(path)
            if rel != PKG_NAME:
                live |= _referenced_names(tree)
                continue
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    for decorator in node.decorator_list:
                        live |= _referenced_names(decorator)
                    body = set()
                    for child in ast.iter_child_nodes(node):
                        if child not in node.decorator_list:
                            body |= _referenced_names(child)
                    definitions.append((path, node, body - {node.name}))
                else:
                    live |= _referenced_names(node)

    changed = True
    while changed:
        changed = False
        for _path, node, body in definitions:
            if node.name in live and not body <= live:
                live |= body
                changed = True

    return sorted(
        f"{os.path.relpath(path, REPO)}:{node.lineno} {node.name}"
        for path, node, _body in definitions
        if not node.name.startswith("_") and node.name not in live
    )


def test_every_public_function_has_a_caller():
    uncalled = uncalled_public_definitions()
    assert not uncalled, (
        "public functions or classes that no product path, test, tool or "
        "benchmark reaches — delete them:\n" + "\n".join(uncalled)
    )
