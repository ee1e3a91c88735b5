"""Structural guard: every top-level function and class in
``lab3_spark/`` is reached from the program, not only from tests.

A name counts as used when the engine, ``bench.py``, ``tools/``,
``perfbench/`` or ``__spark_entry__.py`` refers to it (as a name, an
attribute or an import) outside its own body.  ``@query`` functions
are reached through the catalog registry and are exempt.  Code that
only tests call is a second implementation to keep in step; delete it
with its tests, or name here why a test needs it.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ("lab3_spark", "bench.py", "tools", "perfbench", "__spark_entry__.py")

ALLOWED = {
    # the Catalyst-expression assignment is the only reference the
    # production Arrow kernel (kmeans._assign_arrow) is tested against
    "assign_expr_frame",
}


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _names(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _is_query(fn):
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in fn.decorator_list
    )


def _unreached():
    defined = []
    used = set()
    for rel in PROGRAM:
        for path in _py_files(rel):
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in tree.body:
                names = _names(node)
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    names.discard(node.name)  # its own body does not count
                    if rel == "lab3_spark" and not _is_query(node):
                        defined.append((os.path.relpath(path, ROOT), node.name))
                used |= names
    return {name: path for path, name in defined if name not in used}


def test_no_engine_code_only_tests_reach():
    unreached = _unreached()
    extra = {n: p for n, p in unreached.items() if n not in ALLOWED}
    assert not extra, f"engine code reached only from tests or nowhere: {extra}"


def test_allowlist_is_still_needed():
    assert ALLOWED <= set(_unreached()), "remove stale entries from ALLOWED"


def _engine_functions():
    """(relative path, top-level FunctionDef, its source) for every
    engine function."""
    for path in _py_files("lab3_spark"):
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for node in ast.parse(text, path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield os.path.relpath(path, ROOT), node, ast.get_source_segment(text, node)


def test_prefix_offsets_only_in_rank():
    """The exclusive-prefix offset window — a sum over
    ``one_window_partition()`` framed ``(unboundedPreceding, -1)`` —
    is operators/rank.py's one offset primitive; any other copy is a
    second implementation of per-partition offsets."""
    import re

    frame = re.compile(r"(rows|range)Between\(\s*Window\.unboundedPreceding,\s*-1\s*\)")
    copies = [
        f"{path}:{fn.name}"
        for path, fn, src in _engine_functions()
        if path != os.path.join("lab3_spark", "operators", "rank.py")
        and "one_window_partition" in src
        and frame.search(src)
        and ".sum(" in src
    ]
    assert not copies, f"exclusive-prefix offset window outside rank.py: {copies}"


def test_no_grouped_twin():
    """A keyed computation is one function whose key list may be empty:
    no ``grouped_X`` next to an ``X``."""
    names = {fn.name for _, fn, _ in _engine_functions()}
    twins = sorted(n for n in names if n.startswith("grouped_") and n[8:] in names)
    assert not twins, f"grouped twins of a global function: {twins}"
