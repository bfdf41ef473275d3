"""Every top-level def, class and ``import ... as`` alias in the package
is referenced by some Python file of the repo (package, tests, tools,
perfbench, ``bench.py``, ``__spark_entry__.py``); a ``@register``
decoration counts as a use, since the registry reaches the query
through it."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "nqs_console_flink_window_spark"
DIRS = [PKG, REPO / "tests", REPO / "tools", REPO / "perfbench"]
FILES = [REPO / "bench.py", REPO / "__spark_entry__.py"]


def test_no_unreferenced_package_defs() -> None:
    trees = {p: ast.parse(p.read_text()) for p in FILES + [
        p for d in DIRS for p in sorted(d.rglob("*.py"))]}
    used = {getattr(n, "id", None) or getattr(n, "attr", None)
            or n.name.rsplit(".", 1)[-1]
            for t in trees.values() for n in ast.walk(t)
            if isinstance(n, (ast.Name, ast.Attribute, ast.alias))}
    defined = [
        (f"{p.relative_to(REPO)}:{n.name}", n.name)
        for p, t in trees.items() if PKG in p.parents for n in t.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not any("register" in ast.unparse(d) for d in n.decorator_list)
    ] + [
        (f"{p.relative_to(REPO)}:{a.asname}", a.asname)
        for p, t in trees.items() if PKG in p.parents for n in t.body
        if isinstance(n, ast.ImportFrom) for a in n.names
        if a.asname not in (None, a.name)
    ]
    dead = sorted(where for where, name in defined if name not in used)
    assert not dead, "\n".join(dead)
