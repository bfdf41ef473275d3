"""Every defaulted parameter of a package def is set by some call in the
repo (package, tests, tools, perfbench, ``bench.py``,
``__spark_entry__.py``): a behavioural setting that no caller ever
changes is a constant, and the code only another value could reach is
dead.

A call sets a parameter when it passes it by keyword, covers its position
with positional arguments, or passes ``*args``/``**kwargs``.  Calls are
matched by the callee's name (``f(...)`` or ``obj.f(...)``), which can only
over-count the calls a def receives.  Exempt:

- defs passed as a value (referenced other than as a call's callee, or
  handed to a decorator): they are called under another name, so their
  call sites cannot be read here (the ``decode_*`` kernels, UDF bodies,
  registered queries);
- parameters whose name is in ``DATA_OR_DEPLOYMENT`` below.
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "nqs_console_flink_window_spark"
DIRS = [PKG, REPO / "tests", REPO / "tools", REPO / "perfbench"]
FILES = [REPO / "bench.py", REPO / "__spark_entry__.py"]

# Names that say WHICH data a call reads or writes, or WHERE it runs; a
# default here picks the fixture table or a local deployment, not a
# behaviour, so it stays a parameter even while every caller takes it.
DATA_OR_DEPLOYMENT = {
    # tables, files and directories a call reads or writes
    "table", "vec_table", "path", "xml_path", "view_name",
    "stats_src", "hist_src", "med_src", "dev_src",
    # the query a search answers
    "query", "queries", "query_vec", "query_vec_ids",
    # columns of the caller's frame
    "key", "val", "col", "out", "sig", "vec_col", "html_col", "file_col",
    "key_col", "value_col", "text", "n_chars", "cohort",
    # where and how a job is deployed
    "master", "available_now", "mode", "batchsize", "max_retries",
}


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each defaulted parameter; None = keyword-only."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(p.arg, i) for i, p in enumerate(pos)][len(pos) - len(a.defaults):]
    out += [
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]
    return out


def test_every_defaulted_parameter_is_set_by_some_call() -> None:
    trees = {p: ast.parse(p.read_text()) for p in FILES + [
        p for d in DIRS for p in sorted(d.rglob("*.py"))]}
    calls: dict[str, list[ast.Call]] = {}
    as_value: set[str] = set()
    for t in trees.values():
        callees = set()
        for n in ast.walk(t):
            if isinstance(n, ast.Call):
                callees.add(id(n.func))
                name = getattr(n.func, "id", None) or getattr(n.func, "attr", None)
                if name:
                    calls.setdefault(name, []).append(n)
        for n in ast.walk(t):
            if (
                isinstance(n, (ast.Name, ast.Attribute))
                and isinstance(n.ctx, ast.Load)
                and id(n) not in callees
            ):
                as_value.add(getattr(n, "id", None) or n.attr)

    def is_set(fn: ast.FunctionDef, name: str, pos: int | None) -> bool:
        args = fn.args.posonlyargs + fn.args.args
        bound = 1 if args and args[0].arg in ("self", "cls") else 0
        for c in calls.get(fn.name, []):
            if any(isinstance(a, ast.Starred) for a in c.args):
                return True
            if any(k.arg in (None, name) for k in c.keywords):
                return True
            if pos is not None and len(c.args) + bound > pos:
                return True
        return False

    unset = sorted(
        f"{p.relative_to(REPO)}:{fn.lineno}:{fn.name}({name})"
        for p, t in trees.items() if PKG in p.parents
        for fn in ast.walk(t)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and fn.name not in as_value and not fn.decorator_list
        for name, pos in _defaulted(fn)
        if name not in DATA_OR_DEPLOYMENT and not name.endswith("_dir")
        and not is_set(fn, name, pos)
    )
    assert not unset, "defaulted parameters no call sets:\n" + "\n".join(unset)
