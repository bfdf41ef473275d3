"""Every fold and delete commits through the one crash-safe rewrite in
``sinks/writers.py`` (``_rewrite``).  Its manifest fsync is the only
fsync there, and the operator and streaming layers rename, remove and
fsync no file themselves, so a second staged-commit protocol cannot
come back unnoticed.

Calls are matched by the callee's name (``os.fsync(...)``,
``path.rename(...)``, ``shutil.rmtree(...)``), so a mention in a
docstring or comment does not count."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "nqs_console_flink_window_spark"
FILE_OPS = {"rename", "rmtree", "unlink", "fsync"}


def _calls(path: pathlib.Path) -> list[tuple[str, str]]:
    """(enclosing top-level def, callee name) of every call in ``path``."""
    out = []
    for top in ast.parse(path.read_text()).body:
        where = getattr(top, "name", "<module>")
        for n in ast.walk(top):
            if isinstance(n, ast.Call):
                name = getattr(n.func, "attr", None) or getattr(n.func, "id", None)
                out.append((where, name))
    return out


def test_one_fsync_in_the_rewrite_core() -> None:
    fsyncs = [w for w, name in _calls(PKG / "sinks" / "writers.py") if name == "fsync"]
    assert fsyncs == ["_rewrite"], fsyncs


def test_operators_and_streaming_move_no_files() -> None:
    found = sorted(
        f"{p.relative_to(REPO)}:{where}:{name}"
        for layer in ("operators", "streaming")
        for p in sorted((PKG / layer).rglob("*.py"))
        for where, name in _calls(p)
        if name in FILE_OPS
    )
    assert not found, "file moves outside sinks/:\n" + "\n".join(found)
