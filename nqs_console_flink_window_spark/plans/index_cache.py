"""One per-process cache of the standing indexes the ``*_indexed``
registry queries read.

A real user queries a standing index thousands of times, so rebuilding
it per call would measure the wrong thing: each (kind, corpus dir) is
built once per process.  Every build goes into a fresh temp dir, so the
index is always current-layout (never a stale on-disk artifact of an
older build) and never shared with a concurrent process (no overwrite
races).  The dir is removed at interpreter exit, so repeated
gate/bench/soak runs do not accumulate corpus-scale dead indexes on
disk.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

_PATHS: dict[tuple[str, str], str] = {}


def cached_index(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Path of the ``kind`` index over ``sf_dir``; ``build(path)`` writes
    it on the first call of the process."""
    path = _PATHS.get((kind, sf_dir))
    if path is None:
        base = tempfile.mkdtemp(prefix=f"nqs_{kind}_index_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = base + "/index"
        build(path)
        _PATHS[(kind, sf_dir)] = path
    return path
