"""Kill a fold or delete at one step of its staged-commit rewrite, as a
crash would, by failing the filesystem call that starts the next step.

Steps, in protocol order:

- ``"before_commit"``: the manifest's tmp file is written but not renamed
  into place, so the dataset must come out untouched;
- ``"after_commit"``: the manifest is renamed into place, and nothing of
  it is applied yet;
- ``"mid_move"``: the first staged file has moved in, the others have not;
- ``"before_unlink"``: every staged file has moved in, and no input is
  unlinked yet, so each input row is on disk twice.

``where`` limits the crash to calls whose path contains it (a sidecar's
root, say).  The crash fires once; later calls run as usual."""

from __future__ import annotations

import contextlib
import pathlib

import pytest


class Crash(RuntimeError):
    pass


@contextlib.contextmanager
def crash_at(step: str, where: str = ""):
    real_rename, real_unlink = pathlib.Path.rename, pathlib.Path.unlink
    armed = [True]

    def fire(path: pathlib.Path, hit: bool) -> bool:
        if armed[0] and hit and where in str(path):
            armed[0] = False
            return True
        return False

    def rename(self, target):
        commit = self.name.endswith(".tmp")
        if fire(self, step == "before_commit" and commit):
            raise Crash(step)
        out = real_rename(self, target)
        if fire(self, step == "after_commit" and commit) or fire(
            self, step == "mid_move" and self.suffix == ".parquet"
        ):
            raise Crash(step)
        return out

    def unlink(self, missing_ok=False):
        if fire(self, step == "before_unlink" and self.suffix == ".parquet"
                and self.exists()):
            raise Crash(step)
        return real_unlink(self, missing_ok=missing_ok)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pathlib.Path, "rename", rename)
        mp.setattr(pathlib.Path, "unlink", unlink)
        with pytest.raises(Crash):
            yield
