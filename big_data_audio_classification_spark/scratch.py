"""Process-unique scratch dir for sink round-trip queries.

A fresh ``tempfile.mkdtemp`` directory per process: a concurrently running
test suite / oracle gate / bench must not overwrite each other's sink
outputs mid-read. The process that created it removes it at exit; a forked
child inherits the exit hook but not the ownership. Shared by every sink
operator (advanced.py, ml_inference.py, multimodal.py) so the location can
change in one place: a caller may rebind ``SCRATCH_DIR`` before the
operator modules import it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

SCRATCH_DIR = tempfile.mkdtemp(prefix="spark-graft-scratch-")


def _remove(path: str = SCRATCH_DIR, owner: int = os.getpid()) -> None:
    if os.getpid() == owner:
        shutil.rmtree(path, ignore_errors=True)


atexit.register(_remove)
