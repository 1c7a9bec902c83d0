"""The sink scratch directory is a fresh temp dir, removed at exit by the
process that created it and by no other."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_dir_is_removed_at_exit_by_its_creator_only():
    code = textwrap.dedent("""
        import os, sys
        from big_data_audio_classification_spark import scratch
        print(scratch.SCRATCH_DIR, flush=True)
        pid = os.fork()
        if pid == 0:
            sys.exit(0)  # runs the exit hook it inherited
        os.waitpid(pid, 0)
        print(os.path.isdir(scratch.SCRATCH_DIR), flush=True)
    """)
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=120).stdout.split()
    path, kept_after_child_exit = out
    assert kept_after_child_exit == "True"
    assert not os.path.exists(path)
