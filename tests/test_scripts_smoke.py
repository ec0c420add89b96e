"""Every top-level script still imports: bench.py and tools/*.py are run
as modules (not as __main__, so no script body executes) in one
subprocess. A script left importing a removed name fails here."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN = """
import runpy, sys
for path in sys.argv[1:]:
    runpy.run_path(path, run_name="smoke")
"""


def test_scripts_import_cleanly():
    scripts = ["bench.py"] + sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "tools", "*.py")))
    res = subprocess.run([sys.executable, "-c", _RUN, *scripts], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-4000:]
