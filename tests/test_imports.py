"""Every module of the package imports on its own.

Several modules import each other lazily (inside functions) to avoid
import cycles.  This check imports each module with the package cleared
from ``sys.modules`` first, so a module that only imports when some
other module happened to load before it fails here.  The loop runs in
one child process, so the test session's own modules stay untouched.
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = """
import importlib, pkgutil, sys, traceback
import big_data_table_spark as pkg
names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
failed = []
for name in names:
    for k in [k for k in sys.modules if k.split(".")[0] == "big_data_table_spark"]:
        del sys.modules[k]
    try:
        importlib.import_module(name)
    except Exception:
        failed.append(name + ":\\n" + traceback.format_exc())
print(len(names), "modules")
if failed:
    sys.exit("\\n".join(failed))
"""


def test_every_module_imports_standalone():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr
    assert int(out.stdout.split()[0]) > 40, out.stdout
