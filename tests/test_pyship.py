"""The package zip shipped to Python workers is removed when the driver
process exits (``aruna_spark/pyship.py``)."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

_DRIVER = f"""
import os, sys, types
sys.path.insert(0, {REPO!r})
from aruna_spark import pyship

shipped = []
sc = types.SimpleNamespace(applicationId="app-1", addPyFile=shipped.append)
pyship.ensure_package_shipped(types.SimpleNamespace(sparkContext=sc))
pyship.ensure_package_shipped(types.SimpleNamespace(sparkContext=sc))
assert len(shipped) == 1 and os.path.getsize(shipped[0]) > 0
print(shipped[0])
"""


def test_shipped_zip_is_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert not os.path.exists(out)
    assert not list(tmp_path.iterdir())
