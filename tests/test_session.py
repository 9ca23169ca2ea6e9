"""The package zip shipped to executor Python workers is built fresh for
each session and removed when the driver process exits. Runs in a
subprocess with its own temp directory and starts no Spark."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "light_etl_windows_container_poc_spark"

_SCRIPT = f"""
import hashlib, json, os, tempfile, zipfile
from types import SimpleNamespace
from {PKG} import session

# a zip an earlier process with this pid left at a fixed per-pid name
stale = os.path.join(tempfile.gettempdir(), "{PKG}_%d.zip" % os.getpid())
with zipfile.ZipFile(stale, "w") as z:
    z.writestr("{PKG}/session.py", "stale")
shipped = []
session.ensure_package_on_executors(
    SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append)))
with zipfile.ZipFile(shipped[0]) as z:
    files = {{n: hashlib.sha256(z.read(n)).hexdigest() for n in z.namelist()}}
print(json.dumps({{"path": shipped[0], "files": files}}))
"""


def test_package_zip_is_current_and_removed_at_exit(tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path),
           "PYTHONPATH": os.pathsep.join(
               [str(ROOT), os.environ.get("PYTHONPATH", "")])}
    out = subprocess.run([sys.executable, "-c", _SCRIPT], env=env, cwd=ROOT,
                         capture_output=True, text=True, timeout=120,
                         check=True)
    shipped = json.loads(out.stdout.strip().splitlines()[-1])
    pkg_dir = ROOT / PKG
    sources = {
        str(Path(PKG) / p.relative_to(pkg_dir)):
        hashlib.sha256(p.read_bytes()).hexdigest()
        for p in pkg_dir.rglob("*.py")}
    assert shipped["files"] == sources
    assert not os.path.exists(shipped["path"])
