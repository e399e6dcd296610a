"""The worker package zip belongs to one checkout and one version of it."""

from __future__ import annotations

import importlib.util
import os
import shutil
import tempfile
import time
import zipfile

from opentopodata_spark import session

MARKER = "opentopodata_spark/marker.py"


def _checkout(root, who: str, mtime: float) -> str:
    """A minimal package copy: session.py plus a module naming its owner."""
    pkg = os.path.join(root, "opentopodata_spark")
    os.makedirs(pkg)
    shutil.copy(session.__file__, pkg)
    _write(pkg, who, mtime)
    os.utime(os.path.join(pkg, "session.py"), (mtime, mtime))
    return pkg


def _write(pkg: str, who: str, mtime: float) -> None:
    path = os.path.join(pkg, "marker.py")
    with open(path, "w") as f:
        f.write(f"WHO = {who!r}\n")
    os.utime(path, (mtime, mtime))


def _zip_of(pkg: str) -> str:
    spec = importlib.util.spec_from_file_location(
        f"_session_copy_{abs(hash(pkg))}", os.path.join(pkg, "session.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._package_zip()


def _owner(zip_path: str) -> str:
    return zipfile.ZipFile(zip_path).read(MARKER).decode()


def test_each_checkout_ships_its_own_code(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    now = time.time()
    a = _checkout(tmp_path / "a", "A", now)
    # b's sources are older than the zip a builds: an mtime check alone
    # would hand b the zip of a
    b = _checkout(tmp_path / "b", "B", now - 3600)

    assert _owner(_zip_of(a)) == "WHO = 'A'\n"
    assert _owner(_zip_of(b)) == "WHO = 'B'\n"
    # an edit that keeps the old mtime still gets a fresh zip
    _write(b, "C", now - 3600)
    assert _owner(_zip_of(b)) == "WHO = 'C'\n"
    assert _owner(_zip_of(a)) == "WHO = 'A'\n"
