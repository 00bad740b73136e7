"""The zip-directory reuse shim (``compat.reuse_zip_directories``) without
Spark. Each case runs in a fresh interpreter, so the patch never reaches
the test process: build a zip of nested packages, import from it, count
``zipimport._read_directory`` calls across ``importlib.invalidate_caches()``
(what PySpark's worker runs before every task), then rewrite the archive.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import responsive_pub_spark

COMPAT = os.path.join(os.path.dirname(responsive_pub_spark.__file__), "compat.py")

_SCRIPT = r"""
import importlib, importlib.util, json, os, sys, zipfile, zipimport

compat_path, root, version = sys.argv[1], sys.argv[2], sys.argv[3]
if version != "native":
    sys.version_info = tuple(int(p) for p in version.split("."))
archive = os.path.join(root, "pkgs.zip")


def build(value, extra=False):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("outer/__init__.py", "")
        z.writestr("outer/inner/__init__.py", "")
        z.writestr("outer/inner/mod.py", f"VALUE = {value!r}\n")
        if extra:
            z.writestr("outer/inner/added.py", "VALUE = 'added'\n")


build(1)
sys.path.insert(0, archive)
import outer.inner.mod  # noqa: E402

reads = []
real = zipimport._read_directory


def counting(path):
    if path == archive:
        reads.append(path)
    return real(path)


zipimport._read_directory = counting
spec = importlib.util.spec_from_file_location("compat", compat_path)
compat = importlib.util.module_from_spec(spec)
spec.loader.exec_module(compat)
installed = compat.reuse_zip_directories()
importers = sum(
    1 for imp in sys.path_importer_cache.values()
    if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
)
importlib.invalidate_caches()
first = len(reads)
importlib.invalidate_caches()
importlib.invalidate_caches()
unchanged = len(reads) - first

st = os.stat(archive)
build(2, extra=True)
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
importlib.invalidate_caches()
rewritten = len(reads) - first - unchanged
import outer.inner.added  # noqa: E402

print(json.dumps({
    "installed": installed,
    "patched": getattr(
        zipimport.zipimporter.invalidate_caches, "reuses_zip_directory", False
    ),
    "importers": importers,
    "first": first,
    "unchanged": unchanged,
    "rewritten": rewritten,
    "added": outer.inner.added.VALUE,
}))
"""


def _run(tmp_path, version: str = "native") -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, COMPAT, str(tmp_path), version],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path):
    got = _run(tmp_path)
    assert got["installed"] and got["patched"]
    # one importer per path entry: the archive, outer and outer/inner
    assert got["importers"] == 3
    # the first sweep after install reads the archive once (its stamp is
    # unknown), not once per importer; unchanged sweeps read nothing
    assert got["first"] == 1
    assert got["unchanged"] == 0
    # a rewrite is read once more, and its new module imports
    assert got["rewritten"] == 1
    assert got["added"] == "added"


def test_python_3_13_is_left_unpatched(tmp_path):
    got = _run(tmp_path, "3.13.0")
    assert not got["installed"] and not got["patched"]
    # stock behaviour: every importer re-reads the archive on every sweep
    assert got["first"] == got["importers"] == 3
    assert got["unchanged"] == 2 * got["importers"]
    assert got["added"] == "added"


def test_importing_the_engine_installs_the_shim():
    code = (
        "import zipimport, responsive_pub_spark; "
        "print(getattr(zipimport.zipimporter.invalidate_caches, "
        "'reuses_zip_directory', False))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True,
        text=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(COMPAT)),
    )
    assert out.stdout.strip().splitlines()[-1] == "True"
