"""The committed local-FS shim jar is built from the committed source.

``scripts/build_jvm_shim.py`` stamps the source's SHA-256 into the jar's
manifest. An edit to ``NioLocalFileSystem.java`` without a rebuild (or
the reverse) fails here. Where ``javac`` is installed, the source must
also compile against the installed Hadoop API.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "build_jvm_shim.py")


def _build_module():
    spec = importlib.util.spec_from_file_location("build_jvm_shim", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_jar_stamp_matches_source():
    build = _build_module()
    with zipfile.ZipFile(build.JAR) as z:
        manifest = z.read("META-INF/MANIFEST.MF").decode()
        names = z.namelist()
    stamps = [
        line.split(":", 1)[1].strip()
        for line in manifest.splitlines()
        if line.startswith(build.STAMP + ":")
    ]
    assert stamps == [build.source_sha256()], "rebuild: python scripts/build_jvm_shim.py"
    assert "responsive/spark/fs/NioLocalFileSystem$Fs.class" in names


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")
def test_source_compiles():
    proc = subprocess.run(
        [sys.executable, SCRIPT, "--check"], capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr
