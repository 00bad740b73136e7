#!/usr/bin/env python
"""Build ``responsive_pub_spark/jvm/nio-local-fs.jar`` from its Java source.

Compiles ``NioLocalFileSystem.java`` with ``javac --release 17`` against
the ``hadoop-client-api`` jar that ships with the installed PySpark, then
writes the jar with fixed zip timestamps and sorted entries, so the same
source and compiler give the same bytes. The manifest carries the
source's SHA-256 (``Source-SHA256``); ``tests/test_jvm_shim_jar.py``
fails when the committed jar's stamp does not match the committed source.

Usage: python scripts/build_jvm_shim.py [--check]
  --check  compile only; exit non-zero if the source does not compile
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "responsive_pub_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "NioLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "nio-local-fs.jar")
STAMP = "Source-SHA256"
_EPOCH = (1980, 1, 1, 0, 0, 0)


def source_sha256() -> str:
    with open(SOURCE, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    if not jars:
        raise FileNotFoundError("no hadoop-client-api jar in the PySpark install")
    return sorted(jars)[-1]


def compile_to(out_dir: str) -> list[str]:
    """Compile the source into ``out_dir``; the class files, relative."""
    subprocess.run(
        ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", out_dir,
         SOURCE],
        check=True,
    )
    return sorted(
        os.path.relpath(os.path.join(d, n), out_dir).replace(os.sep, "/")
        for d, _, names in os.walk(out_dir) for n in names
    )


def _entry(name: str) -> zipfile.ZipInfo:
    info = zipfile.ZipInfo(name, date_time=_EPOCH)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    return info


def build(jar: str = JAR) -> None:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_to(tmp)
        manifest = f"Manifest-Version: 1.0\r\n{STAMP}: {source_sha256()}\r\n\r\n"
        with zipfile.ZipFile(jar, "w") as z:
            z.writestr(_entry("META-INF/MANIFEST.MF"), manifest)
            for name in classes:
                with open(os.path.join(tmp, name), "rb") as f:
                    z.writestr(_entry(name), f.read())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    if args.check:
        with tempfile.TemporaryDirectory() as tmp:
            compile_to(tmp)
        return
    build()
    print(f"wrote {os.path.relpath(JAR, ROOT)} ({STAMP} {source_sha256()})")


if __name__ == "__main__":
    sys.exit(main())
