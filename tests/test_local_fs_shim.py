"""The fork-free local file system that ``session.build_spark`` registers
for ``file:`` on local masters (``responsive_pub_spark/jvm``).

- An FK-join load and advance run no ``chmod``, ``readlink``, ``stat`` or
  ``ls`` child process (logging wrappers first on the JVM's ``PATH``).
- Parity with stock Hadoop in one JVM: the shim's answers are compared
  with a stock ``RawLocalFileSystem``'s for modes, link status and
  missing paths, and FileContext's no-overwrite rename still refuses.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError

from responsive_pub_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRAPPED = ("chmod", "readlink", "stat", "ls")

_CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
work, armed = sys.argv[2], sys.argv[3]
from responsive_pub_spark.operators.fk_join import FkJoinStreaming
from responsive_pub_spark.session import build_spark

spark = build_spark(app_name="fork-count", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
open(armed, "w").close()  # the JVM is up: count from here on
left, right = "k STRING, fk STRING, v STRING, ts DOUBLE", "rk STRING, w STRING, ts DOUBLE"
join = FkJoinStreaming(
    spark, os.path.join(work, "fk"), left, right, left_key="k", fk="fk",
    right_key="rk", left_payload="v", right_payload="w", ts_col="ts",
)
waves = (
    ([("a", "x", "1", 1.0), ("b", "y", "2", 2.0)], [("x", "X", 0.0), ("y", "Y", 0.0)]),
    ([("b", "x", "3", 5.0)], [("x", "X2", 6.0)]),
)
for lrows, rrows in waves:  # the load, then one advance
    spark.createDataFrame(lrows, left).coalesce(1).write.mode("append").parquet(join.left_dir)
    spark.createDataFrame(rrows, right).coalesce(1).write.mode("append").parquet(join.right_dir)
    join.advance()
print("ROWS", join.changelog().count())
spark.stop()
"""


def test_fk_join_advance_forks_no_file_commands(tmp_path):
    """Hadoop's ``Shell`` resolves these commands through ``PATH``: each
    wrapper logs its call (once the session is built) and ``exec``s the
    real binary. Stock Hadoop without ``libhadoop`` runs hundreds here."""
    bin_dir, log, armed = tmp_path / "bin", tmp_path / "calls.log", tmp_path / "armed"
    bin_dir.mkdir()
    for name in WRAPPED:
        real = shutil.which(name)
        assert real, name
        wrapper = bin_dir / name
        wrapper.write_text(
            "#!/bin/sh\n"
            f'[ -e "{armed}" ] && echo "{name} $*" >> "{log}"\n'
            f'exec "{real}" "$@"\n'
        )
        wrapper.chmod(0o755)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, str(tmp_path), str(armed)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS " in proc.stdout and int(proc.stdout.split("ROWS ")[1]) > 0
    calls = log.read_text().splitlines() if log.exists() else []
    assert calls == [], f"{len(calls)} forks, first: {calls[:5]}"


# --- parity with stock Hadoop, in the session's own JVM --------------------


@pytest.fixture(scope="module")
def jvm(spark):
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    if hc.get("fs.file.impl") != session._SHIM_CLASS:
        pytest.fail("the test session was not built with the local-FS shim")
    return spark._jvm


def _fs(jvm, spark, stock: bool):
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    raw = (
        jvm.org.apache.hadoop.fs.RawLocalFileSystem()
        if stock else jvm.responsive.spark.fs.NioLocalFileSystem.Raw()
    )
    raw.initialize(jvm.java.net.URI("file:///"), hc)
    return raw


def _link_status(fs, jvm, path: str):
    """What ``getFileLinkStatus`` reports, or the Java exception's class."""
    try:
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    target = st.getSymlink().toString() if st.isSymlink() else None
    return (st.getPath().toString(), st.isSymlink(), st.isDirectory(),
            st.getLen(), st.getModificationTime(), target)


def test_link_status_matches_stock_hadoop(spark, jvm, tmp_path):
    plain = tmp_path / "plain.txt"
    plain.write_text("abc")
    (tmp_path / "dir").mkdir()
    os.symlink(plain, tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    shim, stock = _fs(jvm, spark, False), _fs(jvm, spark, True)
    cases = {
        "plain": str(plain), "dir": str(tmp_path / "dir"),
        "link": str(tmp_path / "link"), "dangling": str(tmp_path / "dangling"),
        "missing": str(tmp_path / "missing"),
        "qualified link": f"file://{tmp_path / 'link'}",
    }
    got = {k: _link_status(shim, jvm, p) for k, p in cases.items()}
    assert got == {k: _link_status(stock, jvm, p) for k, p in cases.items()}
    assert got["link"][1] is True and got["link"][5] == f"file:{plain}"
    assert got["missing"] == "java.io.FileNotFoundException"
    st = shim.getFileStatus(jvm.org.apache.hadoop.fs.Path(str(plain)))
    assert got["plain"] == (st.getPath().toString(), False, False, 3,
                            st.getModificationTime(), None)


@pytest.mark.parametrize("mode", ["640", "755", "600", "000", "1777"])
def test_set_permission_matches_stock_hadoop(spark, jvm, tmp_path, mode):
    """Plain rwx modes go through ``java.nio``; a sticky bit takes the
    stock ``chmod`` path. Both end at the stock mode."""
    modes = []
    for stock in (False, True):
        d = tmp_path / f"d{int(stock)}"
        d.mkdir()
        f = d / "f"
        f.write_text("x")
        fs = _fs(jvm, spark, stock)
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
        got = []
        for p in (f, d):
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
            got.append(stat.S_IMODE(p.stat().st_mode))
        modes.append(tuple(got))
        d.chmod(0o755)
    assert modes[0] == modes[1] == (int(mode, 8), int(mode, 8))


def test_written_files_keep_stock_modes_and_crc_sidecars(spark, jvm, tmp_path):
    """``fs.permissions.umask-mode`` 022 (the default): files 0644 and
    directories 0755, each data file beside its ``.crc``."""
    old = os.umask(0o022)
    try:
        out = tmp_path / "out"
        spark.range(20).repartition(2).write.parquet(str(out))
        hc = spark.sparkContext._jsc.hadoopConfiguration()
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hc)
        nested = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}/fc/a/b")
        fc.mkdir(nested, jvm.org.apache.hadoop.fs.permission.FsPermission.getDirDefault(), True)
    finally:
        os.umask(old)
    assert fc.getDefaultFileSystem().getClass().getName().endswith("NioLocalFileSystem$Fs")
    files = sorted(os.listdir(out))
    data = [n for n in files if not n.startswith(".")]
    assert len(data) >= 3  # two parts and _SUCCESS
    assert all(f".{n}.crc" in files for n in data)
    assert {oct(stat.S_IMODE((out / n).stat().st_mode)) for n in files} == {"0o644"}
    dirs = [out, tmp_path / "fc", tmp_path / "fc" / "a", tmp_path / "fc" / "a" / "b"]
    assert {oct(stat.S_IMODE(d.stat().st_mode)) for d in dirs} == {"0o755"}


def test_file_context_no_overwrite_rename_still_refuses(spark, jvm, tmp_path):
    """HDFSMetadataLog's concurrent-writer detection rests on this."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.write_text("new")
    dst.write_text("old")
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hc)
    Path = jvm.org.apache.hadoop.fs.Path
    opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    with pytest.raises(Py4JJavaError) as e:
        fc.rename(Path(f"file://{src}"), Path(f"file://{dst}"), opts)
    assert e.value.java_exception.getClass().getName() == (
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert (src.read_text(), dst.read_text()) == ("new", "old")
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(Path(f"file://{src}"), Path(f"file://{dst}"), opts)
    assert not src.exists() and dst.read_text() == "new"
