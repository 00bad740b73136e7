"""``session.build_spark``'s conf defaults, without starting a JVM: the
builder is replaced by one that records every ``config`` call."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JError

from responsive_pub_spark import session


class _Builder:
    def __init__(self):
        self.conf: dict = {}

    def appName(self, _name):  # noqa: N802 - the builder method name
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):  # noqa: N802
        return self.conf


def _conf(monkeypatch, **kw) -> dict:
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    return session.build_spark(**kw)


def test_jvm_unified_logging_goes_to_stderr(monkeypatch):
    """The JVM's default unified-logging output is stdout, where a GC
    warning once landed ahead of a bench artifact's JSON line."""
    opts = _conf(monkeypatch)["spark.driver.extraJavaOptions"]
    assert opts == "-Xlog:disable -Xlog:all=warning:stderr"


def test_callers_java_options_replace_the_default(monkeypatch):
    conf = _conf(
        monkeypatch, extra_conf={"spark.driver.extraJavaOptions": "-Xms1g"}
    )
    assert conf["spark.driver.extraJavaOptions"] == "-Xms1g"


# --- the fork-free local file system (jvm/NioLocalFileSystem.java) ---------

_SHIM_KEYS = (
    "spark.driver.extraClassPath",
    "spark.hadoop.fs.file.impl",
    "spark.hadoop.fs.AbstractFileSystem.file.impl",
)


def _fresh_jvm(monkeypatch):
    """No SparkContext and no driver JVM yet, whatever this process ran."""
    monkeypatch.setattr(session.SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)


def test_local_master_gets_the_local_fs_shim(monkeypatch):
    _fresh_jvm(monkeypatch)
    conf = _conf(monkeypatch, master="local[2]")
    assert conf["spark.driver.extraClassPath"] == session._SHIM_JAR
    assert conf["spark.hadoop.fs.file.impl"] == session._SHIM_CLASS
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == (
        session._SHIM_CLASS + "$Fs"
    )
    assert os.path.isfile(session._SHIM_JAR)


def test_default_master_is_local_and_gets_the_shim(monkeypatch):
    _fresh_jvm(monkeypatch)
    assert _conf(monkeypatch)["spark.hadoop.fs.file.impl"] == session._SHIM_CLASS


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]"]
)
def test_other_masters_keep_stock_hadoop(monkeypatch, master):
    """Executors in their own JVMs would lack the jar."""
    _fresh_jvm(monkeypatch)
    conf = _conf(monkeypatch, master=master)
    assert not any(k in conf for k in _SHIM_KEYS)


def test_master_set_through_conf_decides(monkeypatch):
    _fresh_jvm(monkeypatch)
    conf = _conf(monkeypatch, extra_conf={"spark.master": "spark://h:7077"})
    assert not any(k in conf for k in _SHIM_KEYS)


def test_callers_class_path_keeps_the_jar_appended(monkeypatch):
    _fresh_jvm(monkeypatch)
    conf = _conf(
        monkeypatch, extra_conf={"spark.driver.extraClassPath": "/opt/a.jar"}
    )
    assert conf["spark.driver.extraClassPath"] == (
        "/opt/a.jar" + os.pathsep + session._SHIM_JAR
    )


def test_callers_file_impl_wins(monkeypatch):
    _fresh_jvm(monkeypatch)
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_spark__hadoop__fs__file__impl", "org.example.MyFs"
    )
    conf = _conf(monkeypatch)
    assert conf["spark.hadoop.fs.file.impl"] == "org.example.MyFs"
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == (
        session._SHIM_CLASS + "$Fs"
    )


def test_running_spark_context_gets_no_shim(monkeypatch):
    """Its JVM was launched without the jar: a ``spark.hadoop`` conf naming
    the shim would fail every file operation there."""
    _fresh_jvm(monkeypatch)
    monkeypatch.setattr(session.SparkContext, "_active_spark_context", object())
    conf = _conf(monkeypatch, master="local[2]")
    assert not any(k in conf for k in _SHIM_KEYS)


class _Jvm:
    """A launched driver JVM whose class path has the jar or not."""

    def __init__(self, loads_shim: bool):
        self.loads_shim = loads_shim
        self.jvm = self
        self.java = self
        self.lang = self
        self.Class = self

    def forName(self, name):  # noqa: N802 - the Java method name
        if not self.loads_shim:
            raise Py4JError(f"ClassNotFoundException: {name}")


@pytest.mark.parametrize("loads_shim", [True, False])
def test_stopped_context_reuses_its_jvm_only_if_it_loads_the_shim(
    monkeypatch, loads_shim
):
    _fresh_jvm(monkeypatch)
    monkeypatch.setattr(session.SparkContext, "_gateway", _Jvm(loads_shim))
    conf = _conf(monkeypatch, master="local[2]")
    assert ("spark.hadoop.fs.file.impl" in conf) is loads_shim


@pytest.mark.parametrize(
    "cpus, explicit, expected", [("*", 8, "8"), ("*", None, "32"), ("6", None, "6"),
                                 ("6", 3, "3")]
)
def test_shuffle_partitions(monkeypatch, cpus, explicit, expected):
    """An explicit count wins even when ``SPARK_GRAFT_CPUS`` is not a
    number."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    conf = _conf(monkeypatch, shuffle_partitions=explicit)
    assert conf["spark.sql.shuffle.partitions"] == expected
