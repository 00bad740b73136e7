"""``session.build_spark``'s conf defaults, without starting a JVM: the
builder is replaced by one that records every ``config`` call."""

from __future__ import annotations

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
