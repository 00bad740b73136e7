"""Environment-compat shims.

``ensure_protobuf_runtime``: PySpark 4's ``transformWithStateInPandas``
lane speaks a protobuf protocol to the JVM state server, so both the
driver and the Python workers must be able to ``import google.protobuf``.
Minimal containers often lack the package while still shipping a vendored
pure-Python runtime inside some other tool's install tree (gcloud's
appengine platform bundles protobuf 6.x, for example). This helper makes
such a runtime importable WITHOUT installing anything:

- searches ``$PROTOBUF_VENDOR_PATH`` plus a short list of well-known
  vendored locations for ``google/protobuf/runtime_version.py`` (the
  marker of a modern, 5.x+ runtime);
- prepends the hit to ``sys.path`` (driver) AND ``$PYTHONPATH`` (workers
  inherit the driver environment in local mode — the env change must
  happen BEFORE the JVM launches, which is why ``session.build_spark``
  calls this up front);
- sets protobuf's own documented escape hatch
  ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` for vendored runtimes
  only, since a vendored runtime may trail the gencode pinned inside
  pyspark by a minor version (observed: gencode 6.33 vs runtime 6.32 —
  wire-compatible, rejected only by the strict default check).

No-op when ``google.protobuf`` already imports cleanly.

``reuse_zip_directories``: before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory. PySpark's worker calls ``importlib.invalidate_caches()``
at the start of every Python task (``worker_util.setup_spark_files``),
which re-reads ``pyspark.zip`` (about 1,300 entries) once per zipimporter
in ``sys.path_importer_cache`` — 18 of them in a stateful-stage worker,
150-190 ms per task on Python 3.11. The shim re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed since this process last read it;
otherwise every importer keeps the cached directory. Python 3.13's
``invalidate_caches`` only drops the cache entry, so the shim does not
install there. ``responsive_pub_spark/__init__.py`` installs it, so each
Python worker that unpickles an engine closure has it from its first task
on, and workers that never import the engine are left as they are.

The JVM-side shim, ``jvm/NioLocalFileSystem.java``: without the native
``libhadoop`` (``NativeCodeLoader.isNativeCodeLoaded()`` is false in a
plain PySpark install), Hadoop's ``RawLocalFileSystem`` sets the mode of
every file and directory it creates by running ``chmod`` as a child
process, and ``FileUtil.readLink`` runs ``readlink`` for every symlink
check, which FileContext (behind Spark's checkpoint file manager) makes
on every rename. The shim does plain-rwx chmod with
``Files.setPosixFilePermissions`` and the symlink check with
``Files.isSymbolicLink``; sticky/setuid/setgid modes and real symlinks
take the stock path. ``session.build_spark`` registers it for ``file:``
on ``local``/``local[N]`` masters only, before the driver JVM starts.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: Well-known vendored pure-python protobuf runtimes (public tools that
#: bundle one). Extend via $PROTOBUF_VENDOR_PATH (colon-separated roots).
_VENDOR_CANDIDATES = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _imports_cleanly() -> bool:
    try:
        from google.protobuf import runtime_version  # noqa: F401

        return True
    except Exception:
        return False


def ensure_protobuf_runtime() -> bool:
    """Make ``google.protobuf`` importable, vendoring if needed.

    Returns True if the runtime is (now) importable. Idempotent."""
    if _imports_cleanly():
        return True
    roots = [
        p
        for p in os.environ.get("PROTOBUF_VENDOR_PATH", "").split(":")
        if p
    ] + list(_VENDOR_CANDIDATES)
    for root in roots:
        marker = os.path.join(root, "google", "protobuf", "runtime_version.py")
        if not os.path.isfile(marker):
            continue
        if root not in sys.path:
            sys.path.insert(0, root)
        prev = os.environ.get("PYTHONPATH", "")
        parts = prev.split(os.pathsep) if prev else []
        if root not in parts:
            os.environ["PYTHONPATH"] = (
                root + (os.pathsep + prev if prev else "")
            )
        # vendored runtime may trail pyspark's pinned gencode by a minor
        # version; the strict check rejects that pairing even though the
        # wire format is stable — use protobuf's own documented override
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        if _imports_cleanly():
            return True
    return False


def apply_to_spark_context(sc) -> None:
    """Propagate the vendored-runtime environment to Python workers of an
    ALREADY-RUNNING SparkContext.

    ``build_spark`` handles the clean path (env set before the JVM
    launches), but a session built elsewhere — the correctness driver's
    plain ``SparkSession.builder.getOrCreate()`` — captured its JVM env
    before ``ensure_protobuf_runtime`` ran. Worker processes, however,
    merge the per-function ``envVars`` dict (``sc.environment``,
    ``core/rdd.py:_prepare_for_python_RDD``) into their environment at
    spawn, so mutating it here reaches every worker created AFTER this
    call — including the transformWithState driver worker. No-op unless
    a vendored runtime is active."""
    pythonpath = os.environ.get("PYTHONPATH", "")
    if not pythonpath:
        return
    env = getattr(sc, "environment", None)
    if env is None:
        return
    prev = env.get("PYTHONPATH", "")
    parts = prev.split(os.pathsep) if prev else []
    for root in reversed(pythonpath.split(os.pathsep)):
        if root and root not in parts:
            parts.insert(0, root)
    env["PYTHONPATH"] = os.pathsep.join(parts)
    flag = os.environ.get("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK")
    if flag is not None:
        env.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", flag)


def reuse_zip_directories() -> bool:
    """Install the zip-directory reuse shim (module docstring). Returns
    True when it is installed (now or earlier), False on Python 3.13+.
    Idempotent."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "reuses_zip_directory", False):
        return True
    stamps: dict = {}  # archive -> (st_mtime_ns, st_size) when last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        fresh = stamp is not None and stamps.get(self.archive) == stamp
        if fresh and cached is not None:
            self._files = cached
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.reuses_zip_directory = True
    cls.invalidate_caches = invalidate_caches
    return True
