"""The crash-commit toolkit exists once: only ``streaming/commitlog.py``
renames, replaces, fsyncs, flocks or kills (``staged_rename``,
``publish_pointer``, ``fsync_tree``/``fsync_dir``, ``exclusive_flock``,
``chaos_kill_hook``); every lane, sink and topic calls those. No Spark
needed."""

from __future__ import annotations

import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "responsive_pub_spark"
TOOLKIT_MODULE = PACKAGE / "streaming" / "commitlog.py"
TOKENS = ("os.rename(", "os.replace(", "os.fsync(", "fcntl.flock(", "os.kill(")


def test_commit_primitives_live_only_in_commitlog():
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != TOOLKIT_MODULE
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(t in line for t in TOKENS)
    ]
    assert not hits, "commit primitive outside streaming/commitlog.py:\n" + "\n".join(hits)


def test_commitlog_still_holds_the_primitives():
    text = TOOLKIT_MODULE.read_text()
    assert all(t in text for t in TOKENS)
