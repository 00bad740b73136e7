"""The commit-aligned drain exists once: only ``streaming/runtime.py``
starts an availableNow query and waits on it (``run_to_sink``); every lane
calls it. No Spark needed."""

from __future__ import annotations

import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "responsive_pub_spark"
DRAIN_MODULE = PACKAGE / "streaming" / "runtime.py"
TOKENS = ("availableNow", "awaitTermination(")


def test_drain_protocol_lives_only_in_runtime():
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != DRAIN_MODULE
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if any(t in line for t in TOKENS)
    ]
    assert not hits, "drain outside streaming/runtime.run_to_sink:\n" + "\n".join(hits)


def test_runtime_still_holds_the_drain():
    text = DRAIN_MODULE.read_text()
    assert all(t in text for t in TOKENS)
