"""Process-kill chaos e2es for the r14 maintenance surfaces (the
tests/test_chaos_sigkill.py posture — SIGKILL the whole driver process
group, restart fresh, assert the served state was never torn):

- the decontamination DECISION table's versioned-base rebuild
  (streaming/decontam_stream.py ``_rebuild_base``): killed inside
  EVERY window of the staged-rename + pointer-flip + flag-removal
  protocol, the served ``decision()`` must always be a complete
  consistent table (old before the flip, new after — never torn), and
  a clean retry must converge to the derived ``report()``;
- the incremental IVF's lists→codes append pair (streaming/
  ann_stream.py ``assign_batch``): killed BETWEEN the two appends, the
  recovered lane must replay the uncommitted batch so the PQ code
  table catches up, after which ``topk_pq`` is row-identical to a
  clean twin build over the same vectors.

Reference anchor: the reference's chaos harness kills whole JVMs
mid-flight and asserts the accumulated state afterwards
(e2etest/E2ETestDriver.java, UncaughtStreamsAntithesisHandler.java).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys

import pytest

# multi-minute process-kill e2e: slow tier, deselected under the
# driver's default run (pytest.ini); round-close runs the full tier
pytestmark = pytest.mark.slow

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DECONTAM_CHILD = os.path.join(REPO, "tests", "chaos_decontam_child.py")
ANN_APPEND_CHILD = os.path.join(REPO, "tests", "chaos_ann_append_child.py")


def _run_child(child, workdir, mode, kill_env=None, kill=None, timeout=420):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CHAOS_ENABLE", None)
    if kill_env:
        env.pop(kill_env, None)
    if kill:
        env["SPARK_GRAFT_CHAOS_ENABLE"] = "1"
        env[kill_env] = kill
    proc = subprocess.Popen(
        [sys.executable, child, workdir, mode],
        cwd=REPO,
        env=env,
        start_new_session=True,  # own process group: killpg reaps JVM too
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    out, _ = proc.communicate(timeout=timeout)
    return proc.returncode, out


# -- SIGKILL inside every window of the decision-table base publish ----------
def _decontam_state(workdir):
    rc, out = _run_child(DECONTAM_CHILD, workdir, "dump")
    assert rc == 0, out
    ver = flag = None
    bases: "list[str]" = []
    dec, rep = set(), set()
    for line in out.splitlines():
        parts = line.split()
        if line.startswith("VER "):
            ver = int(parts[1])
        elif line.startswith("FLAG "):
            flag = int(parts[1])
        elif line.startswith("BASES "):
            bases = parts[1].split(",") if len(parts) > 1 else []
        elif line.startswith("DEC "):
            dec.add(tuple(parts[1:]))
        elif line.startswith("REP "):
            rep.add(tuple(parts[1:]))
    return ver, flag, bases, dec, rep


def _dec_ids(rows):
    return {int(r[0]) for r in rows}


def test_sigkill_mid_decision_rebuild_never_serves_torn_base(tmp_path):
    """Every kill window of ``_rebuild_base``: before the pointer flip
    the OLD decision keeps serving (complete, with the REBUILD flag
    still armed so nothing is silently stale); after it the NEW one
    serves; the crashed retry converges to ``report()`` idempotently."""
    for label, flipped in (
        ("staged", False),        # next version written, pointer not flipped
        ("flipped", True),        # pointer flipped, flag still armed
        ("flag-removed", True),   # complete except superseded-state GC
    ):
        workdir = str(tmp_path / f"decontam-{label}")
        os.makedirs(workdir)
        rc, out = _run_child(DECONTAM_CHILD, workdir, "setup")
        assert rc == 0 and "SETUP-DONE" in out, (label, out)

        rc, _ = _run_child(
            DECONTAM_CHILD,
            workdir,
            "rebuild",
            kill_env="SPARK_GRAFT_DECONTAM_KILL",
            kill=label,
        )
        assert rc == -signal.SIGKILL, (label, rc)

        ver, flag, _bases, dec, rep = _decontam_state(workdir)
        if not flipped:
            # old base serves, complete; the armed flag guarantees the
            # next advance retries the rebuild
            assert ver == 1, (label, ver)
            assert flag == 1, label
            assert _dec_ids(dec) == {2, 3}, (label, dec)
        else:
            # new base serves, complete and equal to the derived report
            assert ver == 2, (label, ver)
            assert flag == (1 if label == "flipped" else 0), label
            assert _dec_ids(dec) == {1, 2, 3}, (label, dec)
            assert dec == rep, (label, dec ^ rep)

        # clean recovery advance: rebuild retries (idempotently where it
        # already flipped), the flag clears, decision == report
        rc, out = _run_child(DECONTAM_CHILD, workdir, "advance")
        assert rc == 0 and "ADVANCE-DONE" in out, (label, out)
        ver2, flag2, bases2, dec2, rep2 = _decontam_state(workdir)
        assert flag2 == 0, label
        assert _dec_ids(dec2) == {1, 2, 3}, (label, dec2)
        assert dec2 == rep2, (label, dec2 ^ rep2)
        if label == "flag-removed":
            # the completed rebuild already serves v2; the recovery
            # advance is delta-only (no flag), so the version holds and
            # the superseded v1 lingers only until the NEXT rebuild GCs
            assert ver2 == 2, (label, ver2)
        else:
            # pre-flip kills retry into v2; a post-flip kill with the
            # flag still armed rebuilds again (idempotently) into v3
            assert ver2 == (3 if flipped else 2), (label, ver2)
            # the retried rebuild's locked GC keeps exactly one base
            assert bases2 == [f"base-v{ver2:06d}"], (label, bases2)


# -- SIGKILL between the lists and codes appends -----------------------------
def test_sigkill_between_lists_and_codes_appends_codes_catch_up(tmp_path):
    """The r14 torn-codes window: a SIGKILL after the lists append but
    before the codes append leaves list rows with no codes — the
    batch's checkpoint never committed, so the next advance replays it
    (lists dedup the replay, codes catch up) and ``topk_pq`` serves
    exactly what a clean build over the same vectors serves."""
    from responsive_pub_spark.operators.similarity import PQ_M

    workdir = str(tmp_path / "ann-append")
    os.makedirs(workdir)
    rc, out = _run_child(ANN_APPEND_CHILD, workdir, "setup")
    assert rc == 0 and "SETUP-DONE" in out, out

    rc, out = _run_child(ANN_APPEND_CHILD, workdir, "counts")
    assert rc == 0, out
    base_counts = [
        [int(x) for x in line.split()[1:]]
        for line in out.splitlines()
        if line.startswith("COUNTS ")
    ][0]
    n_first = base_counts[1]
    assert n_first > 0 and base_counts[3] == n_first * PQ_M, base_counts

    rc, _ = _run_child(
        ANN_APPEND_CHILD,
        workdir,
        "append",
        kill_env="SPARK_GRAFT_ANN_KILL",
        kill="post-lists",
    )
    assert rc == -signal.SIGKILL, rc

    # the torn window is REAL: wave-2 list rows landed, their codes did
    # not (codes still cover only the first wave)
    rc, out = _run_child(ANN_APPEND_CHILD, workdir, "counts")
    assert rc == 0, out
    torn = [
        [int(x) for x in line.split()[1:]]
        for line in out.splitlines()
        if line.startswith("COUNTS ")
    ][0]
    n_total = torn[1]
    assert n_total > n_first, torn
    assert torn[2] == n_first * PQ_M, torn

    # recovery: the uncommitted batch replays on the next advance
    rc, out = _run_child(ANN_APPEND_CHILD, workdir, "advance")
    assert rc == 0 and "ADVANCE-DONE" in out, out

    rc, out = _run_child(ANN_APPEND_CHILD, workdir, "dump")
    assert rc == 0, out
    counts = [
        [int(x) for x in line.split()[1:]]
        for line in out.splitlines()
        if line.startswith("COUNTS ")
    ][0]
    pq = {
        tuple(line.split()[1:])
        for line in out.splitlines()
        if line.startswith("PQ ")
    }
    twin = {
        tuple(line.split()[1:])
        for line in out.splitlines()
        if line.startswith("TWIN ")
    }
    n_lists_raw, n_lists, _n_codes_raw, n_codes = counts
    assert n_lists == n_total, counts
    assert n_codes == n_total * PQ_M, counts
    assert n_lists_raw > n_lists, (
        "the replay must have appended duplicate list rows",
        counts,
    )
    assert pq and pq == twin, (len(pq), len(twin), pq ^ twin)
