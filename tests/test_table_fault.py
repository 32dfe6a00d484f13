"""SIGKILL mid-commit on the snapshot table layer: the probe kills the
whole writer JVM at three points, then proves (1) the committed
manifest chain is contiguous, (2) every committed snapshot equals the
deterministic replay of its op prefix — no torn upsert is visible —
and (3) a fresh writer resumes to a bit-identical final table.

Runs in a subprocess (needs its own JVMs to kill); ~2-4 min each. The
default-store probe stays in the fast lane as the commit path's crash
sentinel; the other two are marked `cluster` — part of the full CI
run, not the fast loop. See tools/table_fault_probe.py for the
scenario."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest


def test_table_sigkill_mid_commit_never_tears_a_snapshot():
    proc = subprocess.run(
        [sys.executable, "/root/repo/tools/table_fault_probe.py"],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    line = proc.stdout.strip().splitlines()[-1]
    res = json.loads(line)
    assert res["ok"], res
    assert any(r["killed_mid_run"] for r in res["rounds"]), (
        "no round actually killed a live writer — delays need retuning",
        res,
    )


@pytest.mark.cluster
def test_table_sigkill_under_conditional_put_store():
    """Same three kill windows through PosixExclLogStore (the
    object-store-shaped conditional-put protocol): contiguous chain,
    replay-exact snapshots, bit-identical resume (VERDICT r10 #1)."""
    proc = subprocess.run(
        [
            sys.executable,
            "/root/repo/tools/table_fault_probe.py",
            "--logstore=excl",
        ],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    line = proc.stdout.strip().splitlines()[-1]
    res = json.loads(line)
    assert res["ok"], res
    assert any(r["killed_mid_run"] for r in res["rounds"]), res


@pytest.mark.cluster
def test_stream_cdc_apply_sigkill_mid_stream_never_double_applies():
    """SIGKILL mid-stream on the CDC-apply loop (merge per
    micro-batch): resume from the checkpoint must land the replayed
    epoch as a committed no-op and converge to the source's exact
    content. See tools/stream_merge_fault_probe.py."""
    proc = subprocess.run(
        [sys.executable, "/root/repo/tools/stream_merge_fault_probe.py"],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    line = proc.stdout.strip().splitlines()[-1]
    res = json.loads(line)
    assert res["ok"], res
