"""bench.py quiet-host gate: waits while loaded, proceeds when quiet,
records its decision, and honors the skip env."""

from __future__ import annotations

import sys
from pathlib import Path


sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import bench  # noqa: E402


def test_gate_waits_until_quiet(monkeypatch):
    loads = iter([9.0, 5.0, 1.2])
    sleeps = []
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (next(loads), 0, 0))
    monkeypatch.setattr(bench.time, "sleep", lambda s: sleeps.append(s))
    d = bench.wait_for_quiet_host(threshold=2.0, max_wait_s=900, poll_s=30)
    assert d["quiet_gate"] == "quiet"
    assert d["quiet_gate_waited_s"] == 60 and sleeps == [30, 30]


def test_gate_gives_up_after_budget(monkeypatch):
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (22.5, 0, 0))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    d = bench.wait_for_quiet_host(threshold=2.0, max_wait_s=90, poll_s=30)
    assert d["quiet_gate"].startswith("gave up contended")
    assert d["quiet_gate_waited_s"] == 90


def test_gate_skip_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_NO_WAIT", "1")
    called = []
    monkeypatch.setattr(bench.os, "getloadavg", lambda: called.append(1) or (50, 0, 0))
    d = bench.wait_for_quiet_host()
    assert "skipped" in d["quiet_gate"] and not called
