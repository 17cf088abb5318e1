"""Unit tests for bench.py's scaling round — no Spark session.

Pin the weak-ratio and gate arithmetic (both gate metrics raw and
weak-style), the skip below 4 cores, and the leg subprocess's failure and
output handling, so a refactor can't silently change what `gate_met` means.
"""

from __future__ import annotations

import subprocess

import pytest

import bench


def _leg(fps: float, kernel_fps: float, rows: int) -> dict:
    return {"fps": fps, "kernel_fps": kernel_fps, "rows": rows,
            "wall_sec": round(rows / fps, 2)}


def test_round_summary_weak_style_gate_metrics():
    s = bench._scaling_summary(_leg(1250.0, 12500.0, 60000),
                               _leg(4000.0, 40000.0, 240000))
    assert s["weak_efficiency"] == 0.8          # 4000 / (4 * 1250)
    assert s["kernel_weak_efficiency"] == 0.8   # 40000 / (4 * 12500)
    assert s["weak_n_rows"] == 60000 and s["rows"] == 240000
    assert s["fourn_fps"] == 4000.0
    assert s["gate_basis"] == "raw-weak-pair"
    assert s["gate_met"] is True


def test_gate_is_raw_not_normalized():
    # the gate asserts the RAW weak ratios, both of them
    s = bench._scaling_summary(_leg(1000.0, 10000.0, 60000),
                               _leg(2600.0, 33000.0, 240000))
    assert s["weak_efficiency"] == 0.65
    assert s["kernel_weak_efficiency"] == 0.825
    assert s["gate_met"] is False
    s2 = bench._scaling_summary(_leg(1000.0, 10000.0, 60000),
                                _leg(3300.0, 33000.0, 240000))
    assert s2["weak_efficiency"] == 0.825
    assert s2["gate_met"] is True


def test_scaling_skipped_below_four_cores(monkeypatch):
    def _no_spawn(*args, **kwargs):
        raise AssertionError("no subprocess may be spawned")

    monkeypatch.setattr(bench.os, "cpu_count", lambda: 2)
    monkeypatch.setattr(bench.subprocess, "Popen", _no_spawn)
    monkeypatch.setattr(bench, "_ensure_corpus", _no_spawn)
    s = bench.scaling_round()
    assert s["gate_met"] is False
    assert "2 cores" in s["skipped"]


def test_scaling_worker_timeout_and_death_paths(monkeypatch):
    """A leg subprocess that wedges or dies must fail LOUDLY, not hang or
    hand back a half-made result."""
    killed = []

    class _Proc:
        pid = 12345

        def __init__(self, returncode, timeout):
            self.returncode, self._timeout = returncode, timeout

        def communicate(self, timeout=None):
            if self._timeout:
                raise subprocess.TimeoutExpired("bench.py", timeout)
            return "", None

        def wait(self):
            return self.returncode

    def _popen(returncode, timeout):
        return lambda *args, **kwargs: _Proc(returncode, timeout)

    monkeypatch.setattr(bench.os, "killpg", lambda pid, sig: killed.append(pid))
    monkeypatch.setattr(bench.subprocess, "Popen", _popen(None, True))
    with pytest.raises(RuntimeError, match="timed out"):
        bench._run_leg(4, 1, 2048, "corpus.parquet")
    assert killed == [12345]  # the whole process group, JVMs included

    monkeypatch.setattr(bench.subprocess, "Popen", _popen(1, False))
    with pytest.raises(RuntimeError, match="died"):
        bench._run_leg(4, 1, 2048, "corpus.parquet")


def test_scaling_leg_skips_preamble():
    out = bench._parse_leg_output('some library banner\n{"fps": 10.0}\n')
    assert out == {"fps": 10.0}
    with pytest.raises(RuntimeError, match="no result"):
        bench._parse_leg_output("banner only\n")
