"""``bench.write_baseline_md`` renders BENCH/BASELINE.md from the two scaling
legs' payloads alone — no Spark, no other input file."""

import json
import os
import re
import subprocess

import pytest

import bench


def _committed_payloads():
    """The two scaling legs' payloads embedded in the committed artifact."""
    with open(bench.BASELINE_MD) as fh:
        raw = fh.read().split("Raw JSON:")[-1]
    return [json.loads(l) for l in raw.splitlines() if l.strip().startswith("{")]


def test_write_baseline_md_renders_committed_payloads(tmp_path, monkeypatch):
    """Regenerating from the payloads embedded in the committed artifact
    reproduces it byte for byte, with the efficiency computed from those
    payloads, and leaves the committed file untouched."""
    path = bench.BASELINE_MD
    with open(path, "rb") as fh:
        committed = fh.read()
    mtime = os.stat(path).st_mtime_ns
    lo, hi = _committed_payloads()
    out = tmp_path / "BASELINE.md"
    monkeypatch.setattr(bench, "BASELINE_MD", str(out))
    bench.write_baseline_md(lo, hi, lo["cores"], hi["cores"])

    md = out.read_text()
    m = re.search(
        r"\*\*Scaling efficiency \((\d+) → (\d+) cores, this run's "
        r"full-protocol\nlegs\): ([\d.]+)\*\*", md,
    )
    assert m, md[:2000]
    assert (int(m[1]), int(m[2])) == (lo["cores"], hi["cores"]) and hi["cores"] == 4 * lo["cores"]
    thr_lo, thr_hi = lo["sequences_per_sec_flagship"], hi["sequences_per_sec_flagship"]
    assert float(m[3]) == round((thr_hi / thr_lo) / 4, 3)
    assert out.read_bytes() == committed
    assert os.stat(path).st_mtime_ns == mtime


def _fake_leg(created, fail_at=None):
    """A stand-in for the ``subprocess.run`` of one scaling leg: it creates
    the tmpfs shuffle dir, as the leg's session would, and prints a payload."""
    def run(cmd, env, **kw):
        os.makedirs(bench.SHUFFLE_TMPFS_DIR, exist_ok=True)
        created.append(env["SPARK_GRAFT_CPUS"])
        if env["SPARK_GRAFT_CPUS"] == fail_at:
            raise subprocess.TimeoutExpired(cmd, 1)
        payload = {"sequences_per_sec_flagship": 100.0 * int(env["SPARK_GRAFT_CPUS"])}
        return subprocess.CompletedProcess(cmd, 0, stdout=json.dumps(payload) + "\n")
    return run


def test_scaling_removes_its_tmpfs_shuffle_dir(tmp_path, monkeypatch):
    """``--scaling`` removes the tmpfs shuffle dir its legs create, also
    when a leg fails."""
    monkeypatch.setattr(bench, "SHUFFLE_TMPFS_DIR", str(tmp_path / "afg_shuffle"))
    monkeypatch.setattr(bench, "write_baseline_md", lambda *a: None)
    monkeypatch.setenv("AFG_SCALE_N", "1")
    created = []
    monkeypatch.setattr(subprocess, "run", _fake_leg(created))
    bench.run_scaling()
    assert created == ["1", "4"]
    assert not os.path.exists(bench.SHUFFLE_TMPFS_DIR)

    created.clear()
    monkeypatch.setattr(subprocess, "run", _fake_leg(created, fail_at="4"))
    with pytest.raises(subprocess.TimeoutExpired):
        bench.run_scaling()
    assert created == ["1", "4"]
    assert not os.path.exists(bench.SHUFFLE_TMPFS_DIR)
