"""``bench.write_baseline_md`` renders BENCH/BASELINE.md from the two scaling
legs' payloads and the dated records in BENCH/envelope.json — no Spark."""

import json
import os
import re
import subprocess

import pytest

import bench

BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "BASELINE.md"
)


def _committed_payloads():
    """The two scaling legs' payloads embedded in the committed artifact."""
    with open(BASELINE) as fh:
        raw = fh.read().split("Raw JSON:")[-1]
    return [json.loads(l) for l in raw.splitlines() if l.strip().startswith("{")]


def test_write_baseline_md_renders_committed_payloads(tmp_path, monkeypatch):
    """Regenerating from the payloads embedded in the committed artifact
    renders the efficiency from those payloads, and no union-contrast prose."""
    with open(BASELINE, "rb") as fh:
        committed = fh.read()
    lo, hi = _committed_payloads()
    monkeypatch.chdir(tmp_path)
    bench.write_baseline_md(lo, hi, lo["cores"], hi["cores"])

    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    m = re.search(
        r"\*\*Scaling efficiency \((\d+) → (\d+) cores, this run's "
        r"full-protocol\nlegs\): ([\d.]+)\*\*", md,
    )
    assert m, md[:2000]
    assert (int(m[1]), int(m[2])) == (lo["cores"], hi["cores"]) and hi["cores"] == 4 * lo["cores"]
    thr_lo, thr_hi = lo["sequences_per_sec_flagship"], hi["sequences_per_sec_flagship"]
    assert float(m[3]) == round((thr_hi / thr_lo) / 4, 3)
    assert "deliberately naive" not in md and "hybrid hot/cold-split" not in md
    assert md.rstrip().endswith(json.dumps(hi))
    with open(BASELINE, "rb") as fh:
        assert fh.read() == committed


def _checkpoint_section(tmp_path, monkeypatch, record):
    """The checkpoint section that ``write_baseline_md`` renders from the
    committed payloads and ``record`` as the only dated record."""
    lo, hi = _committed_payloads()
    monkeypatch.setattr(bench, "_records", lambda: {"checkpoint_overhead": record})
    monkeypatch.chdir(tmp_path)
    bench.write_baseline_md(lo, hi, lo["cores"], hi["cores"])
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    return md.split("## Checkpointing overhead")[1].split("Raw JSON:")[0]


def test_checkpoint_record_renders_with_and_without_the_unstaged_leg(tmp_path, monkeypatch):
    """``scripts/checkpoint_overhead.py`` records the straight and staged
    legs only; the dated record that also kept the unstaged chunk loop
    renders all its numbers. Neither names a staging flag."""
    dated = bench._records()["checkpoint_overhead"]
    assert {"chunked_s", "overhead_pct"} <= dated.keys()
    new = {k: v for k, v in dated.items() if k not in ("chunked_s", "overhead_pct", "context")}
    new.update(measured="2026-10-20", straight_s=12.5, staged_s=15.0, staged_overhead_pct=20.0)

    text = _checkpoint_section(tmp_path, monkeypatch, new)
    assert "measured 2026-10-20" in text and "12.5 s" in text
    assert "15.0 s — **20.0% overhead**" in text
    assert "unstaged" not in text and "--stage-input" not in text

    text = _checkpoint_section(tmp_path, monkeypatch, dated)
    for key in ("straight_s", "staged_s", "chunked_s"):
        assert f"{dated[key]} s" in text, key
    for key in ("staged_overhead_pct", "overhead_pct"):
        assert f"**{dated[key]}% overhead**" in text, key
    assert "--stage-input" not in text


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
