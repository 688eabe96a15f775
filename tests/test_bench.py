"""``bench.write_baseline_md`` renders BENCH/BASELINE.md from the two scaling
legs' payloads and the dated records in BENCH/envelope.json — no Spark."""

import json
import os
import re

import bench

BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "BASELINE.md"
)


def test_write_baseline_md_renders_committed_payloads(tmp_path, monkeypatch):
    """Regenerating from the payloads embedded in the committed artifact
    renders the efficiency from those payloads, and no union-contrast prose."""
    with open(BASELINE, "rb") as fh:
        committed = fh.read()
    raw = committed.decode().split("Raw JSON:")[-1]
    lo, hi = [json.loads(l) for l in raw.splitlines() if l.strip().startswith("{")]
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
