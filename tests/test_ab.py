"""``scripts/ab.py``: the aggregation over pairs (no Spark) and one
end-to-end child run at the smoke scale factor."""

from __future__ import annotations

import importlib.util
import json
import math
import subprocess
import sys
from pathlib import Path

import pytest

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "ab.py"
_spec = importlib.util.spec_from_file_location("ab", SCRIPT)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _cell(totals, crc="c0", jobs=(2, 1)):
    """A child's result for one head: one rep per total, all build time."""
    return {"crc": crc, "reps": [
        {"build_s": t, "exec_s": 0.0, "build_jobs": jobs[0],
         "exec_jobs": jobs[1]} for t in totals]}


def _runs(a_reps, b_reps, crcs=None, dirs=("lo",)):
    crcs = crcs or [("c0", "c0")] * len(a_reps)
    return [{"A": {d: {"h": _cell(ra, ca)} for d in dirs},
             "B": {d: {"h": _cell(rb, cb)} for d in dirs}}
            for ra, rb, (ca, cb) in zip(a_reps, b_reps, crcs)]


def test_median_of_per_pair_mins_and_wins_with_ties():
    a = [[3.0, 2.0, 4.0], [5.0, 1.0, 9.0], [2.0, 2.5, 3.0]]  # mins 2, 1, 2
    b = [[1.5, 6.0, 2.0], [1.0, 1.2, 1.1], [2.2, 3.0, 2.4]]  # mins 1.5, 1, 2.2
    s = ab.summarize(["A", "B"], _runs(a, b))
    by_tree = {c["tree"]: c for c in s["cells"]}
    assert by_tree["A"]["mins"] == [2.0, 1.0, 2.0]
    assert by_tree["A"]["s"] == 2.0 and by_tree["B"]["s"] == 1.5
    assert by_tree["B"]["build_jobs"] == 2 and by_tree["B"]["exec_jobs"] == 1
    (row,) = s["compare"]
    assert row["crc_equal"] is True
    assert row["ratio"] == pytest.approx(0.75)
    # pair 2 is a tie (1.0 vs 1.0): it counts for neither tree
    assert (row["b_wins"], row["a_wins"], row["pairs"]) == (1, 1, 3)
    assert s["exponents"] == []
    # an even count reports the lower median pair, with its own split
    two = {c["tree"]: c for c in ab.summarize(["A", "B"],
                                              _runs(a[:2], b[:2]))["cells"]}
    assert two["A"]["s"] == two["A"]["build_s"] == 1.0


def test_crc_mismatch_is_flagged():
    runs = _runs([[1.0], [1.0]], [[1.0], [1.0]],
                 crcs=[("c0", "c0"), ("c0", "c1")])
    (row,) = ab.summarize(["A", "B"], runs)["compare"]
    assert row["crc_equal"] is False
    # a crc that differs between pairs of one tree is flagged too
    runs = [{"A": {"lo": {"h": _cell([1.0], crc)}}} for crc in ("c0", "c1")]
    (row,) = ab.summarize(["A"], runs)["compare"]
    assert row["crc_equal"] is False and "ratio" not in row


def test_exponent_per_step_across_dirs():
    runs = [{"A": {"x1": {"h": _cell([1.0])}, "x10": {"h": _cell([8.0])},
                   "x100": {"h": _cell([80.0])}}}]
    (x,) = ab.summarize(["A"], runs)["exponents"]
    assert x["tree"] == "A"
    assert x["e"] == pytest.approx([math.log10(8.0), 1.0])


def test_one_tree_smoke_run_ends_in_json(sf_dir):
    p = subprocess.run(
        [sys.executable, str(SCRIPT), "--dirs", sf_dir, "--pairs", "1",
         "metadata_nodes"],
        capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    (cell,) = out["cells"]
    assert cell["head"] == "metadata_nodes" and len(cell["crc"]) == 1
    assert cell["build_jobs"] >= 0 and cell["exec_jobs"] >= 1
    assert out["compare"][0]["crc_equal"] is True
