"""The scaling-artifact merger must exclude physically impossible DRAM
brackets from the envelope-derived medians (while keeping every run
recorded) — the defect class round 5's review found: a contaminated 4 s
streaming sample posting envelope > 1 or "algorithmic efficiency" > 1
silently fed the gate median.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.merge_scaling import main as merge_main


def _run(e28, e832, bw, env, alg):
    return {
        "pairs_per_sec_local2": 100000.0,
        "pairs_per_sec_local8": 100000.0 * 4 * e28,
        "pairs_per_sec_local32": 100000.0 * 16 * e28 * e832,
        "efficiency_2_to_8": e28,
        "efficiency_8_to_32": e832,
        "pairs": 4000000,
        "dram_gbps_2_8_32": list(bw),
        "envelope_8_to_32": env,
        "algorithmic_efficiency_8_to_32": alg,
    }


def test_invalid_brackets_excluded_from_envelope_medians(tmp_path):
    runs = [
        # three valid brackets: monotone bandwidth, envelope <= 1,
        # algorithmic <= 1.05
        _run(0.90, 0.60, (20, 55, 150), 0.68, 0.88),
        _run(0.85, 0.55, (21, 54, 148), 0.69, 0.80),
        _run(0.95, 0.58, (19, 56, 152), 0.68, 0.85),
        # bandwidth DROPS 8->32: envelope depressed, algorithmic blows up
        _run(0.80, 0.51, (18, 44, 32), 0.18, 2.82),
        # bandwidth DROPS 2->8: envelope super-linear (> 1)
        _run(0.80, 0.59, (17, 14, 90), 1.62, 0.37),
        # monotone and envelope < 1, but the kernel "beat" the ceiling:
        # the bracket sampled a transient dip
        _run(0.94, 0.60, (27, 56, 110), 0.49, 1.21),
    ]
    src = tmp_path / "in.json"
    src.write_text(json.dumps({"runs": runs}))
    out = tmp_path / "out.json"
    assert merge_main([str(out), str(src)]) == 0
    merged = json.loads(out.read_text())

    # every run stays recorded; raw-efficiency medians use all of them
    assert merged["n_runs"] == 6
    assert len(merged["runs"]) == 6
    assert merged["median_efficiency_2_to_8"] == 0.875  # median of all six

    # envelope-derived medians use only the three valid brackets
    assert merged["n_valid_envelope_brackets"] == 3
    assert merged["median_dram_envelope_8_to_32"] == 0.68
    assert merged["median_algorithmic_efficiency_8_to_32"] == 0.85
    assert merged["gate"]["met_8_to_32_vs_envelope"] is True


def test_all_brackets_valid_passthrough(tmp_path):
    runs = [
        _run(0.90, 0.60, (20, 55, 150), 0.68, 0.88),
        _run(0.85, 0.55, (21, 54, 148), 0.69, 0.80),
    ]
    src = tmp_path / "in.json"
    src.write_text(json.dumps({"runs": runs}))
    out = tmp_path / "out.json"
    assert merge_main([str(out), str(src)]) == 0
    merged = json.loads(out.read_text())
    assert merged["n_valid_envelope_brackets"] == 2
    assert merged["median_algorithmic_efficiency_8_to_32"] == 0.84


def test_no_valid_bracket_still_writes_artifact(tmp_path):
    # every bracket is physically impossible: the artifact is still
    # written, with null envelope medians and the envelope gate unmet
    runs = [
        _run(0.80, 0.51, (18, 44, 32), 0.18, 2.82),
        _run(0.80, 0.59, (17, 14, 90), 1.62, 0.37),
    ]
    src = tmp_path / "in.json"
    src.write_text(json.dumps({"runs": runs}))
    out = tmp_path / "out.json"
    assert merge_main([str(out), str(src)]) == 0
    merged = json.loads(out.read_text())
    assert merged["n_runs"] == 2
    assert merged["n_valid_envelope_brackets"] == 0
    assert merged["median_dram_envelope_8_to_32"] is None
    assert merged["median_algorithmic_efficiency_8_to_32"] is None
    assert merged["gate"]["met_8_to_32_vs_envelope"] is False
    assert merged["median_efficiency_2_to_8"] == 0.8
