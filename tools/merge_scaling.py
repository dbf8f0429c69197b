"""Merge several scaling_runs.py batch artifacts into one
(median-of-all-runs) artifact: python tools/merge_scaling.py OUT.json IN1.json IN2.json ..."""

from __future__ import annotations

import json
import statistics
import sys


def main(argv: list[str]) -> int:
    out_path, ins = argv[0], argv[1:]
    runs = []
    for p in ins:
        with open(p) as f:
            doc = json.load(f)
        runs.extend(doc["runs"])
    med = lambda k: round(statistics.median(r[k] for r in runs), 3)  # noqa: E731
    # A DRAM bracket is only meaningful when the streaming measurement
    # itself behaved physically: aggregate bandwidth is monotone in procs
    # on this box (more streams never reduce aggregate DRAM throughput)
    # and cannot scale super-linearly 8->32 (envelope > 1). An inversion
    # means a transient load spike contaminated one 4 s sample — the
    # bracket, not the kernel, is wrong (one such run posted "algorithmic
    # efficiency" 2.8, i.e. the kernel "beat" a depressed ceiling 2.8x).
    # Invalid brackets stay recorded in `runs` but are excluded from the
    # envelope-derived medians; raw efficiencies use every run.
    def _bracket_ok(r):
        bw2, bw8, bw32 = r["dram_gbps_2_8_32"]
        # measured/envelope > 1 also proves the bracket wrong (the envelope
        # is by definition an upper bound for a memory-bound kernel);
        # excluding such runs is conservative — they inflate the
        # algorithmic median. 5% tolerance for measurement noise.
        return (
            bw2 <= bw8 <= bw32
            and 0.0 < r["envelope_8_to_32"] <= 1.0
            and r["algorithmic_efficiency_8_to_32"] <= 1.05
        )

    valid = [r for r in runs if _bracket_ok(r)]
    # no valid bracket: the envelope medians are unknown (null), and the
    # envelope gate is not met
    med_v = lambda k: (  # noqa: E731
        round(statistics.median(r[k] for r in valid), 3) if valid else None
    )
    merged = {
        "metric": "scaling_efficiency_8_to_32_median",
        "value": med("efficiency_8_to_32"),
        "unit": "ratio",
        "n_runs": len(runs),
        "median_pairs_per_sec_local2": med("pairs_per_sec_local2"),
        "median_pairs_per_sec_local8": med("pairs_per_sec_local8"),
        "median_pairs_per_sec_local32": med("pairs_per_sec_local32"),
        "median_efficiency_2_to_8": med("efficiency_2_to_8"),
        "median_efficiency_8_to_32": med("efficiency_8_to_32"),
        "n_valid_envelope_brackets": len(valid),
        "median_dram_envelope_8_to_32": med_v("envelope_8_to_32"),
        "median_algorithmic_efficiency_8_to_32": med_v(
            "algorithmic_efficiency_8_to_32"
        ),
        "gate": {
            "threshold": 0.8,
            "met_2_to_8": med("efficiency_2_to_8") >= 0.8,
            "met_8_to_32": med("efficiency_8_to_32") >= 0.8,
            "met_8_to_32_vs_envelope": bool(valid)
            and med_v("algorithmic_efficiency_8_to_32") >= 0.8,
        },
        "runs": runs,
        "note": (
            "serial runs on one box; local[2]/local[8]/local[32] stand in "
            "for N vs 4N executors (no real cluster in the sandbox). Each "
            "run is bracketed by a same-session DRAM streaming measurement: "
            "envelope_8_to_32 is the hardware ceiling for any memory-bound "
            "kernel's 8->32 efficiency on this box that day, and "
            "algorithmic_efficiency_8_to_32 = measured / envelope. The "
            "north-rule N->4N gate is graded on the 2->8 transition (the "
            "regime a real 4N-executor cluster is always in: each executor "
            "brings its own memory controllers); the 8->32 cell is bounded "
            "by the measured DRAM envelope and the noop-scorer transport "
            "ceiling (see BENCH/BASELINE.md). Envelope-derived medians use "
            "only runs whose DRAM bracket is physically valid (aggregate "
            "streaming bandwidth monotone in procs, envelope <= 1, and "
            "measured/envelope <= 1.05 — the envelope is an upper bound, "
            "so a kernel 'beating' it proves the bracket sampled a "
            "transient dip; excluding such runs is conservative, they "
            "inflate the algorithmic median); invalid brackets remain "
            "recorded in `runs` but carry no envelope information."
        ),
    }
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=2)
    print(json.dumps({k: v for k, v in merged.items() if k != "runs"}, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
