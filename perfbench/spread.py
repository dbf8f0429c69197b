"""Run the benchmark several times on different seeds and report, for each
end-to-end metric, the median and the quartile spread as a share of the
median (the steadiness check the bounds in BENCHMARK.json are set against).

    python3 perfbench/spread.py --workload score_kernel --runs 10 [--first-seed 1]

Runs are sequential, each in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, *spec["command"][1:], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        lines = proc.stdout.strip().splitlines() or ["{}"]
        res = json.loads(lines[-1])
        detail = next((json.loads(x[len("# detail "):]) for x in lines
                       if x.startswith("# detail ")), {})
        print(f"seed {seed} exit {proc.returncode} correct {res.get('correct')} "
              f"failed {res.get('failed')} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in res.get("metrics", {}).items())
              + f" ops={[round(x, 2) for x in detail.get('op_s', [])]}",
              flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 4:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        note = f" bound {b} ({'ok' if spread < b / 3 else 'WIDE'})" if b else ""
        print(f"{k}: median {med:.6g} spread {spread:.4f}{note}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
