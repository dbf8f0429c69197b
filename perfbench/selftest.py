"""Self-test of the benchmark: runs each workload once at a tiny size and
checks that every correctness gate passes on the real output and rejects a
deliberately corrupted one.

    python3 perfbench/selftest.py

Run from the root of a checkout; takes two to three minutes on local[4].
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import threading

import gates
import run
import workloads
from tracer import layer_metrics


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}", flush=True)


def check_benchmark_json() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check({w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS),
          "BENCHMARK.json lists exactly the implemented workloads")
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        check(declared == table, f"BENCHMARK.json {key} names and units match run.py")


def main() -> int:
    check_benchmark_json()
    workloads.N_CLUSTER_ENTITIES = 60
    workloads.N_REFRESH_ENTITIES = 60
    workloads.N_RESOLVE_ENTITIES = 60
    workloads.N_KERNEL_ENTITIES = 100
    workloads.PAIRS_PER_PASS = 20_000
    workloads.CLUSTER_WARM_OPS = 1
    workloads.KERNEL_WARM_PASSES = 1

    shutil.rmtree(run.WORK, ignore_errors=True)
    run.configure_env()

    def fatal(reason):
        print(f"FAIL: {reason}", flush=True)
        os._exit(3)

    spark, watch, _ = run.start_session(fatal)
    try:
        # score_kernel, traced (includes the resolve phase)
        h = run.Harness(spark, watch, seed=5, seconds=1, trace=1)
        out = workloads.score_kernel(h)
        h.tracer.uninstall()
        check(all(not p for p in h.gates.values()), f"score_kernel gates pass {h.gates}")
        check(len(out["sample"]) >= 1000, "kernel oracle sample has >= 1000 rows")
        shuffled = [dict(r) for r in out["sample"]]
        col = [r["jaro_winkler"] for r in shuffled]
        random.Random(0).shuffle(col)
        for r, v in zip(shuffled, col):
            r["jaro_winkler"] = v
        check(bool(gates.check_kernel_rows(shuffled)),
              "kernel oracle gate rejects a shuffled score column")
        check(h.end_to_end()["pairwise_f1"] > 0, "score_kernel reports a quality")
        layers = h.per_layer()
        for k in ("pairs.tasks", "extract.jobs", "match_names.jobs", "pre_screen.jobs",
                  "address.self_s", "cc.jobs", "checkpoint.write_s", "checkpoint.files",
                  "checkpoint.bytes", "quality.resolve_surface_f1"):
            check(layers[k] > 0, f"{k} is measured ({layers[k]})")
        resolve = out["resolve"]
        merged = [(n, "") for n, _ in resolve["stored"]]  # every name in one cluster
        check(bool(gates.check_surface_f1(gates.surface_f1(
            gates.cluster_pairs(merged), resolve["truth"], resolve["surface"]))),
              "surface F1 gate rejects a resolve that merges every cluster")

        # cluster, traced (includes the refresh phase)
        h = run.Harness(spark, watch, seed=5, seconds=1, trace=1)
        out = workloads.cluster(h)
        h.tracer.uninstall()
        check(all(not p for p in h.gates.values()), f"cluster gates pass {h.gates}")
        timed = layer_metrics(h.ops[0]["span"])
        check(timed.get("cc.jobs", 0) > 0, f"the timed operation is traced ({timed})")
        layers = h.per_layer()
        for k in ("spark.jobs", "cc.jobs", "match_names.jobs", "incremental.jobs",
                  "io.jobs", "pairs.tasks", "blocking.candidate_pairs",
                  "quality.refresh_store_f1"):
            check(layers[k] > 0, f"{k} is measured ({layers[k]})")
        check(bool(gates.check_clusters(out["clusters"][1:], out["edges"])),
              "cluster gate rejects a cluster table missing a member")
        refresh = out["refresh"]
        prior_pairs = {(n, rep) for n, _, rep in refresh["prior"]}
        member = next(n for n, g in refresh["stored"] if (n, g) in prior_pairs)
        dropped = [r for r in refresh["stored"] if r[0] != member]
        check(bool(gates.check_memberships(dropped, refresh["prior"])),
              "membership gate rejects a dropped store row")
        before, _, on_disk = refresh["commit"]
        check(bool(gates.check_commit(before, before, on_disk[:-1])),
              "commit gate rejects a skipped store commit")
        check(bool(gates.check_store_f1(gates.F1(tp=80, fp=20, fn=20))),
              "F1 gate rejects a store below the floor")
    finally:
        run.stop_session(spark, watch)
        shutil.rmtree(run.WORK, ignore_errors=True)
    leftover = [t.name for t in threading.enumerate() if t is not threading.main_thread()
                and not t.daemon]
    check(not leftover, f"no threads left running {leftover}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
