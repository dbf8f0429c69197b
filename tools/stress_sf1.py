"""Scale stress gate: full resolve at sf1 (8× the bench corpus) + F1.

Reproduces the run documented in BENCH/BASELINE.md §"Scale ladder":

    python tools/stress_sf1.py            # prints one JSON line

The resolve runs the staged driver with its checkpoint in a fresh
temporary directory, so ``e2e_sec`` includes the stage writes.

Pass criteria mirror the north rule at 8× the usual scale: surface
pairwise F1 ≥ 0.99 with full recall against the blocked truth pairs.
Exists as a standing tool because every defect it caught was rare
per-pair but quadratic per-corpus — invisible to the sf0.001/sf0.01
gates.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from name_matching_spark.checkpoint import resolve_entities_checkpointed
    from name_matching_spark.datagen import ensure_fixtures
    from name_matching_spark.evaluate import cluster_pairs, pairwise_f1, truth_pairs
    from name_matching_spark.session import get_spark

    sf = os.environ.get("STRESS_SF", "sf1")
    fx = ensure_fixtures(sf)
    spark = get_spark()
    docs = spark.read.parquet(os.path.join(fx, "documents_spans.parquet"))
    addr = spark.read.parquet(os.path.join(fx, "addresses.parquet"))
    labels = spark.read.parquet(os.path.join(fx, "labeled_pairs.parquet"))
    truth = spark.read.parquet(os.path.join(fx, "truth_clusters.parquet"))
    t0 = time.time()
    mgr, clusters = resolve_entities_checkpointed(
        docs, tempfile.mkdtemp(prefix="stress_sf1_"), addresses=addr,
        labels=labels, num_trees=100, auto_accept=True,
    )
    n_clustered = clusters.count()
    wall = time.time() - t0
    master = mgr.results["match_names"].df
    r = pairwise_f1(cluster_pairs(clusters), truth_pairs(truth), blocked=master)
    out = {
        "sf": sf,
        "names": mgr.results["extract_names"].rows,
        "pairs": mgr.results["match_names"].rows,
        "clustered": n_clustered,
        "e2e_sec": round(wall, 1),
        "f1_surface": round(r.f1, 4),
        "f1_unrestricted": round(r.unrestricted.f1, 4),
        "precision": round(r.precision, 4),
        "recall": round(r.recall, 4),
        "pass": r.f1 >= 0.99,
    }
    print(json.dumps(out))
    return 0 if out["pass"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
