"""spark-submit entry point for the full resolution pipeline.

Cluster usage (north-rule deployment shape)::

    zip -r nm_spark.zip name_matching_spark
    spark-submit --py-files nm_spark.zip jobs/resolve_job.py \
        --documents s3://bucket/docs --output s3://bucket/out \
        --checkpoint s3://bucket/ckpt [--addresses ...] [--labels ...]

Local smoke (what tests/CI run)::

    spark-submit --master 'local[8]' --py-files nm_spark.zip \
        jobs/resolve_job.py --fixtures sf0.001 --output /tmp/out \
        --checkpoint /tmp/ckpt

The job is a thin shell: read inputs → ``resolve_entities_checkpointed``
(resumable; per-stage metrics in <checkpoint>/manifest.jsonl) → write the
cluster table. All logic lives in the package so the same code runs on
local[N] and a multi-executor cluster unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# importable both under spark-submit --py-files AND as `python jobs/<job>.py`
# (python puts jobs/ on sys.path, not the repo root)
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--documents", help="parquet path of documents(doc_id, spans)")
    p.add_argument("--fixtures", help="use the seeded fixture corpus at this sf instead")
    p.add_argument("--addresses")
    p.add_argument("--labels")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--num-trees", type=int, default=100)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("resolve_entities").getOrCreate()

    from name_matching_spark.checkpoint import resolve_entities_checkpointed

    if args.fixtures:
        from name_matching_spark.datagen import ensure_fixtures

        fx = ensure_fixtures(args.fixtures)
        docs = spark.read.parquet(os.path.join(fx, "documents_spans.parquet"))
        addresses = spark.read.parquet(os.path.join(fx, "addresses.parquet"))
        labels = spark.read.parquet(os.path.join(fx, "labeled_pairs.parquet"))
        corpus_fp = f"fixtures:{args.fixtures}"
    else:
        docs = spark.read.parquet(args.documents)
        addresses = spark.read.parquet(args.addresses) if args.addresses else None
        labels = spark.read.parquet(args.labels) if args.labels else None
        corpus_fp = args.documents

    mgr, clusters = resolve_entities_checkpointed(
        docs,
        args.checkpoint,
        addresses=addresses,
        labels=labels,
        num_trees=args.num_trees,
        corpus_fingerprint=corpus_fp,
    )
    clusters.write.mode("overwrite").parquet(args.output)
    # the written output is the cluster stage's table: no re-count
    summary = {
        "clusters_rows": mgr.results["cluster"].rows,
        "stages": {
            k: {"rows": v.rows, "skipped": v.skipped, "files": len(v.files),
                "hist": v.hist}
            for k, v in mgr.results.items()
        },
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
