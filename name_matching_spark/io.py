"""Table I/O: schema-enforced scans and MERGE INTO.

The pipeline's inputs/outputs are plain parquet directories (the sandbox
stand-in for Iceberg tables — snapshot/append semantics live in
checkpoint.py and streaming/ingest.py). This module adds the pieces a
100 TB deployment layers on top:

- ``read_documents``: schema-pinned scan of the interleaved span table
  (bad files fail fast instead of silently widening the schema).
- ``merge_into`` / ``read_merged``: a generation-directory managed table
  with Iceberg-``MERGE INTO`` semantics (SURVEY §2.11). Each merge writes
  a complete new snapshot generation and atomically renames it live, so a
  crash mid-merge leaves the previous generation untouched and readers
  never observe a partial table — the reference's read-modify-write of its
  review CSVs (pre_screen_names.R:220-228) without its torn-write window.
  On a real deployment this maps 1:1 onto ``MERGE INTO labels USING new ON
  keys WHEN NOT MATCHED THEN INSERT`` (never-overwrite) /
  ``WHEN MATCHED THEN UPDATE`` (overwrite); see ARCHITECTURE.md.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENTS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced scan of documents(doc_id, spans)."""
    return spark.read.schema(DOCUMENTS_DDL).parquet(path)


# ---------------------------------------------------------------------------
# generation-directory managed table: MERGE INTO without a table format
# ---------------------------------------------------------------------------

_GEN_RE = re.compile(r"gen=(\d+)$")


def _generations(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    out = []
    for d in os.listdir(table_dir):
        m = _GEN_RE.fullmatch(d)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_merged(spark: SparkSession, table_dir: str) -> DataFrame | None:
    """Latest committed generation of a ``merge_into`` table, or None when
    the table does not exist yet."""
    gens = _generations(table_dir)
    if not gens:
        return None
    return spark.read.parquet(os.path.join(table_dir, f"gen={gens[-1]}"))


def merge_into(
    spark: SparkSession,
    table_dir: str,
    new_df: DataFrame,
    keys: list[str],
    when_matched: str = "keep_existing",
    keep_generations: int = 2,
) -> int:
    """Merge ``new_df`` into the managed table at ``table_dir`` on ``keys``.

    ``when_matched='keep_existing'`` is the reference's never-overwrite rule
    (earlier human decisions always win, pre_screen_names.R:220-228);
    ``'overwrite'`` makes the new rows win instead. Unmatched rows from both
    sides are kept (full-outer MERGE).

    Duplicate keys WITHIN a side (e.g. the same pair labeled twice in one
    review batch) are collapsed to one deterministic winner — priority
    first, then the smallest content hash of the non-key columns — on the
    first merge and on every later one, so the result never depends on
    shuffle order. (Iceberg's MERGE INTO would instead error on multiple
    matches; a review queue wants dedup, not a failed commit.)

    Crash-safety: the merged snapshot is written to a scratch directory and
    renamed to ``gen=<n+1>`` in one atomic filesystem operation — a failure
    at ANY point leaves the previous generation as the committed table (the
    same generation pattern as streaming compaction). Older generations are
    pruned down to ``keep_generations`` (≥ 1) AFTER the commit (cheap time
    travel / post-mortem). Returns the committed generation id.
    """
    assert when_matched in ("keep_existing", "overwrite")
    assert keep_generations >= 1, "keep_generations=0 would prune the live table"
    from pyspark.sql import Window

    def _dedup(df: DataFrame, order_cols: list) -> DataFrame:
        value_cols = [c for c in df.columns if c not in keys and c != "_prio"]
        tie = F.xxhash64(*value_cols) if value_cols else F.lit(0)
        w = Window.partitionBy(*keys).orderBy(*order_cols, tie.asc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    existing = read_merged(spark, table_dir)
    if existing is None:
        merged = _dedup(new_df, [])
        next_gen = 0
    else:
        new_prio = 1 if when_matched == "keep_existing" else 0
        u = existing.withColumn("_prio", F.lit(1 - new_prio)).unionByName(
            new_df.withColumn("_prio", F.lit(new_prio))
        )
        merged = _dedup(u, [F.col("_prio").asc()]).drop("_prio")
        next_gen = _generations(table_dir)[-1] + 1
    os.makedirs(table_dir, exist_ok=True)
    tmp = os.path.join(table_dir, f"_merging_gen_{next_gen}")
    if os.path.isdir(tmp):  # leftover from a crashed merge: scratch, not data
        shutil.rmtree(tmp)
    merged.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(table_dir, f"gen={next_gen}"))
    for g in _generations(table_dir)[:-keep_generations]:
        shutil.rmtree(os.path.join(table_dir, f"gen={g}"))
    return next_gen
