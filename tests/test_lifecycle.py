"""End-to-end lifecycle scenario (VERDICT r4 item 5): one corpus driven
through batch resolve → streaming ingest (with a mid-stream checkpoint
resume) → capped incremental assignment with overflow → batch reconcile →
member-aware incremental re-resolve → group round 2 — asserting the final
clusters EQUAL a from-scratch resolve of the union.

The pieces are individually oracle-checked; this is the composition a real
user runs for months. Equality holds by design when (a) the incremental
match universe carries every clustered prior name (``member_sample_k`` ≥
max cluster size — the same condition the incremental_resolve_members
oracle uses) and (b) both paths apply the same accept rule; the scenario
pins exactly that contract.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from name_matching_spark.operators.cc import name_clusters
from name_matching_spark.pipeline import incremental_resolve, match_names

# round-1 accept is deliberately STRICTER than round 2's merge rule
# (cosine 0.75 vs 0.65), mirroring the reference where round 1 is
# human/RF-screened: the XANTHE cross-cluster pairs (cosine 0.68-0.71 depending on universe idf, jaro
# distance 0.130, raw shared words <= 3 incl. the CO suffix, token_sim
# 0.867) fail round 1 on every channel and are merged ONLY by group
# round 2 (group-name cosine 0.715 in the group universe) — so the
# regroup stage does real, observable work in this scenario
ACCEPT = dict(jaro_accept=0.10, cosine_accept=0.75, shared_words_accept=4)

# wave 1: entities with >= 2 names each so every wave-1 name is
# clustered (reps + members cover the whole prior corpus — the regime the
# rep-based incremental contract is exact in)
WAVE1 = [
    "KATO ENERGY", "KATO ENERGY CORP", "KATO ENERGY LLC",
    "KETO OIL", "KETO OIL CORP",
    "BOLT GAS", "BOLT GAS INC",
    "MIRAVEX OPERATING", "MIRAVEX OPERATING CO",
    "XANTHE BORELLI MINING", "XANTHE BORELLI MINING CO",
    "XANTHE BORELLI SMELTING", "XANTHE BORELLI SMELTING CO",
]
# wave 2, split in two file drops around a streaming restart:
#   KATO ENERGY COMPANY  -> joins the KATO cluster via its rep
#   BOLT GAS PARTNERS    -> joins BOLT via rep (shared prefix, jaro)
#   ZENTRA MINERALS / ZENTRA MINERALS LLC -> brand-new cluster
#   KUTO GAS             -> lands on the saturated KT metaphone key
#                           (cap 2: KATO/KETO hold it) -> overflow ->
#                           reconciled as a batch singleton
WAVE2A = ["KATO ENERGY COMPANY", "ZENTRA MINERALS", "KUTO GAS"]
WAVE2B = ["BOLT GAS PARTNERS", "ZENTRA MINERALS LLC"]


def _docs(spark, names, start_id=0):
    rows = [
        (
            f"d{start_id + i}",
            [
                {"kind": "media", "text": None,
                 "media_ref": f"media://blob/{start_id + i}", "offset": 0},
                {"kind": "text", "text": nm, "media_ref": None, "offset": 1},
            ],
        )
        for i, nm in enumerate(names)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def _resolve(names_df):
    """The scenario's accept rule, shared verbatim by both paths."""
    mm = match_names(names_df.select("name").distinct())
    accepted = mm.master.where(
        (F.col("jw_distance") <= ACCEPT["jaro_accept"])
        | (F.col("cosine_similarity") >= ACCEPT["cosine_accept"])
        | (F.col("shared_words") >= ACCEPT["shared_words_accept"])
    ).select("name", "match")
    return name_clusters(accepted)


def _cluster_sets(clusters) -> dict[str, frozenset]:
    """{group_name: frozenset(members incl. the rep)} — id-free equality."""
    out: dict[str, set] = {}
    for r in clusters.collect():
        out.setdefault(r["group_name"], set()).add(r["name"])
        out.setdefault(r["group_name"], set()).add(r["group_name"])
    return {g: frozenset(m) for g, m in out.items()}


def test_lifecycle_batch_stream_reconcile_incremental_regroup(spark, tmp_path):
    from name_matching_spark.operators.grouping import (
        match_group_names,
        regroup_clusters,
    )
    from name_matching_spark.streaming.incremental import (
        read_assignments,
        read_overflow,
        reconcile_overflow,
        start_incremental_assign,
    )
    from name_matching_spark.streaming.ingest import (
        new_names_since,
        read_name_counts,
        start_name_ingest,
    )

    # ---- phase 1: batch resolve of wave 1 --------------------------------
    docs1 = _docs(spark, WAVE1)
    clusters1 = _resolve(
        docs1.select(F.explode("spans").alias("s"))
        .where("s.kind = 'text'")
        .select(F.col("s.text").alias("name"))
    ).localCheckpoint(eager=True)
    sets1 = _cluster_sets(clusters1)
    # every wave-1 name is clustered (the exactness precondition)
    assert sorted(n for ms in sets1.values() for n in ms) == sorted(WAVE1)

    # ---- phase 2: streaming ingest + capped assignment, with a restart ---
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ing_table = str(tmp_path / "ing_table")
    ckpt_assign = str(tmp_path / "ckpt_assign")
    ckpt_ingest = str(tmp_path / "ckpt_ingest")

    # seed the stream's per-key state with the BATCH clusters' reps (the
    # reconcile→stream loop): the KT metaphone key starts saturated
    # (KATO, KETO at cap 2), so a non-matching arrival must overflow
    # instead of growing state
    from name_matching_spark.functions.normalize import with_clean_name
    from name_matching_spark.operators.phonetic import with_metaphone_key

    seed = with_metaphone_key(
        with_clean_name(
            clusters1.select(F.col("name").alias("raw_name")),
            "raw_name", "name", drop_common=True,
        )
        .where(F.col("name") != "")
        .withColumn("_bag", F.split("name", " ")),
        "_bag",
        out="block_key",
    ).select("block_key", F.col("name").alias("rep")).distinct()

    _docs(spark, WAVE2A, start_id=100).coalesce(1).write.mode("append").parquet(src)
    start_name_ingest(spark, src, ing_table, ckpt_ingest).awaitTermination(120)
    start_incremental_assign(
        spark, src, table, ckpt_assign, max_reps_per_key=2, initial_reps=seed
    ).awaitTermination(120)
    wave2a_dirs = len(
        [d for d in os.listdir(os.path.join(ing_table, "name_counts"))
         if d.startswith("batch_id=")]
    )
    assert wave2a_dirs >= 1

    # restart BOTH queries on their checkpoints after the second file drop
    # — offsets resume, only the new files are processed (the mid-scenario
    # checkpoint-resume the verdict asked for)
    _docs(spark, WAVE2B, start_id=200).coalesce(1).write.mode("append").parquet(src)
    start_name_ingest(spark, src, ing_table, ckpt_ingest).awaitTermination(120)
    start_incremental_assign(
        spark, src, table, ckpt_assign, max_reps_per_key=2
    ).awaitTermination(120)

    counts = {r["name"]: r["n"] for r in read_name_counts(spark, ing_table).collect()}
    assert counts == {nm: 1 for nm in WAVE2A + WAVE2B}  # exact across restart
    frontier = {
        r["name"] for r in new_names_since(spark, ing_table, -1).collect()
    }
    assert frontier == set(WAVE2A + WAVE2B)

    # the saturated KT key overflowed KUTO (KATO/KETO hold the cap)
    assert {r["name"] for r in read_overflow(spark, table).collect()} == {"KUTO"}

    # ---- phase 3: batch reconcile drains the overflow --------------------
    assert reconcile_overflow(spark, table) == 1
    assert read_overflow(spark, table).count() == 0
    assigned = {r["name"]: r for r in read_assignments(spark, table).collect()}
    assert assigned["KUTO"]["cluster_rep"] == "KUTO"  # reconciled singleton

    # ---- phase 4: member-aware incremental re-resolve --------------------
    new_names = spark.createDataFrame(
        [(n,) for n in sorted(frontier)], "name string"
    )
    clusters2 = incremental_resolve(
        new_names,
        clusters1,
        member_sample_k=10,  # >= max cluster size -> exact contract
        **ACCEPT,
    ).localCheckpoint(eager=True)

    # ---- phase 5: group round 2 on both paths ----------------------------
    def round2(clusters):
        pairs = match_group_names(clusters)
        # the XANTHE MINING/SMELTING groups sit between the round-1 and
        # round-2 thresholds: the regroup must actually merge here
        assert pairs.count() >= 1
        return regroup_clusters(clusters, pairs)

    final_incremental = _cluster_sets(round2(clusters2))

    # ---- from-scratch resolve of the union -------------------------------
    all_names = spark.createDataFrame(
        [(n,) for n in WAVE1 + WAVE2A + WAVE2B], "name string"
    )
    final_scratch = _cluster_sets(round2(_resolve(all_names)))

    assert final_incremental == final_scratch
    # the new arrivals landed where they belong
    joined = {n: g for g, ms in final_incremental.items() for n in ms}
    assert joined["KATO ENERGY COMPANY"] == joined["KATO ENERGY"]
    assert joined["BOLT GAS PARTNERS"] == joined["BOLT GAS"]
    assert joined["ZENTRA MINERALS LLC"] == joined["ZENTRA MINERALS"]
    # round 2 merged the two XANTHE clusters (round 1 could not)
    assert joined["XANTHE BORELLI MINING"] == joined["XANTHE BORELLI SMELTING"]
    # KUTO stayed a singleton on both paths (reconciled, never clustered)
    assert "KUTO GAS" not in joined
