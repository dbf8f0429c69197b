"""Resume semantics: kill after stage k → re-run skips ≤ k, output identical."""

import json
import os

import pytest
from pyspark.sql import functions as F

from name_matching_spark.checkpoint import (
    CheckpointManager,
    resolve_entities_checkpointed,
)
from name_matching_spark.datagen import ensure_fixtures


def test_stage_skip_and_recompute(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = []

    def build(tag):
        def _fn():
            calls.append(tag)
            return spark.range(5).withColumn("tag", F.lit(tag))
        return _fn

    m1 = CheckpointManager(root, spark)
    m1.stage("a", build("a"), params=1)
    m1.stage("b", build("b"), depends_on=["a"], params=2)
    assert calls == ["a", "b"]

    # fresh manager (≈ new process): both stages skip
    m2 = CheckpointManager(root, spark)
    df_a = m2.stage("a", build("a2"), params=1)
    df_b = m2.stage("b", build("b2"), depends_on=["a"], params=2)
    assert calls == ["a", "b"]
    assert df_a.count() == 5 and df_b.count() == 5
    assert m2.results["a"].skipped and m2.results["b"].skipped

    # changed params on a → a recomputes AND b recomputes (fingerprint chain)
    m3 = CheckpointManager(root, spark)
    m3.stage("a", build("a3"), params=99)
    m3.stage("b", build("b3"), depends_on=["a"], params=2)
    assert calls == ["a", "b", "a3", "b3"]


def test_lineage_metrics(spark, tmp_path):
    root = str(tmp_path / "ckpt")

    def build():
        return spark.range(100).withColumn(
            "s", F.when(F.col("id") < 95, (F.col("id") % 10) / 10.0)
        )

    mgr = CheckpointManager(root, spark)
    mgr.stage("scores", build, score_cols=["s", "absent"])
    res = mgr.results["scores"]
    with open(os.path.join(root, "manifest.jsonl")) as f:
        line = json.loads(f.read().splitlines()[-1])

    # a fresh manager hits the checkpoint and reads the same metrics back
    # from the manifest line
    hit = CheckpointManager(root, spark)
    hit.stage("scores", build, score_cols=["s", "absent"])
    assert hit.results["scores"].skipped

    for files, hist, rows in [
        (res.files, res.hist, res.rows),
        (line["files"], line["hist"], line["rows"]),
        (hit.results["scores"].files, hit.results["scores"].hist,
         hit.results["scores"].rows),
    ]:
        # per-file row counts are the written files, and sum to the rows
        assert set(files) == {
            n for n in os.listdir(os.path.join(root, "scores"))
            if n.endswith(".parquet")
        }
        assert sum(files.values()) == rows == 100
        # only present score columns get a histogram; nulls fall in no bin
        assert set(hist) == {"s"}
        assert len(hist["s"]) == 10 and hist["s"][0] == 10
        assert sum(hist["s"]) == 95  # the non-null count of s

    # an empty bucketed write may write no file and never run the observed
    # plan: zero rows, all-zero bins
    mgr.stage("empty", lambda: build().where("id < 0"), score_cols=["s"],
              bucket_by=["id"])
    assert mgr.results["empty"].rows == 0
    assert mgr.results["empty"].hist == {"s": [0] * 10}


def test_stage_runs_no_job_beyond_its_write(spark, tmp_path):
    """A stage's metrics come back with its write: the stage runs exactly
    the jobs of the same write done by hand, and no re-scan."""
    from name_matching_spark.io import write_bucketed

    sc = spark.sparkContext

    def fn():
        return spark.range(100).withColumn("s", (F.col("id") % 10) / 10.0)

    def jobs_in_group(group, run):
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for tag, bucket_by in [("plain", None), ("bucketed", ["id"])]:
        mgr = CheckpointManager(str(tmp_path / f"ckpt_{tag}"), spark)
        staged = jobs_in_group(
            f"stage_{tag}",
            lambda: mgr.stage("s", fn, score_cols=["s"], bucket_by=bucket_by),
        )
        by_hand_dir = str(tmp_path / f"by_hand_{tag}")

        def write():
            if bucket_by:
                write_bucketed(fn(), "t_by_hand", bucket_by, mgr.num_buckets,
                               path=by_hand_dir)
            else:
                fn().write.mode("overwrite").parquet(by_hand_dir)

        try:
            by_hand = jobs_in_group(f"by_hand_{tag}", write)
        finally:
            spark.sql("DROP TABLE IF EXISTS t_by_hand")
        assert by_hand > 0
        assert staged == by_hand, (tag, staged, by_hand)
        res = mgr.results["s"]
        assert res.rows == 100 and res.hist["s"] == [10] * 10


def test_pipeline_resume_identical(spark, tmp_path):
    fx = ensure_fixtures("sf0.001")
    docs = spark.read.parquet(os.path.join(fx, "documents_spans.parquet"))
    addr = spark.read.parquet(os.path.join(fx, "addresses.parquet"))
    labels = spark.read.parquet(os.path.join(fx, "labeled_pairs.parquet"))
    root = str(tmp_path / "pipeline_ckpt")

    mgr1, clusters1 = resolve_entities_checkpointed(
        docs, root, addresses=addr, labels=labels, num_trees=20,
        corpus_fingerprint="sf0.001",
    )
    out1 = sorted((r["name"], r["group_name"]) for r in clusters1.collect())
    assert not any(r.skipped for r in mgr1.results.values())

    # "kill + restart": fresh manager over the same dir → all stages skipped,
    # byte-identical output
    mgr2, clusters2 = resolve_entities_checkpointed(
        docs, root, addresses=addr, labels=labels, num_trees=20,
        corpus_fingerprint="sf0.001",
    )
    out2 = sorted((r["name"], r["group_name"]) for r in clusters2.collect())
    assert out1 == out2
    assert all(r.skipped for r in mgr2.results.values())

    # parameter change downstream: upstream stages still skip, prescreen+cluster rerun
    mgr3, _ = resolve_entities_checkpointed(
        docs, root, addresses=addr, labels=labels, num_trees=21,
        corpus_fingerprint="sf0.001",
    )
    assert mgr3.results["extract_names"].skipped
    assert mgr3.results["match_names"].skipped
    assert not mgr3.results["pre_screen"].skipped
    assert not mgr3.results["cluster"].skipped

    # the resume-path master⋈screened join reuses the bucketed write-time
    # layout: both stages are bucketed by the canonical pair key, so the
    # join plans with ZERO exchanges (the 100-TB point of bucketing the
    # stage boundary — no re-shuffle of the pair key across a resume)
    master = mgr3.results["match_names"].df.select("name", "match", "jw_distance")
    screened = mgr3.results["pre_screen"].df.select("name", "match", "keep")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = master.join(screened, ["name", "match"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == mgr3.results["pre_screen"].rows
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_stage_reregisters_in_fresh_catalog(spark, tmp_path):
    # simulate resume in a NEW session (empty in-memory catalog): drop the
    # catalog entry, rebuild the manager, and assert the stage re-registers
    # the table from manifest DDL over the existing files — still bucketed
    # (zero-exchange self-join), identical rows.
    root = str(tmp_path / "ckpt_bucketed")
    calls = []

    def build():
        calls.append(1)
        return spark.range(500).selectExpr(
            "concat('N', id) as name", "concat('M', id) as match",
            "id * 0.001 as jw_distance",
        )

    m1 = CheckpointManager(root, spark)
    df1 = m1.stage("pairs", build, bucket_by=["name", "match"],
                   sort_by=["name", "match"])
    tbl = m1._table_name("pairs")
    assert spark.catalog.tableExists(tbl)
    rows1 = sorted(r["name"] for r in df1.collect())

    spark.sql(f"DROP TABLE {tbl}")  # ← fresh-session catalog
    m2 = CheckpointManager(root, spark)
    df2 = m2.stage("pairs", build, bucket_by=["name", "match"],
                   sort_by=["name", "match"])
    assert calls == [1]  # skipped, not recomputed
    assert m2.results["pairs"].skipped
    assert sorted(r["name"] for r in df2.collect()) == rows1
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = df2.join(df2.select("name", "match"), ["name", "match"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_stage_integrity_gate(spark, tmp_path):
    # the _FINGERPRINT file ties the on-disk data to the manifest entry: a
    # directory whose data does not carry the manifest's fingerprint (crash
    # between data overwrite and manifest append) must NOT cache-hit
    import os

    from name_matching_spark.checkpoint import CheckpointManager

    root = str(tmp_path / "ck")
    mgr = CheckpointManager(root, spark)
    mgr.stage("s", lambda: spark.range(5).toDF("x"), params="A")
    assert not mgr.results["s"].skipped

    # normal resume: manifest fp matches AND the directory self-describes
    mgr2 = CheckpointManager(root, spark)
    mgr2.stage("s", lambda: spark.range(5).toDF("x"), params="A")
    assert mgr2.results["s"].skipped

    # simulate the torn commit: data on disk no longer carries the
    # manifest's fingerprint (here: the _FINGERPRINT file diverges)
    with open(os.path.join(root, "s", "_FINGERPRINT"), "w") as f:
        f.write("someone-elses-fingerprint")
    mgr3 = CheckpointManager(root, spark)
    mgr3.stage("s", lambda: spark.range(5).toDF("x"), params="A")
    assert not mgr3.results["s"].skipped  # integrity gate forces a re-run
    mgr4 = CheckpointManager(root, spark)
    mgr4.stage("s", lambda: spark.range(5).toDF("x"), params="A")
    assert mgr4.results["s"].skipped  # and the re-run re-commits cleanly


def test_df_fingerprint_multiplicity(spark):
    # xor alone cancels duplicate multiplicity ({A,A,B} vs {B,B,B}: same
    # count, same xor); the mod-prime sum term must separate them
    from name_matching_spark.checkpoint import df_fingerprint

    aab = spark.createDataFrame([("A",), ("A",), ("B",)], "v string")
    bbb = spark.createDataFrame([("B",), ("B",), ("B",)], "v string")
    assert df_fingerprint(aab) != df_fingerprint(bbb)
