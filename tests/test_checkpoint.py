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


def test_uri_root_refused_before_any_job(spark, tmp_path):
    # the manifest and markers use local file I/O: a URI root must fail at
    # construction, not after Spark has written the first stage's data
    for root in (f"file://{tmp_path}/ckpt", "s3://bucket/ckpt", "hdfs:/ckpt"):
        with pytest.raises(ValueError, match="is a URI"):
            CheckpointManager(root, spark)
    assert not (tmp_path / "ckpt").exists()
    CheckpointManager(str(tmp_path / "ckpt"), spark)  # a plain path is fine


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

    # an empty write may never run the observed plan: zero rows, all-zero
    # bins
    mgr.stage("empty", lambda: build().where("id < 0"), score_cols=["s"])
    assert mgr.results["empty"].rows == 0
    assert mgr.results["empty"].hist == {"s": [0] * 10}


def test_stage_runs_no_job_beyond_its_write(spark, tmp_path):
    """A stage's metrics come back with its write: the stage runs exactly
    the jobs of the same write done by hand, and no re-scan."""
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

    mgr = CheckpointManager(str(tmp_path / "ckpt"), spark)
    staged = jobs_in_group("stage", lambda: mgr.stage("s", fn, score_cols=["s"]))
    by_hand_dir = str(tmp_path / "by_hand")
    by_hand = jobs_in_group(
        "by_hand", lambda: fn().write.mode("overwrite").parquet(by_hand_dir)
    )
    assert by_hand > 0
    assert staged == by_hand, (staged, by_hand)
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


def test_fresh_manager_resume_registers_no_table(spark, tmp_path, monkeypatch):
    # a resume in a new process is a fresh CheckpointManager on the same
    # root: every stage is served from its parquet directory without running
    # its builder, and nothing is left in the process-global session catalog
    fx = ensure_fixtures("sf0.001")
    docs = spark.read.parquet(os.path.join(fx, "documents_spans.parquet"))
    addr = spark.read.parquet(os.path.join(fx, "addresses.parquet"))
    labels = spark.read.parquet(os.path.join(fx, "labeled_pairs.parquet"))
    root = str(tmp_path / "ckpt")

    def rows(df):
        return sorted(repr(tuple(r)) for r in df.collect())

    def tables():
        return {t.name for t in spark.catalog.listTables()}

    before = tables()
    mgr1, _ = resolve_entities_checkpointed(
        docs, root, addresses=addr, labels=labels, num_trees=10,
        corpus_fingerprint="sf0.001",
    )
    written = {s: rows(r.df) for s, r in mgr1.results.items()}

    # the resume may not call any stage's builder
    import name_matching_spark.operators.address as address
    import name_matching_spark.operators.cc as cc
    import name_matching_spark.operators.extract as extract
    import name_matching_spark.operators.prescreen as prescreen
    import name_matching_spark.pipeline as pipeline

    def refuse(*args, **kwargs):
        raise AssertionError("a skipped stage ran its builder")

    for mod, fn in [(extract, "extract_names"), (pipeline, "match_names"),
                    (address, "match_addresses"), (prescreen, "pre_screen"),
                    (cc, "name_clusters")]:
        monkeypatch.setattr(mod, fn, refuse)
    mgr2, _ = resolve_entities_checkpointed(
        docs, root, addresses=addr, labels=labels, num_trees=10,
        corpus_fingerprint="sf0.001",
    )
    assert set(mgr2.results) == set(written) == {
        "extract_names", "match_names", "match_addresses", "pre_screen", "cluster"
    }
    for stage, res in mgr2.results.items():
        assert res.skipped, stage
        assert rows(res.df) == written[stage], stage
        # a plain parquet read of the stage directory (what jobs/review_job.py
        # does with pre_screen) sees the same rows
        plain = spark.read.parquet(os.path.join(root, stage))
        assert rows(plain) == written[stage], stage
    after = tables()
    assert after == before, after - before
    assert not any(t.startswith("nm_ckpt_") for t in after)


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
