"""Blocking: hot keys are cap-and-split, never dropped, and the split is
complete (every within-block pair produced exactly once)."""

import itertools

from pyspark.sql import functions as F

from name_matching_spark.operators.blocking import (
    minhash_band_keys,
    pairs_from_index,
    split_oversized_blocks,
)


def test_hot_block_split_not_dropped(spark):
    # a hot block above max_block is cap-and-split: every pair still
    # produced
    rows = [(f"n{i}", "HOT") for i in range(10)] + [("a", "COLD"), ("b", "COLD")]
    idx = spark.createDataFrame(rows, ["name", "token"])
    pairs = pairs_from_index(idx, "token", max_block=5)
    got = {(r["name"], r["match"]) for r in pairs.collect()}
    expected = {("a", "b")} | {
        (a, b) for a, b in itertools.combinations(sorted(f"n{i}" for i in range(10)), 2)
    }
    assert got == expected
    # exactly once each (no replication duplicates)
    assert pairs.count() == len(expected)


def test_split_equals_unsplit_on_sf001_corpus(spark):
    # VERDICT r1 item 1: pair-set equality vs unsplit output at a small
    # forced cap on the sf0.01 shared corpus (first tokens are Zipf-hot
    # there, so max_block=50 genuinely splits).
    import os

    sf_dir = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("no testdata")
    from name_matching_spark.contract import _spark_prepped
    from name_matching_spark.operators.blocking import shared_word_pairs

    prepped = _spark_prepped(spark, sf_dir).localCheckpoint(eager=True)
    unsplit = shared_word_pairs(prepped, "bag_shared", max_block=1_000_000)
    split = shared_word_pairs(prepped, "bag_shared", max_block=50)
    a = {(r["name"], r["match"], r["shared_words"]) for r in unsplit.collect()}
    b = {(r["name"], r["match"], r["shared_words"]) for r in split.collect()}
    assert a == b and len(a) > 0


def test_cap_and_split_completeness(spark):
    # one block of 23 names with cap 5 → tasks bounded, pair set complete
    names = [f"name{i:02d}" for i in range(23)]
    idx = spark.createDataFrame([(n, "K") for n in names], ["name", "token"])
    tasks = split_oversized_blocks(idx, "token", cap=5)
    # enumerate pairs inside each task: same task_key, respecting sub-group
    # sides (lo side × hi side; lo == hi → upper triangle)
    t = tasks.collect()
    by_task: dict[str, list] = {}
    for r in t:
        by_task.setdefault(r["task_key"], []).append(r)
    produced = set()
    dup_check = []
    for rows in by_task.values():
        lo, hi = rows[0]["task_lo"], rows[0]["task_hi"]
        if lo == hi:
            members = sorted({r["name"] for r in rows})
            for a, b in itertools.combinations(members, 2):
                produced.add((a, b))
                dup_check.append((a, b))
        else:
            side_lo = sorted({r["name"] for r in rows if r["sub_group"] == lo})
            side_hi = sorted({r["name"] for r in rows if r["sub_group"] == hi})
            for a in side_lo:
                for b in side_hi:
                    pair = (min(a, b), max(a, b))
                    produced.add(pair)
                    dup_check.append(pair)
    expected = {(a, b) for a, b in itertools.combinations(sorted(names), 2)}
    assert produced == expected
    assert len(dup_check) == len(expected)  # exactly once
    # task-side bound: no task sees more than ~2*cap names
    assert max(len(rows) for rows in by_task.values()) <= 2 * 5 + 5


def test_minhash_bands_deterministic(spark):
    df = spark.createDataFrame(
        [("A", ["X", "Y", "Z"]), ("B", ["X", "Y", "Z"]), ("C", ["Q", "R", "S"])],
        ["name", "bag"],
    )
    keys = minhash_band_keys(df, "bag", num_hashes=8, bands=4)
    by_name = {}
    for r in keys.collect():
        by_name.setdefault(r["name"], set()).add(r["band_key"])
    assert by_name["A"] == by_name["B"]          # identical bags → identical bands
    assert not (by_name["A"] & by_name["C"])     # disjoint bags → no collision


def test_skew_stress_single_hot_block(spark):
    # one block of 1200 names (719,400 pairs) under cap=100: complete,
    # exact-once, and every task bounded — the "SMITH block" shape
    from pyspark.sql import functions as F

    from name_matching_spark.operators.blocking import split_oversized_blocks

    n = 1200
    idx = spark.range(n).select(
        F.concat(F.lit("NAME"), F.format_string("%05d", F.col("id"))).alias("name"),
        F.lit("HOT").alias("token"),
    )
    pairs = pairs_from_index(idx, "token", max_block=100)
    assert pairs.count() == n * (n - 1) // 2          # complete, exactly once
    assert pairs.select("name", "match").distinct().count() == n * (n - 1) // 2
    # task boundedness: a task holds two hash-assigned sub-groups of mean
    # size cap, so ~2*cap ± binomial noise; 3*cap is a comfortable ceiling
    tasks = split_oversized_blocks(idx, "token", cap=100)
    biggest = tasks.groupBy("task_key").count().agg(F.max("count")).collect()[0][0]
    assert biggest <= 3 * 100


def test_split_fuzz_property(spark):
    # randomized block layouts: split pair set == unsplit pair set for any
    # (sizes, cap). hypothesis drives the shapes; Spark checks each one.
    import pytest

    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sizes=st.lists(st.integers(1, 30), min_size=1, max_size=4),
        cap=st.integers(2, 12),
    )
    def inner(sizes, cap):
        import itertools

        rows = [
            (f"blk{b}_n{i:03d}", f"K{b}")
            for b, size in enumerate(sizes)
            for i in range(size)
        ]
        idx = spark.createDataFrame(rows, ["name", "token"])
        pairs = pairs_from_index(idx, "token", max_block=cap)
        got = sorted((r["name"], r["match"]) for r in pairs.collect())
        expected = sorted(
            pair
            for b, size in enumerate(sizes)
            for pair in itertools.combinations(
                sorted(f"blk{b}_n{i:03d}" for i in range(size)), 2
            )
        )
        assert got == expected  # complete AND exactly-once (list, not set)

    inner()


def test_pairs_from_index_plan_shapes(spark):
    # one plan for every cap: the split machinery (task_key) is always
    # planned, and every scan in it reads the ONE checkpointed index —
    # never an in-memory cache and never a recomputed copy of the index
    # subtree (the round-1 broadcast-of-recomputed-subtree defect) — with
    # no per-row window count over the index.
    import io
    import re
    from contextlib import redirect_stdout

    from name_matching_spark.operators.blocking import pairs_from_index

    idx = spark.range(40).selectExpr(
        "format_string('n%02d', id) AS name", "concat('K', id % 5) AS token"
    )

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    for max_block in (2000, 3):
        p = plan_of(pairs_from_index(idx, "token", max_block=max_block))
        assert "task_key" in p
        assert "InMemoryTableScan" not in p
        assert "Range" not in p             # the index lineage is cut
        assert "Window" not in p
        scans = re.findall(r"Arguments: \[.*?\], (\w+\[\d+\]) at \w*[cC]heckpoint", p)
        assert len(scans) == len(re.findall(r"^\(\d+\) Scan ExistingRDD", p, re.M)) >= 2
        assert len(set(scans)) == 1         # both join sides: one checkpoint


def test_char_shingle_short_names_excluded(spark):
    # names shorter than the shingle width must yield NO band keys —
    # Spark's sequence(1, 0) DESCENDS to [1, 0] instead of being empty,
    # so a naive bound gives a 2-char name a phantom 1-shingle set
    # (regression for the round-5 review finding). Names >= n chars get
    # keys; equal names always share all keys.
    from name_matching_spark.operators.blocking import char_shingle_band_keys

    df = spark.createDataFrame(
        [("AB",), ("A",), ("",), ("ACME OIL",), ("ACME OIL",)], "name string"
    ).withColumn("clean", F.col("name"))
    keys = char_shingle_band_keys(df, "clean").collect()
    assert all(len(r["name"]) >= 3 for r in keys)
    acme = [r["band_key"] for r in keys if r["name"] == "ACME OIL"]
    assert len(acme) == 12 and len(set(acme)) == 6  # both copies, 6 bands
