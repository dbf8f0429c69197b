"""MERGE INTO over generation tables: never-overwrite, atomic commit,
deterministic duplicate-key winners."""


def test_merge_into_generations(spark, tmp_path):
    # Iceberg-MERGE-INTO semantics over a generation table: never-overwrite
    # by default, atomic commit by rename, crash leftovers ignored, pruning.
    from name_matching_spark.io import merge_into, read_merged

    store = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([("a", 1.0), ("b", 0.0)], "k string, v double")
    g0 = merge_into(spark, store, df1, keys=["k"])
    assert g0 == 0
    # conflicting + new rows; existing wins on conflict
    df2 = spark.createDataFrame([("a", 0.0), ("c", 1.0)], "k string, v double")
    g1 = merge_into(spark, store, df2, keys=["k"])
    assert g1 == 1
    got = {r["k"]: r["v"] for r in read_merged(spark, store).collect()}
    assert got == {"a": 1.0, "b": 0.0, "c": 1.0}
    # overwrite mode: new rows win
    df3 = spark.createDataFrame([("a", 0.5)], "k string, v double")
    merge_into(spark, store, df3, keys=["k"], when_matched="overwrite")
    got = {r["k"]: r["v"] for r in read_merged(spark, store).collect()}
    assert got["a"] == 0.5 and got["b"] == 0.0
    # a crashed merge leaves scratch; the next merge must clean and proceed,
    # and the committed table is never a partial
    import os

    os.makedirs(os.path.join(store, "_merging_gen_3"))
    with open(os.path.join(store, "_merging_gen_3", "part-junk"), "w") as f:
        f.write("torn write")
    merge_into(spark, store, df1, keys=["k"])
    got = {r["k"]: r["v"] for r in read_merged(spark, store).collect()}
    assert got["a"] == 0.5  # df1's a lost to keep_existing — still consistent
    # pruning: only keep_generations newest snapshots remain
    gens = [d for d in os.listdir(store) if d.startswith("gen=")]
    assert len(gens) == 2


def test_merge_into_duplicate_keys_deterministic(spark, tmp_path):
    # duplicate keys WITHIN a side collapse to one deterministic winner
    # (priority, then smallest content hash) on the FIRST merge and on
    # later ones — never a shuffle-order-dependent row
    import pytest

    from name_matching_spark.io import merge_into, read_merged

    t = str(tmp_path / "tbl")
    first = spark.createDataFrame(
        [("p1", 1.0), ("p1", 0.0), ("p2", 1.0)], "pair string, keep double"
    )
    merge_into(spark, t, first, keys=["pair"])
    g0 = {r["pair"]: r["keep"] for r in read_merged(spark, t).collect()}
    assert set(g0) == {"p1", "p2"}  # deduped on the first merge too
    p1_winner = g0["p1"]

    # re-merging the same duplicate batch changes nothing (determinism:
    # the same content hash wins again; keep_existing keeps it anyway)
    merge_into(spark, t, first, keys=["pair"])
    g1 = {r["pair"]: r["keep"] for r in read_merged(spark, t).collect()}
    assert g1 == g0 and g1["p1"] == p1_winner

    with pytest.raises(AssertionError):
        merge_into(spark, t, first, keys=["pair"], keep_generations=0)
