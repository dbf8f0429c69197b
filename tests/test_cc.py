"""Connected components vs a union-find oracle on random graphs."""

from __future__ import annotations

import random

import pytest

from name_matching_spark.operators.cc import connected_components, name_clusters


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        out.update(dict.fromkeys(members, min(members)))
    return out


def _chain(spark, n=40):
    return spark.createDataFrame(
        [(f"X{i:02d}", f"X{i+1:02d}") for i in range(n)], ["name", "match"]
    )


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 30, 25), (2, 80, 60), (3, 120, 200)])
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    nodes = [f"N{i:03d}" for i in range(n_nodes)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find_components(edges)
    df = spark.createDataFrame(edges, ["name", "match"])
    got = {
        r["name"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == want


def test_cc_chain(spark):
    # a long path exercises multi-round convergence
    got = connected_components(_chain(spark)).collect()
    assert all(r["component"] == "X00" for r in got)
    assert len(got) == 41


def test_name_clusters_reference_semantics(spark):
    df = spark.createDataFrame(
        [
            ("B", "A", 1),
            ("C", "B", 1),
            ("Z", "Y", 1),
            ("Q", "R", 0),  # filtered: keep != 1
        ],
        ["name", "match", "keep"],
    )
    rows = name_clusters(df).collect()
    by_name = {r["name"]: r for r in rows}
    # group representative is min(name); representative row itself is dropped
    assert set(by_name) == {"B", "C", "Z"}
    assert by_name["B"]["group_name"] == "A"
    assert by_name["C"]["group_name"] == "A"
    assert by_name["Z"]["group_name"] == "Y"
    # dense cluster ids
    assert {r["cluster"] for r in rows} == {1, 2}


def test_cc_reliable_checkpoint(spark, tmp_path):
    # VERDICT r1 item 5: CC converges with fault-tolerant df.checkpoint()
    # when a reliable checkpoint dir is configured, same result as local mode
    from name_matching_spark.session import set_reliable_checkpoint_dir

    rng = random.Random(7)
    nodes = [f"R{i:03d}" for i in range(60)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(50)]
    df = spark.createDataFrame(edges, ["name", "match"])

    def run():
        return (
            {(r["name"], r["component"]) for r in connected_components(df).collect()},
            {tuple(r) for r in name_clusters(df).collect()},
        )

    local = run()
    set_reliable_checkpoint_dir(str(tmp_path / "ckpt"))
    try:
        reliable = run()
    finally:
        set_reliable_checkpoint_dir(None)
    assert reliable == local
    import os

    assert os.listdir(str(tmp_path / "ckpt"))  # checkpoint files actually written


def test_dense_ids_dataframe_native(spark):
    # VERDICT r1 item 6: dense_ids == dense_rank over global sort, no .rdd
    from name_matching_spark.operators.cc import dense_ids

    vals = [(f"V{i:04d}",) for i in range(537)]
    random.Random(3).shuffle(vals)
    df = spark.createDataFrame(vals, ["group_name"])
    ids = dense_ids(df, "group_name")
    got = {r["group_name"]: r["cluster"] for r in ids.collect()}
    expected = {v: i + 1 for i, v in enumerate(sorted(v for (v,) in vals))}
    assert got == expected
    # the ids are a projection of dense_ids' one checkpoint: no shuffle,
    # window or join is left in the returned plan
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert not any(op in plan for op in ("Exchange", "Window", "Join")), plan

    # fewer distinct values than range partitions (some partitions empty),
    # duplicates numbered once; an empty input numbers nothing
    dup = spark.createDataFrame([("b",), ("a",), ("b",)], ["group_name"])
    got = {r["group_name"]: r["cluster"] for r in dense_ids(dup, "group_name").collect()}
    assert got == {"a": 1, "b": 2}
    empty = spark.createDataFrame([], "group_name string")
    assert dense_ids(empty, "group_name").collect() == []


def test_self_loop_only_nodes_are_singletons(spark):
    # "(name, component) for every node in edges": a node whose only edge
    # is a self-loop must surface as its own singleton component; an edge
    # set with no connecting edge at all still converges (its observed
    # checksum is (0, 0) from the first round on)
    cases = [
        ([("A", "B"), ("C", "C"), ("A", "A")], {("A", "A"), ("B", "A"), ("C", "C")}),
        ([], set()),
        ([("C", "C")], {("C", "C")}),
    ]
    for rows, want in cases:
        edges = spark.createDataFrame(rows, "name string, match string")
        got = {(r["name"], r["component"]) for r in connected_components(edges).collect()}
        assert got == want, rows
        # the representative's own row is dropped: singletons leave nothing
        clusters = name_clusters(edges).collect()
        assert {(r["name"], r["group_name"]) for r in clusters} == {
            (n, c) for n, c in want if n != c
        }, rows
    # cluster ids are dense over the groups the output holds: the
    # self-loop-only C takes no id (o_name_clusters' dense_rank)
    edges = spark.createDataFrame(
        [("A", "B"), ("C", "C"), ("D", "E")], "name string, match string"
    )
    assert sorted(tuple(r) for r in name_clusters(edges).collect()) == [
        ("B", 1, "A"), ("E", 2, "D")
    ]


def test_star_round_counts(spark, monkeypatch):
    # rounds, not Spark jobs (AQE moves the job count from call to call):
    # each star round is one observed checkpoint, and the input has none
    from name_matching_spark.operators import cc

    calls = []
    real = cc._observed_checkpoint

    def counting(e):
        calls.append(1)
        return real(e)

    def no_cc(*a, **k):
        raise AssertionError("name_clusters labels the stars directly")

    monkeypatch.setattr(cc, "_observed_checkpoint", counting)
    monkeypatch.setattr(cc, "connected_components", no_cc)
    # diameter-1 cliques: one round makes the stars, one more confirms them
    cliques = [
        (f"{k}{i}", f"{k}{j}") for k in "PQR" for i in range(5) for j in range(i + 1, 5)
    ]
    rows = name_clusters(spark.createDataFrame(cliques, ["name", "match"])).collect()
    assert len(rows) == 12 and len(calls) == 2
    calls.clear()
    rows = name_clusters(_chain(spark)).collect()
    assert {r["group_name"] for r in rows} == {"X00"} and len(calls) == 7


def test_cc_hub_matches_union_find(spark):
    # a 50,000-leaf hub is one window partition, so one task buffers its
    # whole neighbourhood; a low spill threshold makes that buffer spill.
    # Chains off a few leaves put the component minimum rounds away.
    from pyspark.sql import functions as F

    leaves = [f"L{i:05d}" for i in range(50_000)]
    edges = [("H", leaf) for leaf in leaves]
    for k in range(5):
        path = [leaves[k * 9973]] + [f"C{k}{j}" for j in range(6, -1, -1)]
        edges += list(zip(path, path[1:]))
    edges += [("Z1", "Z2"), ("Z2", "Z3")]
    want = _union_find_components(edges)
    assert set(want.values()) == {"C00", "Z1"}
    hub = spark.range(len(leaves)).select(
        F.lit("H").alias("name"), F.format_string("L%05d", "id").alias("match")
    )
    df = hub.unionByName(spark.createDataFrame(edges[len(leaves):], hub.schema))
    key = "spark.sql.windowExec.buffer.spill.threshold"
    spark.conf.set(key, "8192")
    try:
        got = {r["name"]: r["component"] for r in connected_components(df).collect()}
        clusters = {(r["name"], r["group_name"]) for r in name_clusters(df).collect()}
    finally:
        spark.conf.unset(key)
    assert got == want
    assert clusters == {(n, c) for n, c in want.items() if n != c}


def test_cc_round_bound_raises(spark):
    # the 40-node chain needs several star rounds; one is not enough
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(_chain(spark), max_iter=1)


def test_cc_collects_nothing_to_the_driver(spark, monkeypatch):
    # convergence is read from each round checkpoint's Observation, so the
    # rounds run no collect() (a separate checksum job per round would)
    rng = random.Random(5)
    nodes = [f"M{i:03d}" for i in range(60)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
    edges += [(f"X{i:02d}", f"X{i+1:02d}") for i in range(20)]  # multi-round
    df = spark.createDataFrame(edges, ["name", "match"])
    # the concrete (classic or Connect) class, which overrides collect
    cls = type(df)
    calls = []
    real_collect = cls.collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    out = connected_components(df)
    monkeypatch.undo()
    assert calls == []
    got = {r["name"]: r["component"] for r in out.collect()}
    assert got == _union_find_components([e for e in edges if e[0] != e[1]])
