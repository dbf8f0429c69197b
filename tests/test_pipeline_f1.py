"""North-rule gate: pairwise F1 ≥ 0.99 at the shared blocking surface."""

import os

from name_matching_spark.checkpoint import resolve_entities_checkpointed
from name_matching_spark.datagen import ensure_fixtures
from name_matching_spark.evaluate import cluster_pairs, pairwise_f1, truth_pairs


def _cache_empty(spark) -> bool:
    """No table is pinned in the session's CacheManager: every pinned
    intermediate is a checkpoint, which needs no release."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_f1_gate(spark, tmp_path):
    spark.catalog.clearCache()
    fx = ensure_fixtures("sf0.001")
    docs = spark.read.parquet(os.path.join(fx, "documents_spans.parquet"))
    addr = spark.read.parquet(os.path.join(fx, "addresses.parquet"))
    labels = spark.read.parquet(os.path.join(fx, "labeled_pairs.parquet"))
    truth = spark.read.parquet(os.path.join(fx, "truth_clusters.parquet"))
    mgr, clusters = resolve_entities_checkpointed(
        docs, str(tmp_path / "ckpt"), addresses=addr, labels=labels,
        num_trees=50, auto_accept=True,
    )
    master = mgr.results["match_names"].df
    r = pairwise_f1(cluster_pairs(clusters), truth_pairs(truth), blocked=master)
    assert r.f1 >= 0.99, (r.f1, r.precision, r.recall, r.tp, r.fp, r.fn)
    # predicted side is unrestricted now: outside-surface false merges count
    # as FP, and the fully unrestricted F1 is reported alongside (ADVICE r1)
    assert r.unrestricted is not None
    print(
        f"surface F1={r.f1:.4f} (P={r.precision:.4f} R={r.recall:.4f}) | "
        f"unrestricted F1={r.unrestricted.f1:.4f} "
        f"(P={r.unrestricted.precision:.4f} R={r.unrestricted.recall:.4f})"
    )
    # span-sequence invariant holds end-to-end: source docs never mutated
    assert docs.count() > 0
    assert _cache_empty(spark)


def test_incremental_resolve(spark):
    # batch-incremental path: new names join existing clusters via the
    # cluster representative, brand-new names form their own clusters, and
    # prior memberships survive verbatim.
    from name_matching_spark.pipeline import incremental_resolve

    prior = spark.createDataFrame(
        [
            ("MERKAVDI OPERATING", 1, "MERKAVDI ENERGY"),
            ("MERKAVDI ENERGY LLC", 1, "MERKAVDI ENERGY"),
            ("ZELBONKA OIL", 2, "ZELBONKA HOLDINGS"),
        ],
        "name string, cluster long, group_name string",
    )
    new = spark.createDataFrame(
        [("MERKAVDO ENERGY",), ("WEMFAZKA PETROLEUM",)], "name string"
    )
    out = {r["name"]: r["group_name"] for r in incremental_resolve(new, prior).collect()}
    # typo'd newcomer lands in the MERKAVDI cluster
    assert out["MERKAVDO ENERGY"] == "MERKAVDI ENERGY"
    # prior memberships preserved
    assert out["MERKAVDI OPERATING"] == "MERKAVDI ENERGY"
    assert out["MERKAVDI ENERGY LLC"] == "MERKAVDI ENERGY"
    assert out["ZELBONKA OIL"] == "ZELBONKA HOLDINGS"
    # the unrelated newcomer joins nothing (name_clusters emits members
    # only, so it is absent — its own singleton)
    assert "WEMFAZKA PETROLEUM" not in out


def test_incremental_resolve_leaves_no_cache(spark):
    # a refresh pins its intermediates as checkpoints only: repeated
    # refreshes in one session leave nothing in the CacheManager
    from name_matching_spark.pipeline import incremental_resolve

    spark.catalog.clearCache()
    prior = spark.createDataFrame(
        [("MERKAVDI OPERATING", 1, "MERKAVDI ENERGY")],
        "name string, cluster long, group_name string",
    )
    new = spark.createDataFrame([("MERKAVDO ENERGY",)], "name string")
    for _ in range(2):
        assert incremental_resolve(new, prior).count() > 0
        assert _cache_empty(spark)


def test_incremental_resolve_member_sample(spark):
    # a new name that matches a NON-representative member but misses the
    # rep: invisible to the default rep-only contract, found when
    # member_sample_k widens the universe (the member's prior edge to the
    # rep then carries the new name into the cluster transitively).
    from name_matching_spark.pipeline import incremental_resolve

    prior = spark.createDataFrame(
        [
            ("BELMONTICA CO", 7, "BELMONTICA CO"),
            ("VONDRAKEL QUARRY", 7, "BELMONTICA CO"),
        ],
        "name string, cluster long, group_name string",
    )
    new = spark.createDataFrame([("VONDRAKEL QUARRY LLC",)], "name string")

    # default (rep-only): misses — the newcomer stays a singleton
    out0 = {
        r["name"]: r["group_name"]
        for r in incremental_resolve(new, prior).collect()
    }
    assert "VONDRAKEL QUARRY LLC" not in out0
    assert out0["VONDRAKEL QUARRY"] == "BELMONTICA CO"  # membership preserved

    # member-aware: the sampled member hits, the cluster absorbs the newcomer
    out1 = {
        r["name"]: r["group_name"]
        for r in incremental_resolve(new, prior, member_sample_k=1).collect()
    }
    assert out1["VONDRAKEL QUARRY LLC"] == "BELMONTICA CO"
    assert out1["VONDRAKEL QUARRY"] == "BELMONTICA CO"
    # the rep is the group name itself, so it is not emitted as a member
    # (group_matches.R semantics: rows where group_name != name)
    assert "BELMONTICA CO" not in out1
