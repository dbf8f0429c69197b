"""Connected components via alternating large-star / small-star joins.

Replaces `igraph::clusters` (reference code/functions/group_matches.R:75-88)
with the Kiveris et al. ("Connected Components in MapReduce and Beyond",
SoCC'14) alternating-star algorithm expressed as DataFrame joins:

- large-star(u): for every neighbor v > u, emit (v, m) where
  m = min(Γ(u) ∪ {u})
- small-star(u): for every neighbor v ≤ u plus u itself, emit (v, m) where
  m = min(Γ≤(u) ∪ {u})

converging in O(log n) rounds to a star from every node to its component
minimum. The rounds run on the name strings themselves, so `min(name)` is
the component label, exactly the reference's group-name rule
(group_matches.R:94-110), with no id mapping to build or join back.

Scale notes: each round is two shuffles on node keys; an eager
`localCheckpoint` truncates lineage each round (else the plan doubles per
iteration). Convergence is observed by that checkpoint: an `Observation`
on the round's plan yields a count + xor-of-edge-hashes checksum from the
checkpoint's own job, so a round costs no aggregate or collect beyond it.
Hub skew (one node with millions of neighbors) is bounded by the algorithm
itself — large-star strictly reduces big-star neighborhoods.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..session import materialize


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    nbrs = _symmetrize(e)
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # orient edges high→low so Γ≤ is just the neighbor list
    dir_e = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = dir_e.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        dir_e.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        moved.unionByName(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _observed_checkpoint(e: DataFrame) -> tuple[DataFrame, dict]:
    """Eager checkpoint of ``e`` plus its {c: count, h: xor of edge hashes}
    checksum, both from the checkpoint's own job: the aggregate rides the
    plan as an ``Observation`` instead of re-scanning the checkpoint."""
    ob = Observation()
    e = materialize(
        e.observe(
            ob,
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ),
        eager=True,
    )
    return e, ob.get


def connected_components(
    edges: DataFrame,
    src: str = "name",
    dst: str = "match",
    max_iter: int = 30,
) -> DataFrame:
    """(name, component) for every node in ``edges``; component = min(name)
    of the connected component (string ordering)."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    # self-loops carry no connectivity, but their NODES are still part of
    # the contract ("for every node in edges"): a node whose only edge is
    # (a, a) must come out as its own singleton component, not vanish
    selfies = (
        raw.where(F.col("u") == F.col("v")).select(F.col("u").alias("name")).distinct()
    )
    e, prev = _observed_checkpoint(raw.where(F.col("u") != F.col("v")).distinct())
    for _ in range(max_iter):
        e, cur = _observed_checkpoint(_small_star(_large_star(e)))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # converged: every edge is (node → component-min); roots map to themselves
    members = e.select(F.col("u").alias("name"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("name")).distinct().withColumn(
        "component", F.col("name")
    )
    result = members.unionByName(roots).distinct()
    # nodes whose ONLY edges were self-loops: singleton components
    extra = selfies.join(result.select("name"), "name", "left_anti")
    return result.unionByName(extra.withColumn("component", F.col("name")))


def dense_ids(df: DataFrame, col: str, out: str = "cluster") -> DataFrame:
    """Dense sequential 1-based ids over the distinct, sorted values of
    ``col`` — equivalent to dense_rank() over a global ORDER BY, but
    computed DataFrame-native without a single-task global window:
    range-repartition the distinct values (non-overlapping ordered ranges),
    row_number *within* each range partition (parallel windows), then add a
    broadcast per-partition cumulative offset. Ids are emitted as bigint, so
    the scheme scales to 10^9+ distinct values (an int32 id would silently
    wrap past 2^31 — ADVICE r2); only the O(#partitions) count vector
    touches the driver.

    The range layout is pinned with one eager localCheckpoint so the offset
    scan and the window see the same physical partitioning (range sampling
    is not guaranteed stable across recomputes)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    ranged = (
        df.select(col)
        .distinct()
        .repartitionByRange(n_parts, F.col(col))
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged = materialize(ranged, eager=True)
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):  # range partitions are ordered by key range
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = F.broadcast(spark.createDataFrame(offsets, "_pid int, _off bigint"))
    w = Window.partitionBy("_pid").orderBy(col)
    return (
        ranged.join(off_df, "_pid")
        .withColumn(out, (F.row_number().over(w) + F.col("_off")).cast("long"))
        .select(col, out)
    )


def name_clusters(matches: DataFrame) -> DataFrame:
    """Reference group_matches semantics (group_matches.R:60-123): matches
    (name, match[, keep]) → (name, cluster, group_name), keeping only rows
    where group_name != name. ``cluster`` is a dense rank over group_name
    (scalably assigned — see dense_ids)."""
    if "keep" in matches.columns:
        matches = matches.where(F.col("keep") == 1)
    cc = connected_components(matches, "name", "match")
    out = cc.select(
        "name",
        F.col("component").alias("group_name"),
    )
    clusters = dense_ids(out, "group_name", "cluster")
    return (
        out.join(clusters, "group_name")
        .where(F.col("group_name") != F.col("name"))
        .select("name", "cluster", "group_name")
    )
