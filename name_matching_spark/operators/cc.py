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

Scale notes: each round is three shuffles: each star's per-node min is a
window over its node's neighbor list (one shuffle on the node key, no
aggregate joined back), and small-star's output is deduplicated by a third
window on the node. An eager `localCheckpoint` truncates lineage each round
(else the plan doubles per iteration). Convergence is observed by that
checkpoint: an `Observation` on the round's plan counts the output's
star-breaking rows (a leaf with two centres, or a centre that is also a
leaf) in the checkpoint's own job, so a round costs no aggregate or collect
beyond it. Every small-star edge points high→low and the rounds preserve
connectivity, so an output with no such row is a star forest whose stars
are the components, each centred on its minimum: the final answer, which
another round would only reproduce. The rounds stop there. Hub skew (one
node with millions of neighbors) is bounded by the algorithm itself —
large-star strictly reduces big-star neighborhoods; until then a hub's
window partition is buffered by one task and spills to disk past Spark's
window buffer thresholds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..session import materialize


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    # self-loops and duplicate edges change no min over Γ(u) ∪ {u}, and
    # the duplicates this emits are left for small-star's dedup window
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        _symmetrize(e)
        .select("u", "v", m.alias("m"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """(u, v, bad): the round's distinct high→low edges; ``bad`` marks a
    leaf that has a second centre or is a centre itself."""
    # large-star emits only high→low edges (u > v), so Γ≤(u) is just u's
    # neighbor list; each edge (u, v) emits (v, m) and u's own (u, m), and
    # each such edge (x, m), x > m, is an "out" row at x (v < u) and an
    # "in" row at m (v > u), so at a node v orders its out rows first
    m = F.min("v").over(Window.partitionBy("u"))
    rows = e.select("u", "v", m.alias("m")).select(F.explode(F.array(
        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
        F.struct(F.col("m").alias("u"), F.col("v").alias("v")),
        F.struct("u", F.col("m").alias("v")),
        F.struct(F.col("m").alias("u"), F.col("u").alias("v")),
    )).alias("e")).select("e.*").where(F.col("u") != F.col("v"))
    w = Window.partitionBy("u").orderBy("v")
    dup = F.lag("v").over(w).eqNullSafe(F.col("v"))
    # the node's largest row is not this out row's target: a second
    # target, or an in row
    top = F.max("v").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return rows.select("u", "v", dup.alias("dup"), (top != F.col("v")).alias("bad")).where(
        ~F.col("dup") & (F.col("v") < F.col("u"))
    ).drop("dup")


def _observed_checkpoint(e: DataFrame) -> tuple[DataFrame, int]:
    """Eager checkpoint of the (u, v) edges of ``e`` plus the number of its
    rows whose ``bad`` flag is set, from the checkpoint's own job: the count
    rides the plan as an ``Observation`` instead of re-scanning the
    checkpoint. 0 means the edges are a star forest."""
    ob = Observation()
    e = materialize(
        e.observe(ob, F.count_if(F.col("bad")).alias("bad")).select("u", "v"),
        eager=True,
    )
    return e, ob.get["bad"]


def _stars(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """Star rounds over the non-null (src, dst) edges until a round's
    checkpoint observes a star forest. Small-star's edges all point
    high→low and every round keeps the components, so a star forest holds
    one star per component, centred on its minimum, and is final: every
    edge is (u: node, v: its component minimum), one per node that is not
    a minimum."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    for _ in range(max_iter):
        e, bad = _observed_checkpoint(_small_star(_large_star(e)))
        if bad == 0:
            return e
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def connected_components(
    edges: DataFrame,
    src: str = "name",
    dst: str = "match",
    max_iter: int = 30,
) -> DataFrame:
    """(name, component) for every node in ``edges``; component = min(name)
    of the connected component (string ordering)."""
    e = _stars(edges, src, dst, max_iter)
    # converged: every edge is (node → component-min); roots map to themselves
    members = e.select(F.col("u").alias("name"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("name")).distinct().withColumn(
        "component", F.col("name")
    )
    result = members.unionByName(roots).distinct()
    # self-loops carry no connectivity, but their NODES are still part of
    # the contract ("for every node in edges"): a node whose only edge is
    # (a, a) must come out as its own singleton component, not vanish
    selfies = (
        edges.where(F.col(src) == F.col(dst)).select(F.col(src).alias("name")).distinct()
    )
    extra = selfies.join(result.select("name"), "name", "left_anti")
    return result.unionByName(extra.withColumn("component", F.col("name")))


def dense_ids(df: DataFrame, col: str, out: str = "cluster") -> DataFrame:
    """Dense sequential 1-based ids over the distinct, sorted values of
    ``col`` — equivalent to dense_rank() over a global ORDER BY, but with
    no single-task global window: range-repartition the values
    (non-overlapping ordered ranges; the distinct rides that partitioning
    with no shuffle of its own), sort each range, and take each row's index
    within its partition from ``monotonically_increasing_id`` (partition id
    in the upper 31 bits, row index in the lower 33). One eager checkpoint
    pins that layout; one per-partition count over it gives each
    partition's starting offset, and the ids are then a projection of the
    checkpoint. Ids are bigint, so the scheme scales to 10^9+ distinct
    values (an int32 id would silently wrap past 2^31 — ADVICE r2); only
    the O(#partitions) count vector touches the driver."""
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    pid = F.spark_partition_id()
    ranged = materialize(
        df.select(col)
        .repartitionByRange(n_parts, F.col(col))
        .distinct()
        .sortWithinPartitions(col)
        .select(
            col,
            pid.alias("_pid"),
            (F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)).alias("_i"),
        ),
        eager=True,
    )
    counts = dict(ranged.groupBy("_pid").count().collect())
    offsets, acc = [], 0
    for p in range(n_parts):  # range partitions are ordered by key range
        offsets.append(F.lit(acc))
        acc += counts.get(p, 0)
    return ranged.select(
        col,
        (F.col("_i") + 1 + F.element_at(F.array(*offsets), F.col("_pid") + 1)).alias(out),
    )


def label_clusters(members: DataFrame) -> DataFrame:
    """(name, group_name) → (name, cluster, group_name): ``cluster`` is the
    dense id of group_name (``dense_ids``), and the representative's own
    row (group_name == name) is dropped, as the reference keeps only rows
    where group_name != name (group_matches.R:94-123)."""
    ids = dense_ids(members, "group_name", "cluster")
    return (
        members.join(ids, "group_name")
        .where(F.col("group_name") != F.col("name"))
        .select("name", "cluster", "group_name")
    )


def name_clusters(matches: DataFrame) -> DataFrame:
    """Reference group_matches semantics (group_matches.R:60-123): matches
    (name, match[, keep]) → (name, cluster, group_name), keeping only rows
    where group_name != name. ``group_name`` is the component minimum and
    ``cluster`` its dense id, numbered by ``label_clusters`` over the groups
    the output holds. The converged star edges are exactly these rows, so
    the roots and self-loop singletons of ``connected_components`` (each
    with group_name == name) are never built."""
    if "keep" in matches.columns:
        matches = matches.where(F.col("keep") == 1)
    e = _stars(matches, "name", "match", max_iter=30)
    return label_clusters(e.select(F.col("u").alias("name"), F.col("v").alias("group_name")))
