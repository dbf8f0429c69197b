"""Cluster-of-clusters round 2 + notification tables.

Round 2 (reference makefile:125-142): after first-round grouping, the
(small) table of group names is itself run through the name matcher at a
stricter cosine threshold (0.65, match_group_names.R:44-46), reviewed, and
clusters whose group names match are merged — relabeling every member to
the alphabetically-first group name and re-densifying cluster ids
(group_grouped_clusters.R:44-59).

Notifications (reference pre_screen_names.R:202-216, 281-288, 306-339):
- previous_non_pairs: pairs a reviewer rejected (keep=0) that are now
  address-verified — a label-conflict alarm;
- inferred_matches: edges implied by clique completion of accepted
  clusters that never went through review — silent-transitivity alarm.
Both are append-dedup tables (merge_labels semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import GROUP_COSINE_THRESHOLD
from ..functions.normalize import canonical_pair
from .cc import connected_components, label_clusters


def match_group_names(
    clusters: DataFrame,
    cosine_threshold: float = GROUP_COSINE_THRESHOLD,
    auto_accept_token_sim: float = 0.85,
) -> DataFrame:
    """Candidate merges between first-round clusters: run the full matcher
    over the distinct group names, keep cosine ≥ 0.65 (reference threshold),
    auto-screened by token_sim ≥ 0.85 standing in for the reference's human
    review of this (small) pair list. Output (name, match) group-name pairs.
    """
    from ..pipeline import match_names

    gnames = clusters.select(F.col("group_name").alias("name")).distinct()
    mm = match_names(gnames)
    return (
        mm.master.where(
            (F.col("cosine_similarity") >= cosine_threshold)
            & (F.col("token_sim") >= auto_accept_token_sim)
        )
        .select("name", "match")
        .distinct()
    )


def regroup_clusters(clusters: DataFrame, group_pairs: DataFrame) -> DataFrame:
    """Merge clusters whose group names were matched in round 2.

    ``clusters``: (name, cluster, group_name); ``group_pairs``: (name,
    match) over group names. New group name = component-min over the
    group-name graph (= alphabetically-first merged group name, exactly the
    reference's relabel at group_grouped_clusters.R:44-59); cluster ids are
    re-densified. Members whose new group name equals their own name drop
    out (reference keeps only rows where group_name != name).
    """
    mapping = connected_components(group_pairs, "name", "match").select(
        F.col("name").alias("group_name"), F.col("component").alias("_new")
    )
    out = (
        clusters.join(mapping, "group_name", "left")
        .withColumn("group_name", F.coalesce("_new", "group_name"))
        .drop("_new", "cluster")
    )
    # a merged-away representative is itself a member of the new group
    reps = mapping.select(
        F.col("group_name").alias("name"), F.col("_new").alias("group_name")
    ).where(F.col("name") != F.col("group_name"))
    return label_clusters(out.select("name", "group_name").unionByName(reps).distinct())


def notifications(
    screened: DataFrame,
    reviewed: DataFrame | None,
    prior_clusters: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """(previous_non_pairs, inferred_matches) notification tables.

    previous_non_pairs: reviewed keep=0 pairs now carrying address evidence.
    inferred_matches: clique-completion edges of prior clusters that are
    not in the reviewed set (canonical ordering on both sides).
    """
    from .prescreen import clique_completion

    spark = screened.sparkSession
    empty = spark.createDataFrame([], "name string, match string")
    lo, hi = canonical_pair(F.col("name"), F.col("match"))

    if reviewed is not None:
        rev = reviewed.select(
            lo.alias("name"), hi.alias("match"), F.col("keep").cast("double").alias("keep")
        )
        prev_non = (
            screened.where(F.col("address").isNotNull())
            .select(lo.alias("name"), hi.alias("match"), "address")
            .join(rev.where(F.col("keep") == 0).select("name", "match"), ["name", "match"])
            .distinct()
        )
    else:
        prev_non = empty.withColumn("address", F.lit(None).cast("string"))

    if prior_clusters is not None:
        completed = clique_completion(prior_clusters)
        base = rev.select("name", "match") if reviewed is not None else empty
        inferred = completed.join(base, ["name", "match"], "left_anti").distinct()
    else:
        inferred = empty
    return prev_non, inferred
