"""Tf-idf cosine similarity between names, as a sparse shared-token join.

The reference materializes a dense N×N similarity matrix
(code/functions/match_names.R:608-636 via text2vec dtm + sim2) — impossible
at scale. Cosine over tf-idf vectors is a sum over *shared* tokens, so pairs
with no shared token have cosine 0; with the acceptance threshold ≥ 0.4
(match_names.R:584) the shared-token equi-join is a lossless replacement for
the full matrix.

Weighting parity with text2vec's TfIdf defaults (norm='l1', smooth_idf=TRUE,
sublinear_tf=FALSE): tf is l1-normalized counts and idf = log1p(N/df). Under
the final l2 (cosine) normalization the l1 row factor cancels, so
weight(token) = count · log1p(N/df) gives identical cosines.

Everything is built-in SQL: explode → groupBy → join → agg. Catalyst handles
pushdown; AQE handles the skewed token join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def token_weights(
    names: DataFrame, bag_col: str, name_col: str = "name"
) -> DataFrame:
    """(name, token, w) tf-idf weights + (name, norm) in one DataFrame:
    returns weights with an attached l2 ``norm`` column per name."""
    toks = names.select(name_col, F.explode(F.col(bag_col)).alias("token")).where(
        F.col("token") != ""
    )
    counts = toks.groupBy(name_col, "token").agg(F.count("*").alias("cnt"))
    n_names = names.select(
        F.countDistinct(name_col).alias("_n_names")
    )
    doc_freq = counts.groupBy("token").agg(F.count("*").alias("df"))
    w = (
        counts.join(F.broadcast(doc_freq.crossJoin(n_names)), "token")
        .withColumn("idf", F.log1p(F.col("_n_names") / F.col("df")))
        .withColumn("w", F.col("cnt") * F.col("idf"))
    )
    norms = w.groupBy(name_col).agg(F.sqrt(F.sum(F.col("w") ** 2)).alias("norm"))
    return w.select(name_col, "token", "w", "df").join(norms, name_col)


def tfidf_cosine_pairs(
    names: DataFrame,
    bag_col: str,
    name_col: str = "name",
    threshold: float = 0.4,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Canonical pairs with cosine_similarity ≥ threshold.

    Output: (name, match, cosine_similarity). Equivalent to the reference's
    match_names_cosine (match_names.R:528-559) without the dense matrix.

    ``weights`` lets a caller share one checkpointed ``token_weights``
    table between this join and the backfill pass (match_names computes
    both over the same corpus — one weights table, four join branches).
    """
    # weights feed both sides of the pair self-join (and norms are an agg
    # over the same rows) — one eager checkpoint instead of re-deriving the
    # tokenize/normalize lineage per join branch
    if weights is None:
        weights = materialize(token_weights(names, bag_col, name_col), eager=True)
    a = weights.select(
        F.col("token"),
        F.col(name_col).alias("name"),
        F.col("w").alias("wa"),
        F.col("norm").alias("na"),
    )
    b = weights.select(
        F.col("token"),
        F.col(name_col).alias("match"),
        F.col("w").alias("wb"),
        F.col("norm").alias("nb"),
    )
    return (
        a.join(b, "token")
        .where(F.col("name") < F.col("match"))
        .groupBy("name", "match")
        .agg(
            (F.sum(F.col("wa") * F.col("wb")) / F.first("na") / F.first("nb")).alias(
                "cosine_similarity"
            )
        )
        .where(F.col("cosine_similarity") >= threshold)
    )


def paired_cosine(
    pairs: DataFrame,
    weights: DataFrame,
    name_col_a: str = "name",
    name_col_b: str = "match",
    out: str = "cosine_similarity",
) -> DataFrame:
    """Cosine for an explicit pair list (score backfill — the reference's
    psim2 second pass, match_names.R:738-783): join weights to both sides on
    shared token, sum, divide by the two norms; pairs with no shared token
    get 0.0."""
    a = weights.select(
        F.col("name").alias(name_col_a) if "name" in weights.columns else F.col(name_col_a),
        "token",
        F.col("w").alias("wa"),
        F.col("norm").alias("na"),
    )
    b = weights.select(
        F.col("name").alias(name_col_b),
        "token",
        F.col("w").alias("wb"),
        F.col("norm").alias("nb"),
    )
    dots = (
        pairs.select(name_col_a, name_col_b)
        .join(a, name_col_a)
        .join(b, [name_col_b, "token"])
        .groupBy(name_col_a, name_col_b)
        .agg((F.sum(F.col("wa") * F.col("wb")) / F.first("na") / F.first("nb")).alias(out))
    )
    return pairs.join(dots, [name_col_a, name_col_b], "left").fillna({out: 0.0})
