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

Everything is built-in SQL: explode → groupBy → join → agg. Candidate pairs
come from the shared (name, token) index through ``pairs_from_index``, so a
hot token is cap-and-split like every other blocking key; ``paired_cosine``
then scores an explicit pair list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .blocking import pairs_from_index


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
    names: DataFrame, bag_col: str, threshold: float = 0.4
) -> DataFrame:
    """Canonical pairs with cosine_similarity ≥ threshold.

    Output: (name, match, cosine_similarity). Equivalent to the reference's
    match_names_cosine (match_names.R:528-559) without the dense matrix.

    The same pieces as the ``tok:`` family of ``pipeline.match_names``:
    the (name, token) rows of the weights table are the index,
    ``pairs_from_index`` pairs the names that share a token, and
    ``paired_cosine`` scores them.
    """
    # the weights are both the index and the scoring input — one eager
    # checkpoint instead of re-deriving the tokenize/normalize lineage per
    # join branch
    weights = materialize(token_weights(names, bag_col), eager=True)
    pairs = pairs_from_index(weights, "token").select("name", "match").distinct()
    return paired_cosine(pairs, weights).where(
        F.col("cosine_similarity") >= threshold
    )


def paired_cosine(
    pairs: DataFrame,
    weights: DataFrame,
    name_col_a: str = "name",
    name_col_b: str = "match",
    out: str = "cosine_similarity",
) -> DataFrame:
    """Cosine for an explicit pair list (the reference's psim2 pass,
    match_names.R:738-783): join weights to both sides on shared token, sum,
    divide by the two norms; pairs with no shared token get 0.0."""
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
