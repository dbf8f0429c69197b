"""Candidate-pair scoring with Arrow-batched pandas UDFs.

One `mapInPandas` pass computes every requested string metric for a batch of
pairs — the kernels in functions/strings.py are numpy-vectorized across the
batch, so Python-interpreter cost is O(batch count), not O(rows). This
replaces the reference's per-pair loops (match_names.R:463-497 and the
rowwise backfills at :729-792). Each task also pays a fixed worker set-up
cost before its first batch; most of it was the worker re-reading every zip
archive on its path (pyspark.zip, the Spark core jar), which
``session.guard_zip_invalidation`` skips while an archive is unchanged.

mapInPandas (not applyInPandas) on the already-joined pair table means no
extra shuffle and no per-group memory blowup: Arrow batch size is capped in
session.py, so executor memory stays flat no matter how skewed the blocks
were.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions import strings as S

_KERNELS = {
    "jaro_distance": S.jaro_distance,
    "jaro_similarity": S.jaro_similarity,
    "jaro_winkler_similarity": S.jaro_winkler_similarity,
    "unigram_cosine_distance": lambda a, b: S.qgram_cosine_distance(a, b, q=1),
    "trigram_cosine_distance": lambda a, b: S.qgram_cosine_distance(a, b, q=3),
}


def score_pairs(
    df: DataFrame,
    specs: list[tuple[str, str, str, str]],
) -> DataFrame:
    """Add score columns to ``df``.

    ``specs`` rows are (out_col, kernel, col_a, col_b); kernels from
    _KERNELS. All metrics are computed in a single pass.
    """
    for out, kernel, _, _ in specs:
        if kernel not in _KERNELS:
            raise ValueError(f"unknown kernel {kernel!r}")
        if out in df.columns:
            raise ValueError(f"column {out!r} already exists")
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out, DoubleType(), True) for out, *_ in specs]
    )
    local_specs = list(specs)

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one ndarray per distinct input column, scored inside a
            # shared-encoding scope: the four kernels re-use each other's
            # str-normalization + codepoint encodes (~20% of kernel time
            # measured at 10k-row batches)
            cols = {c for _, _, ca, cb in local_specs for c in (ca, cb)}
            arrs = {c: pdf[c].to_numpy() for c in cols}
            with S.shared_encoding():
                for out, kernel, ca, cb in local_specs:
                    pdf[out] = _KERNELS[kernel](arrs[ca], arrs[cb])
            yield pdf

    return df.mapInPandas(_score, schema=out_schema)


def token_set_similarity(
    pairs: DataFrame,
    bags: DataFrame,
    name_col: str = "name",
    match_col: str = "match",
    bag_col: str = "bag",
    out: str = "token_sim",
) -> DataFrame:
    """Symmetric Monge-Elkan token-set similarity with a Jaro base.

    ME(A→B) = mean over a∈A of max over b∈B of jaro(a, b);
    out = least(ME(A→B), ME(B→A)). Distinguishes typo aliases (every token
    has a close counterpart → ~1) from pairs that merely share one token
    (e.g. a common first name → ~0.7). Set-oriented: explode both bags,
    score the within-pair token cross product with the vectorized Jaro
    kernel, aggregate max-then-mean — no per-row Python.

    Output: ``pairs`` + ``out`` column (null when either bag is empty).
    """
    from pyspark.sql import functions as F

    key = [name_col, match_col]
    ta = (
        pairs.select(*key)
        .join(bags.select(F.col("name").alias(name_col), F.col(bag_col).alias("_ba")), name_col)
        .select(*key, F.explode("_ba").alias("tok_a"))
    )
    tb = bags.select(F.col("name").alias(match_col), F.col(bag_col).alias("_bb"))
    cross = ta.join(tb, match_col).select(*key, "tok_a", F.explode("_bb").alias("tok_b"))
    scored = score_pairs(cross, [("_s", "jaro_similarity", "tok_a", "tok_b")])
    best_a = scored.groupBy(*key, "tok_a").agg(F.max("_s").alias("_ba_best"))
    me_ab = best_a.groupBy(*key).agg(F.avg("_ba_best").alias("_me_ab"))
    best_b = scored.groupBy(*key, "tok_b").agg(F.max("_s").alias("_bb_best"))
    me_ba = best_b.groupBy(*key).agg(F.avg("_bb_best").alias("_me_ba"))
    me = me_ab.join(me_ba, key).select(
        *key, F.least("_me_ab", "_me_ba").alias(out)
    )
    return pairs.join(me, key, "left")
