"""Candidate-pair scoring with Arrow-batched pandas UDFs.

One `mapInPandas` pass computes every requested string metric for a batch of
pairs — the kernels in functions/strings.py are numpy-vectorized across the
batch, so Python-interpreter cost is O(batch count), not O(rows). This
replaces the reference's per-pair loops (match_names.R:463-497 and the
rowwise backfills at :729-792). Token-bag scores are kernels too:
``monge_elkan_similarity`` crosses each pair's tokens inside the batch, so
``token_sim`` needs no explode, cross join or aggregation in Spark.

Each task also pays a fixed worker set-up cost before its first batch; most
of it was the worker re-reading every zip archive on its path (pyspark.zip,
the Spark core jar), which ``session.guard_zip_invalidation`` skips while
an archive is unchanged.

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
    "monge_elkan_similarity": S.monge_elkan_similarity,
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
