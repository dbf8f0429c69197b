"""Blocking: candidate-pair generation without O(n²).

The reference enumerates every pair with nested loops
(code/functions/match_names.R:468-490,533-552); here candidates come from
an inverted (name, key) index and ONE self-join over it
(``pairs_from_index``). Each key family is a blocking scheme, tagged with a
family prefix (``tag_keys``) so that one index can hold them all and one
self-join generates every comparison once (SparkER's single blocking
collection):

- shared-token inverted index (the reference's own implicit blocking key:
  two names are compared by the shared-word matcher iff their cleaned token
  bags intersect, match_names.R:500-524);
- first surviving token;
- double-metaphone of the first token (north-star phonetic channel);
- MinHash-LSH band signatures over the token bag (north-star recall channel)
  — computed entirely in Spark SQL with xxhash64 + higher-order aggregates,
  no UDF.

``pipeline.candidate_families`` runs the self-join over the families of
``match_names``.

Skew: token frequencies are Zipf-distributed, so the inverted index has hot
keys ("SMITH"). Two mitigations, neither of which drops a pair:

1. **cap-and-split** (``split_oversized_blocks``, the one plan of
   ``pairs_from_index``): a block of size B > max_block is cut into
   g = ⌈B/max_block⌉ sub-groups and every unordered sub-group pair
   (gi ≤ gj) becomes its own task key, so all B·(B-1)/2 pairs are still
   produced but no single task sees more than ~max_block² of them; a block
   within the cap is one task. Nothing is dropped — recall is preserved at
   any skew.
2. AQE skew-join splitting handles residual imbalance inside the join
   (enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# Mersenne prime 2^31-1 for MinHash universal hashing: coefficients and
# reduced hashes stay below 2^31, so a*h+b < 2^62 never overflows int64
# (Spark 4 runs ANSI mode — overflow is an error, not a wrap).
_MERSENNE = (1 << 31) - 1

def token_index(names: DataFrame, bag_col: str, name_col: str = "name") -> DataFrame:
    """(name, token) inverted index, distinct."""
    return (
        names.select(name_col, F.explode(F.col(bag_col)).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )


def tag_keys(index: DataFrame, key_col: str, family: str) -> DataFrame:
    """(name, key) rows of one key family: ``key`` is ``<family>:<key_col>``,
    so keys of different families never collide in a shared index."""
    return index.select("name", F.concat(F.lit(f"{family}:"), F.col(key_col)).alias("key"))


def pairs_from_index(
    index: DataFrame,
    key_col: str,
    name_col: str = "name",
    max_block: int = 2000,
) -> DataFrame:
    """Self-join the (name, key) index into canonical candidate pairs
    (name, match, key). Pairs are canonical: name < match alphabetically
    (reference utils.R:5-9).

    One plan for every block size: each index row is tagged with the size
    of its block when that block exceeds ``max_block`` and routed through
    ``split_oversized_blocks``, where a block within the cap is the single
    task ``key#0#0``. So the full within-block pair set is produced while
    no single shuffle task enumerates more than ~max_block² pairs. No key
    is dropped.
    """
    # the index is pinned once by an eager checkpoint: both join sides and
    # the hot-key aggregate read its blocks, and Catalyst can never
    # broadcast a *recomputed* copy of the whole index as a build side
    # (the round-1 OOM-at-scale defect). The hot-key set is bounded by
    # |index|/max_block rows (0.05% of the index at the default cap), so
    # the tag rides a broadcast join.
    idx = materialize(index.select(key_col, name_col), eager=True)
    hot = (
        idx.groupBy(key_col)
        .agg(F.count("*").alias("_bs"))
        .where(F.col("_bs") > max_block)
    )
    tagged = idx.join(F.broadcast(hot), key_col, "left")

    tasks = split_oversized_blocks(tagged, key_col, name_col, cap=max_block)
    ta = tasks.select(
        "task_key",
        "task_lo",
        "task_hi",
        F.col("block_key"),
        F.col("name").alias("_na"),
        F.col("sub_group").alias("_ga"),
    )
    tb = tasks.select(
        "task_key",
        F.col("name").alias("_nb"),
        F.col("sub_group").alias("_gb"),
    )
    # side rule: diagonal tasks (lo == hi) enumerate the upper triangle of
    # their single sub-group; off-diagonal tasks pair the lo side against the
    # hi side exactly once (each name lives in exactly one sub-group).
    return (
        ta.join(tb, "task_key")
        .where(
            (
                (F.col("task_lo") == F.col("task_hi"))
                & (F.col("_na") < F.col("_nb"))
            )
            | (
                (F.col("task_lo") < F.col("task_hi"))
                & (F.col("_ga") == F.col("task_lo"))
                & (F.col("_gb") == F.col("task_hi"))
            )
        )
        .select(
            F.least("_na", "_nb").alias("name"),
            F.greatest("_na", "_nb").alias("match"),
            F.col("block_key").alias(key_col),
        )
    )


def shared_word_pairs(
    names: DataFrame,
    bag_col: str,
    name_col: str = "name",
    max_block: int = 2000,
) -> DataFrame:
    """Shared-word matcher (reference match_names.R:500-524): canonical pairs
    whose bags intersect, scored by the number of distinct shared tokens.

    NOTE (documented deviation): the reference counts duplicate bag tokens
    once per occurrence; we count distinct shared tokens. Bags are near
    duplicate-free after normalization, and the value is only an RF feature.
    """
    idx = token_index(names, bag_col, name_col)
    pairs = pairs_from_index(idx, "token", name_col, max_block)
    return pairs.groupBy("name", "match").agg(
        F.countDistinct("token").alias("shared_words")
    )


def first_token_key(names: DataFrame, bag_col: str, out: str = "block_key") -> DataFrame:
    return names.withColumn(
        out, F.element_at(F.col(bag_col), 1)
    ).where(F.col(out).isNotNull() & (F.col(out) != ""))


def minhash_band_keys(
    names: DataFrame,
    bag_col: str,
    name_col: str = "name",
    num_hashes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH band keys, pure Spark SQL.

    signature[i] = min over tokens of ((a_i * xxhash64(token) + b_i) mod p);
    the signature is sliced into ``bands`` bands of num_hashes/bands rows,
    each band hashed into one block key: (name, band_key) rows out.

    Names with identical band keys in any band become candidates — Jaccard-
    similar token bags collide with high probability (standard LSH banding).
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    import random

    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_hashes)]
    sig_exprs = []
    for a, b in coeffs:
        # non-negative 61-bit token hash via pmod, then universal hash
        sig_exprs.append(
            f"aggregate({bag_col}, CAST({_MERSENNE} AS BIGINT), "
            f"(acc, t) -> least(acc, pmod({a}L * pmod(xxhash64(t), {_MERSENNE}L) + {b}L, {_MERSENNE}L)))"
        )
    sig = "array(" + ",".join(sig_exprs) + ")"
    df = names.where(F.size(F.col(bag_col)) > 0).withColumn("_sig", F.expr(sig))
    band_rows = []
    for bi in range(bands):
        lo = bi * rows_per_band + 1  # slice() is 1-indexed
        band_rows.append(
            f"named_struct('band', {bi}, 'band_hash', "
            f"xxhash64(concat_ws(',', slice(_sig, {lo}, {rows_per_band}))))"
        )
    df = df.withColumn("_bands", F.expr("array(" + ",".join(band_rows) + ")"))
    return (
        df.select(name_col, F.explode("_bands").alias("b"))
        .select(
            name_col,
            F.concat_ws(":", F.col("b.band"), F.col("b.band_hash")).alias("band_key"),
        )
    )


def char_shingle_band_keys(
    names: DataFrame,
    text_col: str,
    name_col: str = "name",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    seed: int = 777,
) -> DataFrame:
    """MinHash-LSH band keys over CHARACTER n-grams of ``text_col`` — the
    recall amplifier for Jaro-close pairs whose every token-level key
    differs. A single-character typo in the FIRST token defeats
    first-token, double-metaphone and token-LSH blocking simultaneously
    ("FASIWESNIRAR GAS" vs "FABSIWESNIRAR ENERGY" shares no usable token);
    char shingles survive single-char edits, so char-shingle LSH is the
    natural blocker for a Jaro/edit-distance channel.

    r = num_hashes/bands rows per band; collision probability for
    char-shingle Jaccard J is 1-(1-J^r)^bands — at the default r=2, b=6:
    0.82 at J=0.5, 0.98 at J=0.7 (Jaro distance ≤ 0.15 pairs sit well
    above J=0.5 in trigram space). Hot keys (short names, shared
    suffixes) are bounded downstream by pairs_from_index's cap-and-split.

    Added for the round-5 blocking-recall harness (recall.py): the
    exhaustive sf0.001 cross-check showed the ft ∪ mp ∪ token-LSH union
    transitively connecting only 94.5% of same-entity pairs, every miss a
    first-token typo — this family closes that class."""
    # names shorter than n must yield an EMPTY shingle set (minhash_band_keys'
    # size>0 filter then excludes them). NB sequence(1, 0) in Spark DESCENDS
    # to [1, 0] rather than being empty, so the bound is clamped to >= 1 and
    # undersized shingles (only possible when char_length < n) are filtered
    # by length instead.
    sh = (
        f"filter(transform(sequence(1, greatest(char_length({text_col}) - {n - 1}, 1)), "
        f"i -> substring({text_col}, i, {n})), s -> char_length(s) = {n})"
    )
    with_sh = names.withColumn("_csh", F.array_distinct(F.expr(sh)))
    return minhash_band_keys(
        with_sh, "_csh", name_col, num_hashes=num_hashes, bands=bands, seed=seed
    )


def split_oversized_blocks(
    index: DataFrame,
    key_col: str,
    name_col: str = "name",
    cap: int = 500,
) -> DataFrame:
    """Cap-and-split with replicated boundaries: returns a task index
    (task_key, name) such that grouping by task_key and enumerating pairs
    inside each task yields exactly the original within-block pair set, with
    every task bounded by ~cap names per side.

    A block of size B gets g = ceil(B/cap) sub-groups; a name in sub-group
    gi is replicated to all task keys (gi, gj), gi ≤ gj < g, tagged with the
    side it plays, so cross-sub-group pairs are produced exactly once.

    If the index already carries a ``_bs`` block-size column (the hot-key
    tag of ``pairs_from_index``, null for a block within the cap), it is
    reused — no second aggregation over the index. A block of null or
    at-most-cap size is one sub-group: the single task ``key#0#0``.
    """
    if "_bs" in index.columns:
        idx = index
    else:
        sizes = index.groupBy(key_col).agg(F.count("*").alias("_bs"))
        idx = index.join(sizes, key_col)
    idx = idx.withColumn("_g", F.expr(f"coalesce(int(ceil(_bs / {cap})), 1)"))
    idx = idx.withColumn("_gi", F.pmod(F.xxhash64(F.col(name_col)), F.col("_g")).cast("int"))
    # replicate each row to every (min(gi,gj), max(gi,gj)) task it joins
    idx = idx.withColumn(
        "_tasks",
        F.expr(
            "transform(sequence(0, _g - 1), gj -> named_struct("
            "'lo', least(_gi, gj), 'hi', greatest(_gi, gj)))"
        ),
    )
    out = idx.select(
        key_col,
        name_col,
        F.col("_gi"),
        F.explode(F.array_distinct("_tasks")).alias("_t"),
    )
    return out.select(
        F.concat_ws("#", F.col(key_col), F.col("_t.lo"), F.col("_t.hi")).alias("task_key"),
        F.col(key_col).alias("block_key"),
        F.col(name_col).alias("name"),
        F.col("_gi").alias("sub_group"),
        F.col("_t.lo").alias("task_lo"),
        F.col("_t.hi").alias("task_hi"),
    )
