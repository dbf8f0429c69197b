"""Human-name channel: name-part extraction + last-name-blocked first-name
scoring.

Reimplements extract_name / match_first_name (reference
code/functions/match_names.R:291-455) with broadcast dictionary joins and a
window rank instead of R's per-row case_when over an unnested tibble.

Semantic quirks reproduced deliberately:
- token classification rank: surname-only 1, both 2, first-only 3, neither 4
  (match_names.R:352-366); ties broken by alphabetical token;
- rank-3 (first-name-only token, no surname anywhere): the token is REMOVED
  and the remainder becomes last_name while first_name is NULL
  (match_names.R:357-366 — case_when fall-through);
- first/last name derived by *first-substring-removal* of the chosen token
  from the full name (str_replace semantics, not token-aware);
- initials: first character of each first-name word, unless the whole
  first_name is ≤ 2 chars, in which case it is used verbatim
  (match_names.R:380-386);
- trailing " JR" stripped from both parts (match_names.R:387-388);
- blocking: exact last_name (match_names.R:424-436), as the ``ln:`` key
  family of the one pair self-join (``pairs_from_index``), so a common
  surname is cap-and-split like any hot key;
- initials_match = set-equality, only evaluated when either side has a
  multi-word or short (<4 chars) first name, else FALSE
  (match_names.R:415-421,437-439);
- human_jw_distance = pure Jaro (p=0); human_cosine_similarity =
  1 - unigram-cosine distance (match_names.R:446-450).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import COMPANY_REGEX_JAVA, FIRST_NAMES, NICKNAMES, SURNAMES
from ..functions.normalize import with_clean_name
from ..session import materialize
from .blocking import pairs_from_index
from .pairs import score_pairs


def _dictionaries(spark):
    surnames = spark.createDataFrame([(s,) for s in sorted(set(SURNAMES))], ["tok"])
    nick_std = {n for s, n in NICKNAMES}
    firsts = sorted(set(FIRST_NAMES) | {s for s, _ in NICKNAMES} | nick_std)
    first_names = spark.createDataFrame([(s,) for s in firsts], ["tok"])
    return surnames, first_names


def extract_name(names: DataFrame, name_col: str = "clean_name") -> DataFrame:
    """Classify/split names: adds company, last_name, first_name, initials.

    ``names`` must have a unique ``name_col`` column (cleaned, human mode).
    """
    spark = names.sparkSession
    surnames, first_names = _dictionaries(spark)

    df = names.withColumn("company", F.col(name_col).rlike(COMPANY_REGEX_JAVA))
    toks = df.select(
        name_col, "company", F.explode(F.split(F.col(name_col), " ")).alias("tok")
    )
    toks = (
        toks.join(F.broadcast(surnames.withColumn("is_last", F.lit(True))), "tok", "left")
        .join(F.broadcast(first_names.withColumn("is_first", F.lit(True))), "tok", "left")
        .fillna({"is_last": False, "is_first": False})
    )
    toks = toks.withColumn(
        "rank",
        F.when(F.col("is_last") & ~F.col("is_first"), 1)
        .when(F.col("is_last") & F.col("is_first"), 2)
        .when(~F.col("is_last") & F.col("is_first"), 3)
        .otherwise(4),
    )
    w = Window.partitionBy(name_col).orderBy("rank", "tok")
    best = toks.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)

    # str_replace (first occurrence only) via locate + substring surgery
    def _remove_first(name, tok):
        return F.expr(
            f"CASE WHEN locate(tok, {name}) > 0 THEN "
            f"concat(substring({name}, 1, locate(tok, {name}) - 1), "
            f"substring({name}, locate(tok, {name}) + length(tok))) "
            f"ELSE {name} END"
        )

    best = best.withColumn("_remainder", _remove_first(name_col, "tok"))
    best = best.select(
        name_col,
        "company",
        F.when(F.col("rank").isin(1, 2), F.col("tok"))
        .when(F.col("rank") == 3, F.col("_remainder"))
        .alias("last_name"),
        F.when(F.col("rank").isin(1, 2), F.col("_remainder"))
        .when(F.col("rank") == 4, F.col("tok"))
        .alias("first_name"),
    )
    # nickname-to-standard conversion happens via the dictionary containing
    # both forms; hyphens in first names become spaces, then squish/trim
    for c in ("last_name", "first_name"):
        best = best.withColumn(
            c, F.trim(F.regexp_replace(F.regexp_replace(c, "-", " "), " +", " "))
        )
    best = best.withColumn(
        "initials",
        F.when(F.length("first_name") <= 2, F.array(F.col("first_name"))).otherwise(
            F.expr("transform(split(first_name, ' '), x -> substring(x, 1, 1))")
        ),
    )
    best = best.withColumn(
        "first_name", F.regexp_replace("first_name", " JR$", "")
    ).withColumn("last_name", F.regexp_replace("last_name", " JR$", ""))
    return names.join(best, name_col, "left")


def parse_names(names: DataFrame) -> DataFrame:
    """The dictionary parse of the distinct ``name`` column: (name,
    clean_name, company, last_name, first_name, initials), unpinned."""
    df = names.select("name").distinct()
    df = with_clean_name(df, "name", "clean_name", drop_common=False, human=True)
    return extract_name(df, "clean_name")


def name_parts(names: DataFrame) -> DataFrame:
    """``parse_names``, checkpointed.

    One parse per pipeline: the ``ln:`` index, the human-score step and the
    pre-screen's cross-surname rule all read this table (VERDICT r2 item
    1); an eager checkpoint computes the extract chain (dict joins + window)
    once for every consumer instead of once per join branch (see PLANS.md,
    same defect class as the pair index)."""
    return materialize(parse_names(names), eager=True)


def _is_human():
    return ~F.col("company") & F.col("last_name").isNotNull()


def last_name_index(parts: DataFrame) -> DataFrame:
    """The ``ln:`` key family: (name, key) for every human parse row — not a
    company, with a last name. Blocking on exact last_name is the
    reference's own (match_names.R:424-436)."""
    return parts.where(_is_human()).select(
        "name", F.concat(F.lit("ln:"), F.col("last_name")).alias("key")
    )


HUMAN_COLUMNS = ("human_jw_distance", "human_cosine_similarity", "initials_match")


def score_first_names(pairs: DataFrame, parts: DataFrame, specs=()) -> DataFrame:
    """The human-score step: adds ``HUMAN_COLUMNS`` to canonical (name,
    match) ``pairs`` from the two sides' parse rows (null first names for a
    side that is not a human row).

    ``specs`` are further ``score_pairs`` kernels over ``pairs``' own
    columns, computed in the same Python pass as the two first-name ones.
    """

    def side(name: str, s: str) -> DataFrame:
        first = F.col("first_name")
        return parts.where(_is_human()).select(
            F.col("name").alias(name),
            first.alias(f"_first_{s}"),
            F.col("initials").alias(f"_init_{s}"),
            ((F.size(F.split(first, " ")) > 1) | (F.length(first) < 4)).alias(
                f"_check_{s}"
            ),
        )

    df = pairs.join(side("name", "a"), "name", "left").join(
        side("match", "b"), "match", "left"
    )
    df = df.withColumn(
        "initials_match",
        F.when(
            F.col("_check_a") | F.col("_check_b"),
            F.array_sort(F.array_distinct("_init_a"))
            == F.array_sort(F.array_distinct("_init_b")),
        ).otherwise(F.lit(False)),
    )
    scored = score_pairs(
        df,
        [
            ("human_jw_distance", "jaro_distance", "_first_a", "_first_b"),
            ("_cos_dist", "unigram_cosine_distance", "_first_a", "_first_b"),
            *specs,
        ],
    )
    # NaN → null, then flip cosine distance to similarity (match_names.R:448-450)
    no_first = (
        F.col("_first_a").isNull() | F.col("_first_b").isNull()
        | (F.col("_first_a") == "") | (F.col("_first_b") == "")
    )
    return scored.withColumns(
        {
            "human_jw_distance": F.when(no_first, F.lit(None)).otherwise(
                F.col("human_jw_distance")
            ),
            "human_cosine_similarity": 1.0
            - F.when(F.isnan("_cos_dist"), F.lit(None)).otherwise(F.col("_cos_dist")),
        }
    ).drop(*[f"_{c}_{s}" for c in ("first", "init", "check") for s in "ab"], "_cos_dist")


def match_first_name(names: DataFrame, return_parts: bool = False):
    """Human-name matcher: (name, match, human_jw_distance,
    human_cosine_similarity, initials_match) over last-name-blocked
    canonical pairs.

    ``names`` needs a ``name`` column. Original (raw) names are carried
    through; scoring happens on extracted first names. The same pieces as
    the ``ln:`` family of ``pipeline.match_names``: parse → ``ln:`` index →
    ``pairs_from_index`` → ``score_first_names``.

    With ``return_parts`` returns ``(scored, parts)`` where ``parts`` is the
    full (uncompany-filtered) ``name_parts`` table.
    """
    parts = name_parts(names)
    pairs = pairs_from_index(last_name_index(parts), "key").select("name", "match")
    out = score_first_names(pairs, parts).select("name", "match", *HUMAN_COLUMNS)
    if return_parts:
        return out, parts
    return out
