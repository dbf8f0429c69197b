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
- blocking: self-join on exact last_name, upper triangle by row id
  (match_names.R:424-436);
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


def match_first_name(
    names: DataFrame, name_col: str = "name", return_parts: bool = False
):
    """Human-name matcher: (name, match, human_jw_distance,
    human_cosine_similarity, initials_match) over last-name-blocked pairs.

    ``names`` needs a distinct ``name_col``. Original (raw) names are
    carried through; scoring happens on extracted first names.

    With ``return_parts`` returns ``(scored, parts)`` where ``parts`` is the
    full (uncompany-filtered) name-part table — (name, clean_name, company,
    last_name, first_name, initials), checkpointed. The pre-screen's
    cross-surname rule consumes it so the dictionary parse over the name
    universe runs ONCE per pipeline, not once per stage (VERDICT r2 item 1).
    """
    df = names.select(name_col).distinct()
    df = with_clean_name(df, name_col, "clean_name", drop_common=False, human=True)
    # the extract chain (dict joins + window) feeds both sides of the
    # last-name self-join AND, via return_parts, the pre-screen's
    # cross-surname rule — an eager checkpoint computes it once for every
    # consumer (see PLANS.md, same defect class as the pair index); a lazy
    # pin would let the self-join's two branches each recompute it.
    split = materialize(extract_name(df, "clean_name"), eager=True)
    humans = split.where(~F.col("company") & F.col("last_name").isNotNull())
    humans = humans.withColumn(
        "check_initials",
        (F.size(F.split("first_name", " ")) > 1) | (F.length("first_name") < 4),
    ).withColumn("_id", F.xxhash64(name_col))

    a = humans.select(
        F.col("last_name"),
        F.col(name_col).alias("name_a"),
        F.col("first_name").alias("first_a"),
        F.col("initials").alias("init_a"),
        F.col("check_initials").alias("check_a"),
        F.col("_id").alias("id_a"),
    )
    b = humans.select(
        F.col("last_name"),
        F.col(name_col).alias("name_b"),
        F.col("first_name").alias("first_b"),
        F.col("initials").alias("init_b"),
        F.col("check_initials").alias("check_b"),
        F.col("_id").alias("id_b"),
    )
    pairs = a.join(b, "last_name").where(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn(
        "initials_match",
        F.when(
            F.col("check_a") | F.col("check_b"),
            F.array_sort(F.array_distinct("init_a"))
            == F.array_sort(F.array_distinct("init_b")),
        ).otherwise(F.lit(False)),
    )
    scored = score_pairs(
        pairs,
        [
            ("human_jw_distance", "jaro_distance", "first_a", "first_b"),
            ("_cos_dist", "unigram_cosine_distance", "first_a", "first_b"),
        ],
    )
    # NaN → null, then flip cosine distance to similarity (match_names.R:448-450)
    scored = scored.withColumn(
        "_cos_dist", F.when(F.isnan("_cos_dist"), F.lit(None)).otherwise(F.col("_cos_dist"))
    ).withColumn(
        "human_jw_distance",
        F.when(
            F.col("first_a").isNull() | F.col("first_b").isNull()
            | (F.col("first_a") == "") | (F.col("first_b") == ""),
            F.lit(None),
        ).otherwise(F.col("human_jw_distance")),
    )
    out = scored.select(
        F.col("name_a").alias("name"),
        F.col("name_b").alias("match"),
        "human_jw_distance",
        (1.0 - F.col("_cos_dist")).alias("human_cosine_similarity"),
        "initials_match",
    )
    if return_parts:
        return out, split
    return out
