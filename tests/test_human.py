"""Human-name channel semantics (reference match_names.R:291-455)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from name_matching_spark.operators.human import extract_name, match_first_name


def _extract(spark, names):
    df = spark.createDataFrame([(n,) for n in names], ["clean_name"])
    return {r["clean_name"]: r.asDict() for r in extract_name(df).collect()}


def test_extract_surname_wins(spark):
    got = _extract(spark, ["JOHN SMITH"])["JOHN SMITH"]
    assert got["last_name"] == "SMITH"
    assert got["first_name"] == "JOHN"
    assert got["initials"] == ["J"]
    assert not got["company"]


def test_extract_first_only_token_rank3(spark):
    # no surname token anywhere: first-name token removed, remainder → last,
    # first_name NULL (reference case_when fall-through, match_names.R:357-366)
    got = _extract(spark, ["JOHN ZORVEX"])["JOHN ZORVEX"]
    assert got["last_name"] == "ZORVEX"
    assert got["first_name"] is None
    assert got["initials"] is None


def test_extract_short_first_name_verbatim_initials(spark):
    got = _extract(spark, ["JB SMITH"])["JB SMITH"]
    assert got["last_name"] == "SMITH"
    assert got["first_name"] == "JB"
    assert got["initials"] == ["JB"]


def test_extract_multiword_first_name_initials(spark):
    got = _extract(spark, ["JOHN B SMITH"])["JOHN B SMITH"]
    assert got["last_name"] == "SMITH"
    assert got["first_name"] == "JOHN B"
    assert sorted(got["initials"]) == ["B", "J"]


def test_extract_company_flag(spark):
    got = _extract(spark, ["ACME PIPELINE SMITH"])["ACME PIPELINE SMITH"]
    assert got["company"]


def test_match_first_name_same_last_blocked(spark):
    df = spark.createDataFrame(
        [("JOHN SMITH",), ("J SMITH",), ("JANE WILSON",), ("JOHN WILSON",)],
        ["name"],
    )
    rows = match_first_name(df).collect()
    pairs = {tuple(sorted((r["name"], r["match"]))): r for r in rows}
    # same-surname pairs only
    assert set(pairs) == {
        ("J SMITH", "JOHN SMITH"),
        ("JANE WILSON", "JOHN WILSON"),
    }
    smith = pairs[("J SMITH", "JOHN SMITH")]
    # initials J vs J with check_initials (len<4) → match
    assert smith["initials_match"] is True
    assert smith["human_jw_distance"] == pytest.approx(0.25)
    wilson = pairs[("JANE WILSON", "JOHN WILSON")]
    # both first names ≥4 chars, single word → initials not checked → False
    assert wilson["initials_match"] is False
    assert 0.0 < wilson["human_jw_distance"] < 1.0


def test_match_first_name_excludes_companies(spark):
    df = spark.createDataFrame(
        [("SMITH PIPELINE CORP",), ("SMITH JOHN",)], ["name"]
    )
    rows = match_first_name(df).collect()
    assert rows == []


def test_cross_surname_screen_same_with_and_without_parts(spark):
    # the resolve driver passes the human parse on a fresh run and lets the
    # screen re-parse on a resume: both paths must give the same rows
    from name_matching_spark.operators.prescreen import cross_surname_screen

    pairs = spark.createDataFrame(
        [
            ("JASON NELSON", "JASON NGUYEN", None),  # in-dictionary surnames
            ("A J SUMKUP", "A J WUKBI", None),  # out-of-dictionary, same initials
            ("MARY JOHNSON", "MARY JOHNSTON", None),  # typo kept by Levenshtein
            ("ÉMILE ZORVAK", "EMILE QUINTAB", None),
            ("ACME PIPELINE CORP", "ACME PIPELINE LLC", None),  # companies
            ("JOHN SMITH", "JOHN WILSON", 1.0),  # already labeled
        ],
        "name string, match string, keep double",
    )
    names = pairs.select("name").unionByName(pairs.select(F.col("match").alias("name")))
    _, parts = match_first_name(names, return_parts=True)

    def rows(df):
        return sorted(tuple(r) for r in df.select("name", "match", "keep").collect())

    with_parts = rows(cross_surname_screen(pairs, name_parts=parts))
    assert with_parts == rows(cross_surname_screen(pairs))
    keep = {(n, m): k for n, m, k in with_parts}
    assert keep[("JASON NELSON", "JASON NGUYEN")] == 0.0
    assert keep[("A J SUMKUP", "A J WUKBI")] == 0.0
    assert keep[("MARY JOHNSON", "MARY JOHNSTON")] is None
    assert keep[("ACME PIPELINE CORP", "ACME PIPELINE LLC")] is None
    assert keep[("JOHN SMITH", "JOHN WILSON")] == 1.0
