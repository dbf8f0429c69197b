"""Contract batch 2: human-name channel, addresses, pre-screen rules,
label merge, clique completion, importance distance.

Dictionary-driven operators take small inline VALUES fixtures embedded
identically in both engines (the driver's tables contain no human names or
street addresses). Oracles replicate the operator semantics hand-traced
from the reference (file:line cites in the operator modules).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .constants import (
    COMPANY_REGEX_JAVA,
    FIRST_NAMES,
    NICKNAMES,
    PO_NUM_REGEX,
    PO_REGEX,
    SURNAMES,
)
from .contract import CORPUS_CTE, DUCK_H, SPARK_H, _corpus_df, _register, _sq

# ---------------------------------------------------------------------------
# inline fixtures (identical in both engines)
# ---------------------------------------------------------------------------

HUMAN_NAMES = [
    "JOHN SMITH",
    "J SMITH",
    "SMITH, JOHN",
    "JOHNNY SMITH",
    "JOHN A SMITH",
    "J A SMITH",
    "JON SMITH",
    "MIKE JOHNSON",
    "MICHAEL JOHNSON",
    "M JOHNSON",
    "MICHAEL R JOHNSON",
    "PEGGY MARSHALL",
    "MARGARET MARSHALL",
    "M MARSHALL",
    "BILL WILLIAMS JR",
    "WILLIAM WILLIAMS",
    "WILL WILLIAMS",
    "LEE SCOTT",
    "MARY LUBBOCK",
    "XANDER QUIXOTE",
    "SMITH",
    "MARY",
    "SUE ELLEN TAYLOR",
    "SUSAN TAYLOR",
    "TED LEWIS",
    "EDWARD LEWIS",
    "J L MARSHALL",
    "JOE-BOB HOLT",
    "SMITH OIL CO",
    "MARSHALL ENERGY LLC",
    "TAYLOR PETROLEUM INC",
    "DEB O'NEILL BARNES",
    "DEBORAH BARNES",
]

ADDRESSES = [
    ("ACME OIL", "PO BOX 123, MIDLAND, TX 79701"),
    ("ACME OIL CO", "P.O. BOX 123, MIDLAND, TX 79701"),
    ("ACME OPERATING", "po box 123, midland, tx 79701"),
    ("BOLT ENERGY", "P.O. BOX 123 MIDLAND TX 79701"),
    ("CRESTVIEW LLC", "DRAWER 99, HOUSTON, TX 77002"),
    ("CRESTVIEW PARTNERS", "DRAWER 99, HOUSTON, TX 77002"),
    ("DUSTY MINERALS", "POB 5, ODESSA TX"),
    ("EAGLE PASS INC", "BOX 777, DENVER, CO 80202"),
    ("EAGLE PASS OPERATING", "#4 BOX 777, DENVER, CO 80202"),
    ("FRONTIER GAS", "123 MAIN ST, MIDLAND, TX 79701"),
    ("FRONTIER PRODUCTION", "123  MAIN  ST, MIDLAND, TX 79701"),
    ("GUSHER CO", '500 OAK AVE "SUITE 2", HOUSTON TX'),
    ("GUSHER COMPANY", "500 OAK AVE SUITE 2, HOUSTON TX"),
    ("HERMIT OIL", "1 LONELY LN, ABILENE, TX 79601"),
    ("IGNORED A", " LEADING SPACE ST, AUSTIN TX"),
    ("IGNORED B", ",COMMA START RD"),
    ("IGNORED C", "-DASH START AVE"),
    ("IGNORED D", "(PAREN START BLVD"),
    ("IGNORED E", "N/A"),
    ("IGNORED F", "123 ELM, , TX"),
    ("IGNORED G", "UNKNOWN NA ROAD"),
    ("IGNORED H", "WHAT? ST"),
    ("JACKPOT LLC", "PO BOX 9"),
]

OLD_LABELS = [
    ("ACME OIL", "ACME OIL CO", 1),
    ("BOLT ENERGY", "BRAVO GAS", 0),
    ("CRESTVIEW LLC", "CRESTVIEW PARTNERS", 1),
]
NEW_LABELS = [
    ("ACME OIL", "ACME OIL CO", 0),  # must NOT overwrite the old 1
    ("DELTA CO", "DELTA CORP", 1),
    ("BOLT ENERGY", "BRAVO GAS", 1),  # must NOT overwrite the old 0
    ("ECHO LP", "ECHO LTD", 0),
]

PRIOR_CLUSTERS = [
    ("ACME OIL CO", "ACME OIL"),
    ("ACME OPERATING", "ACME OIL"),
    ("BOLT ENERGY", "ACME OIL"),
    ("DELTA CORP", "DELTA CO"),
    ("ECHO LTD", "ECHO LP"),
    ("ECHO LLC", "ECHO LP"),
]

KEEP_RULE_PAIRS = [
    # (name, match, human_jw, human_cos, initials_match, has_address)
    ("A CO", "A CORP", None, None, None, False),
    ("BAKER JOHN", "BAKER JAMES", 0.8, 0.7, None, False),   # rule-1 reject
    ("CARTER JIM", "CARTER JAMES", 0.8, 0.7, True, False),  # initials save it
    ("DAVIS SUE", "DAVIS SUSAN", 0.3, 0.9, None, False),    # jw below thr
    ("EVANS M", "EVANS MARK", 0.7, 0.5, None, False),       # cos below thr
    ("FIRST LLC", "FIRST LP", 0.9, 0.9, None, True),        # addr overrides
    ("GOLF OIL", "GOLF GAS", None, None, False, True),      # addr keep=1
]


def _values(rows, cols) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return str(v)
        return _sq(v)

    body = ",".join("(" + ",".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS _v({','.join(cols)})"


HUMAN_VALUES = _values([(n,) for n in HUMAN_NAMES], ["name"])
ADDR_VALUES = _values(ADDRESSES, ["name", "address"])


def _human_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(n,) for n in HUMAN_NAMES], ["name"])


def _addr_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ADDRESSES, ["name", "address"])


# ---------------------------------------------------------------------------
# DuckDB human-name extraction (mirrors operators/human.py)
# ---------------------------------------------------------------------------

def _duck_dict(tokens) -> str:
    return "(VALUES " + ",".join(f"({_sq(t)})" for t in sorted(set(tokens))) + ")"


def _first_name_tokens() -> list[str]:
    nick_std = {n for _, n in NICKNAMES}
    return sorted(set(FIRST_NAMES) | {s for s, _ in NICKNAMES} | nick_std)


def _duck_first_arr() -> str:
    """The first-name token set as a DuckDB array literal."""
    return "[" + ",".join(_sq(t) for t in _first_name_tokens()) + "]"


def duck_human_extract_cte(source_values: str | None = None) -> str:
    """CTE chain: humans0(name) → extracted(name, company, last_name,
    first_name, initials list) replicating extract_name + the human-mode
    clean_name. ``source_values`` overrides the name universe (any relation
    SQL with a ``name`` column; defaults to the HUMAN_NAMES fixture)."""
    from .contract import duck_clean_expr

    surnames = _duck_dict(SURNAMES)
    firsts = _duck_dict(_first_name_tokens())
    company = _sq(COMPANY_REGEX_JAVA)
    src = source_values if source_values is not None else HUMAN_VALUES
    return f"""
humans0 AS (SELECT DISTINCT name FROM {src}),
hclean AS (
  SELECT name, {duck_clean_expr("name", "clean_name", drop_common=False, human=True)}
  FROM humans0
),
hcls AS (
  SELECT name, clean_name,
         regexp_matches(clean_name, {company}) AS company
  FROM hclean
),
htoks AS (
  SELECT name, clean_name, company, tok FROM (
    SELECT name, clean_name, company, unnest(string_split(clean_name, ' ')) AS tok
    FROM hcls
  )
),
hjoin AS (
  SELECT t.*, (s.tok IS NOT NULL) AS is_last, (f.tok IS NOT NULL) AS is_first
  FROM htoks t
  LEFT JOIN (SELECT DISTINCT * FROM {surnames} s(tok)) s ON t.tok = s.tok
  LEFT JOIN (SELECT DISTINCT * FROM {firsts} f(tok)) f ON t.tok = f.tok
),
hrank AS (
  SELECT *, CASE WHEN is_last AND NOT is_first THEN 1
                 WHEN is_last AND is_first THEN 2
                 WHEN NOT is_last AND is_first THEN 3
                 ELSE 4 END AS rnk
  FROM hjoin
),
hbest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY clean_name ORDER BY rnk, tok) AS _rn
    FROM hrank
  ) WHERE _rn = 1
),
hrem AS (
  SELECT *, CASE WHEN strpos(clean_name, tok) > 0 THEN
      substr(clean_name, 1, strpos(clean_name, tok) - 1) ||
      substr(clean_name, strpos(clean_name, tok) + length(tok))
    ELSE clean_name END AS remainder
  FROM hbest
),
hsplit0 AS (
  SELECT name, clean_name, company,
    CASE WHEN rnk IN (1, 2) THEN tok WHEN rnk = 3 THEN remainder END AS last_raw,
    CASE WHEN rnk IN (1, 2) THEN remainder WHEN rnk = 4 THEN tok END AS first_raw
  FROM hrem
),
hsplit AS (
  SELECT name, clean_name, company,
    trim(regexp_replace(replace(last_raw, '-', ' '), ' +', ' ', 'g')) AS last_name,
    trim(regexp_replace(replace(first_raw, '-', ' '), ' +', ' ', 'g')) AS first_sq
  FROM hsplit0
),
extracted AS (
  SELECT name, clean_name, company,
    regexp_replace(last_name, ' JR$', '') AS last_name,
    regexp_replace(first_sq, ' JR$', '') AS first_name,
    CASE WHEN length(first_sq) <= 2 THEN [first_sq]
         ELSE list_transform(string_split(first_sq, ' '), x -> substr(x, 1, 1))
    END AS initials
  FROM hsplit
)
"""


def q_human_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 rows 5-6: dictionary-rank name-part extraction + company
    classifier (broadcast dict joins + window rank)."""
    from .functions.normalize import with_clean_name
    from .operators.human import extract_name

    df = _human_df(spark).distinct()
    df = with_clean_name(df, "name", "clean_name", drop_common=False, human=True)
    out = extract_name(df, "clean_name")
    return (
        df.select("name", "clean_name")
        .join(out.select("clean_name", "company", "last_name", "first_name", "initials"),
              "clean_name")
        .select(
            "name",
            "company",
            "last_name",
            "first_name",
            F.array_join("initials", "|").alias("initials_str"),
        )
    )


def o_human_extract() -> str:
    return f"""
WITH {duck_human_extract_cte()}
SELECT name, company, last_name, first_name,
       array_to_string(initials, '|') AS initials_str
FROM extracted
"""


def q_human_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 4: last-name-blocked first-name scoring (Jaro p=0 +
    unigram cosine + initials set-equality), canonical pairs."""
    from .operators.human import match_first_name

    out = match_first_name(_human_df(spark))
    lo, hi = F.least("name", "match"), F.greatest("name", "match")
    return out.select(
        lo.alias("name"),
        hi.alias("match"),
        F.round("human_jw_distance", 6).alias("human_jw_distance"),
        F.round("human_cosine_similarity", 6).alias("human_cosine_similarity"),
        "initials_match",
    )


def o_human_pairs() -> str:
    return f"""
WITH {duck_human_extract_cte()},
humans AS (
  SELECT *,
    (len(string_split(first_name, ' ')) > 1 OR length(first_name) < 4) AS check_initials
  FROM extracted
  WHERE NOT company AND last_name IS NOT NULL
),
hp AS (
  SELECT least(a.name, b.name) AS name, greatest(a.name, b.name) AS match,
         a.first_name AS fa, b.first_name AS fb,
         a.initials AS ia, b.initials AS ib,
         a.check_initials AS ka, b.check_initials AS kb
  FROM humans a JOIN humans b ON a.last_name = b.last_name AND a.name < b.name
),
chars AS (
  SELECT name, match, side, c, count(*) AS cnt FROM (
    SELECT name, match, 'a' AS side,
           unnest(list_transform(generate_series(1, length(fa)), i -> substr(fa, i, 1))) AS c
    FROM hp WHERE fa IS NOT NULL AND fa <> ''
    UNION ALL
    SELECT name, match, 'b' AS side,
           unnest(list_transform(generate_series(1, length(fb)), i -> substr(fb, i, 1))) AS c
    FROM hp WHERE fb IS NOT NULL AND fb <> ''
  ) GROUP BY name, match, side, c
),
cos AS (
  SELECT a.name, a.match,
         sum(a.cnt * b.cnt) /
         sqrt((SELECT sum(cnt * cnt) FROM chars x WHERE x.name = a.name AND x.match = a.match AND x.side = 'a')) /
         sqrt((SELECT sum(cnt * cnt) FROM chars y WHERE y.name = a.name AND y.match = a.match AND y.side = 'b'))
         AS cos_sim
  FROM chars a JOIN chars b
    ON a.name = b.name AND a.match = b.match AND a.c = b.c
   AND a.side = 'a' AND b.side = 'b'
  GROUP BY a.name, a.match
)
SELECT hp.name, hp.match,
  CASE WHEN fa IS NULL OR fb IS NULL OR fa = '' OR fb = '' THEN NULL
       ELSE round(1 - jaro_similarity(fa, fb), 6) END AS human_jw_distance,
  round(coalesce(cos.cos_sim,
        CASE WHEN fa IS NOT NULL AND fb IS NOT NULL AND fa <> '' AND fb <> ''
             THEN 0.0 END), 6) AS human_cosine_similarity,
  CASE WHEN coalesce(ka, FALSE) OR coalesce(kb, FALSE)
       THEN list_sort(list_distinct(ia)) = list_sort(list_distinct(ib))
       ELSE FALSE END AS initials_match
FROM hp LEFT JOIN cos ON hp.name = cos.name AND hp.match = cos.match
"""


# ---------------------------------------------------------------------------
# addresses
# ---------------------------------------------------------------------------

def q_address_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: PO-box parse + scrub normalization (pure string builtins)."""
    from .operators.address import normalize_addresses

    out = normalize_addresses(_addr_df(spark))
    return out.select("name", "address", "coded_address")


def o_address_code() -> str:
    po = _sq(PO_REGEX)
    po_num = _sq(PO_NUM_REGEX)
    return f"""
WITH raw AS (
  SELECT name, trim(regexp_replace(upper(address), ' +', ' ', 'g')) AS address
  FROM {ADDR_VALUES}
  WHERE address IS NOT NULL AND address <> ''
),
po AS (
  SELECT name, address, replace(address, '#', '') AS a FROM raw
  WHERE regexp_matches(address, {po})
),
po2 AS (
  SELECT name, address,
         regexp_replace(regexp_extract(a, ',(.*)', 0), ',', '', 'g') AS city0,
         regexp_extract(regexp_extract(a, {po_num}, 0), '\\d+', 0) AS po_num
  FROM po
),
po3 AS (
  SELECT name, address, po_num,
         regexp_extract(city0, '\\d+', 0) AS zip,
         trim(regexp_replace(regexp_replace(city0, '[\\d-]+', '', 'g'), ' +', ' ', 'g')) AS city
  FROM po2
),
po_coded AS (
  SELECT name, address,
         po_num || ' ' ||
         (CASE WHEN city = '' THEN 'NA' ELSE city END) || ' ' ||
         (CASE WHEN zip = '' THEN 'NA' ELSE zip END) AS coded_address
  FROM po3 WHERE po_num <> ''
),
nonpo AS (
  SELECT name, address,
         trim(regexp_replace(translate(address, '%*+£&#@="`[]', ''), ' +', ' ', 'g')) AS a
  FROM raw
  WHERE NOT regexp_matches(address, {po})
    AND substr(address, 1, 1) NOT IN (' ', ',', '-', '(')
),
nonpo_coded AS (
  SELECT name, address, a AS coded_address FROM nonpo
  WHERE a NOT LIKE '%N/A%' AND a NOT LIKE '%, ,%'
    AND NOT regexp_matches(a, '\\bNA\\b') AND a NOT LIKE '%?%'
)
SELECT * FROM po_coded UNION ALL SELECT * FROM nonpo_coded
"""


def q_address_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 7: exact-coded-address grouping → canonical pairs."""
    from .operators.address import match_addresses

    return match_addresses(_addr_df(spark))


def o_address_pairs() -> str:
    coded = o_address_code().strip()
    return f"""
WITH coded AS ({coded}),
named AS (SELECT DISTINCT name, coded_address FROM coded),
multi AS (
  SELECT coded_address FROM named GROUP BY coded_address
  HAVING count(DISTINCT name) > 1
),
m AS (SELECT n.* FROM named n JOIN multi USING (coded_address))
SELECT DISTINCT least(a.name, b.name) AS name,
       greatest(a.name, b.name) AS match,
       a.coded_address AS address
FROM m a JOIN m b ON a.coded_address = b.coded_address AND a.name < b.name
"""


# ---------------------------------------------------------------------------
# label merge / clique completion / keep rules
# ---------------------------------------------------------------------------

def q_merge_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 never-overwrite reviewed-label merge (deterministic)."""
    from .operators.prescreen import merge_labels

    old = spark.createDataFrame(OLD_LABELS, ["name", "match", "keep"])
    new = spark.createDataFrame(NEW_LABELS, ["name", "match", "keep"])
    return merge_labels(old, new).select(
        "name", "match", F.col("keep").cast("bigint").alias("keep")
    )


def o_merge_labels() -> str:
    old = _values(OLD_LABELS, ["name", "match", "keep"])
    new = _values(NEW_LABELS, ["name", "match", "keep"])
    return f"""
WITH u AS (
  SELECT name, match, keep, 0 AS prio FROM {old}
  UNION ALL
  SELECT name, match, keep, 1 AS prio FROM {new}
)
SELECT name, match, CAST(keep AS BIGINT) AS keep FROM (
  SELECT *, row_number() OVER (PARTITION BY name, match ORDER BY prio) AS rn FROM u
) WHERE rn = 1
"""


def q_clique_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: prior clusters expanded to all C(n,2) canonical edges."""
    from .operators.prescreen import clique_completion

    clusters = spark.createDataFrame(PRIOR_CLUSTERS, ["name", "group_name"])
    return clique_completion(clusters)


def o_clique_completion() -> str:
    vals = _values(PRIOR_CLUSTERS, ["name", "group_name"])
    return f"""
WITH c AS (SELECT name, group_name FROM {vals}),
full_c AS (
  SELECT name, group_name FROM c
  UNION SELECT group_name, group_name FROM c
)
SELECT DISTINCT least(a.name, b.name) AS name, greatest(a.name, b.name) AS match
FROM full_c a JOIN full_c b
  ON a.group_name = b.group_name AND a.name < b.name
"""


def q_keep_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 keep-rule cascade steps 1-2 (human screen before fillna, then
    address verify) — rule order is load-bearing."""
    from .operators.prescreen import address_verify_rule, human_screen_rule

    pairs = spark.createDataFrame(
        KEEP_RULE_PAIRS,
        "name string, match string, human_jw_distance double, "
        "human_cosine_similarity double, initials_match boolean, has_addr boolean",
    )
    addr = (
        pairs.where("has_addr")
        .select("name", "match", F.lit("SHARED ADDR").alias("address"))
    )
    out = human_screen_rule(pairs)
    out = address_verify_rule(out, addr)
    return out.select(
        "name", "match",
        F.col("keep").cast("double").alias("keep"),
        F.round("human_jw_distance", 6).alias("human_jw_distance"),
        F.round("human_cosine_similarity", 6).alias("human_cosine_similarity"),
        "initials_match",
        "address",
    )


def o_keep_rules() -> str:
    vals = _values(
        KEEP_RULE_PAIRS,
        ["name", "match", "hjw", "hcos", "im", "has_addr"],
    )
    return f"""
WITH p AS (SELECT * FROM {vals}),
r1 AS (
  SELECT name, match,
    CASE WHEN hjw > 0.6 AND hcos > 0.6 AND im IS NULL THEN 0.0 END AS keep,
    coalesce(hjw, 1.0) AS human_jw_distance,
    coalesce(hcos, 1.0) AS human_cosine_similarity,
    coalesce(im, FALSE) AS initials_match,
    has_addr
  FROM p
)
SELECT name, match,
  CASE WHEN has_addr THEN 1.0 ELSE keep END AS keep,
  round(human_jw_distance, 6) AS human_jw_distance,
  round(human_cosine_similarity, 6) AS human_cosine_similarity,
  initials_match,
  CASE WHEN has_addr THEN 'SHARED ADDR' END AS address
FROM r1
"""


# ---------------------------------------------------------------------------
# percentiles + importance distance
# ---------------------------------------------------------------------------

def q_importance_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 importance distance: exact p70/p90 percentiles + closed-form
    point-to-region distance (pandas UDF) over corpus count pairs."""
    from .operators.blocking import shared_word_pairs
    from .operators.prescreen import count_percentiles, importance_distance_udf
    from .pipeline import prepare_names
    from .session import materialize

    corpus = _corpus_df(spark, sf_dir)
    prepped = materialize(prepare_names(corpus.select("name")))
    pairs = shared_word_pairs(prepped, "bag_shared", max_block=1_000_000)
    counts = corpus.select("name", "n")
    df = (
        pairs.join(counts.withColumnsRenamed({"n": "n_x"}), "name")
        .join(counts.withColumnsRenamed({"name": "match", "n": "n_y"}), "match")
        .withColumn("min_n", F.least("n_x", "n_y").cast("double"))
        .withColumn("max_n", F.greatest("n_x", "n_y").cast("double"))
    )
    p70, p90 = count_percentiles(counts)
    udf = importance_distance_udf(p90, p70, 0.10)
    return df.select(
        "name", "match", "max_n", "min_n",
        F.round(udf(F.col("max_n"), F.col("min_n")), 6).alias("importance_dist"),
    )


def duck_importance_cte(pts: str = "pts", counts: str = "names", ratio: float = 0.10) -> str:
    """Reusable CTE chain ``thr/geo/d``: closed-form point-to-region
    distance (mirror of operators/prescreen.importance_distance_udf) for
    the rows of ``pts`` (must expose max_n/min_n doubles), thresholds from
    ``counts`` (column n). The final relation ``d`` carries pts.* plus
    inside/dv/dh/dr; combine with ``DUCK_IMPORTANCE_EXPR``."""
    return f"""
thr AS (
  SELECT quantile_cont(n, 0.9) AS a, quantile_cont(n, 0.7) AS b, {ratio} AS r
  FROM {counts}
),
geo AS (
  SELECT {pts}.*, thr.a, thr.b, thr.r,
         CASE WHEN thr.r * thr.a >= thr.b THEN thr.a ELSE thr.b / thr.r END AS x0,
         CASE WHEN thr.r * thr.a >= thr.b THEN greatest(thr.b, thr.r * thr.a)
              ELSE thr.b END AS y0r
  FROM {pts}, thr
),
d AS (
  SELECT *,
    (max_n >= a AND min_n >= b AND min_n >= r * max_n) AS inside,
    -- vertical ray x=a, y >= max(b, r*a)
    sqrt((max_n - a) * (max_n - a) +
         (CASE WHEN greatest(b, r * a) - min_n > 0
               THEN (greatest(b, r * a) - min_n) * (greatest(b, r * a) - min_n)
               ELSE 0 END)) AS dv,
    -- horizontal segment y=b, a <= x <= b/r (only when r*a < b)
    CASE WHEN r * a < b THEN
      sqrt((max_n - least(greatest(max_n, a), b / r)) *
           (max_n - least(greatest(max_n, a), b / r)) +
           (min_n - b) * (min_n - b))
    END AS dh,
    -- ratio ray from (x0, r*x0) along direction (1, r)
    sqrt(
      (max_n - (x0 + greatest(((max_n - x0) + r * (min_n - r * x0)) / (1 + r * r), 0))) *
      (max_n - (x0 + greatest(((max_n - x0) + r * (min_n - r * x0)) / (1 + r * r), 0))) +
      (min_n - (r * x0 + r * greatest(((max_n - x0) + r * (min_n - r * x0)) / (1 + r * r), 0))) *
      (min_n - (r * x0 + r * greatest(((max_n - x0) + r * (min_n - r * x0)) / (1 + r * r), 0)))
    ) AS dr
  FROM geo
)"""


DUCK_IMPORTANCE_EXPR = (
    "CASE WHEN inside THEN 0.0 ELSE least(dv, coalesce(dh, dv), dr) END"
)


def o_importance_distance() -> str:
    return f"""
WITH {CORPUS_CTE},
idx AS (
  SELECT DISTINCT name, token FROM (
    SELECT name, unnest(bag_shared) AS token FROM (
      SELECT name, {_duck_bag_shared()} FROM (SELECT DISTINCT name FROM names)
    )
  ) WHERE token <> ''
),
pairs AS (
  SELECT a.name AS name, b.name AS match
  FROM idx a JOIN idx b ON a.token = b.token AND a.name < b.name
  GROUP BY a.name, b.name
),
pts AS (
  SELECT p.name, p.match,
         CAST(greatest(cx.n, cy.n) AS DOUBLE) AS max_n,
         CAST(least(cx.n, cy.n) AS DOUBLE) AS min_n
  FROM pairs p
  JOIN names cx ON p.name = cx.name
  JOIN names cy ON p.match = cy.name
),{duck_importance_cte()}
SELECT name, match, max_n, min_n,
  round({DUCK_IMPORTANCE_EXPR}, 6) AS importance_dist
FROM d
"""


def _duck_bag_shared() -> str:
    from .contract import duck_bag_cte

    return duck_bag_cte("name", "bag_shared", drop_common=True, comma_to_space=False)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 exact interpolated percentiles (R type-7 ≡ Spark percentile ≡
    DuckDB quantile_cont) of the corpus name counts."""
    from .operators.prescreen import count_percentiles

    counts = _corpus_df(spark, sf_dir)
    p70, p90 = count_percentiles(counts)
    return spark.createDataFrame(
        [(round(p70, 6), round(p90, 6))], "p70 double, p90 double"
    )


def o_percentiles() -> str:
    return f"""
WITH {CORPUS_CTE}
SELECT round(quantile_cont(n, 0.7), 6) AS p70,
       round(quantile_cont(n, 0.9), 6) AS p90
FROM names
"""


def q_cutoff_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 cutoff selection (pre_screen_names.R:88-114): the exact
    distributed depth-1 Gini split + the precision-calibrated auto-accept
    bar, over a deterministic scored/labeled table built from ``orders``
    (score = md5 bucket / 1000; P(label=1 | score) = score via a second,
    independent md5 draw — so the split is interior and cumulative
    precision declines smoothly from the top)."""
    from .operators.prescreen import split_thresholds_df

    h = SPARK_H.format(x="cast(o_orderkey as string)")
    h2 = SPARK_H.format(x="concat(cast(o_orderkey as string),'L')")
    scored = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(f"{h} % 1000 as hb", f"{h2} % 1000 as hb2")
        .selectExpr(
            "round(hb / 1000.0, 6) as rf_prob",
            "cast(case when hb2 < hb then 1 else 0 end as double) as keep",
        )
    )
    # display rounding happens HERE, not in the operator (the operator
    # returns the unrounded midpoint so it can never cross an adjacent
    # score); scores are 3-decimal buckets, so round 6 is lossless
    return split_thresholds_df(scored, target_precision=0.9).select(
        F.round("cutoff", 6).alias("cutoff"),
        F.round("accept", 6).alias("accept_thr"),
    )


def o_cutoff_split() -> str:
    h = DUCK_H.format(x="o_orderkey::VARCHAR")
    h2 = DUCK_H.format(x="o_orderkey::VARCHAR||'L'")
    # the Gini expression mirrors split_thresholds_df token-for-token (exact
    # integer counts, one IEEE-double expression, round 12) so the argmin
    # and the midpoint agree bit-for-bit across engines
    return f"""
WITH pts AS (
  SELECT round(hb / 1000.0, 6) AS s,
         CASE WHEN hb2 < hb THEN 1 ELSE 0 END AS lbl
  FROM (SELECT {h} % 1000 AS hb, {h2} % 1000 AS hb2 FROM orders)
), g AS (
  SELECT s, count(*)::BIGINT AS n, sum(lbl)::BIGINT AS n1 FROM pts GROUP BY s
), tot AS (SELECT sum(n)::BIGINT AS nt, sum(n1)::BIGINT AS nt1 FROM g),
cum AS (
  SELECT s,
    sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
    sum(n1) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl1,
    lead(s) OVER (ORDER BY s) AS s_next
  FROM g
), cand AS (
  SELECT s, s_next,
    round((CAST(nl AS DOUBLE) * (1.0
          - (CAST(nl1 AS DOUBLE)/CAST(nl AS DOUBLE))
            * (CAST(nl1 AS DOUBLE)/CAST(nl AS DOUBLE))
          - (CAST(nl-nl1 AS DOUBLE)/CAST(nl AS DOUBLE))
            * (CAST(nl-nl1 AS DOUBLE)/CAST(nl AS DOUBLE)))
        + CAST(nt-nl AS DOUBLE) * (1.0
          - (CAST(nt1-nl1 AS DOUBLE)/CAST(nt-nl AS DOUBLE))
            * (CAST(nt1-nl1 AS DOUBLE)/CAST(nt-nl AS DOUBLE))
          - (CAST((nt-nl)-(nt1-nl1) AS DOUBLE)/CAST(nt-nl AS DOUBLE))
            * (CAST((nt-nl)-(nt1-nl1) AS DOUBLE)/CAST(nt-nl AS DOUBLE)))
      ) / CAST(nt AS DOUBLE), 12) AS impurity
  FROM cum, tot
  WHERE s_next IS NOT NULL AND nt1 > 0 AND nt1 < nt
), best AS (
  SELECT round((s + s_next) / 2.0, 6) AS cutoff
  FROM cand ORDER BY impurity, s LIMIT 1
), acc_g AS (
  SELECT s, sum(CASE WHEN lbl = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
            sum(CASE WHEN lbl <> 1 THEN 1 ELSE 0 END)::BIGINT AS fp
  FROM pts GROUP BY s
), acc AS (
  SELECT round(coalesce(min(s), 1.0), 6) AS accept_thr FROM (
    SELECT s,
      sum(tp) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
      sum(fp) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp
    FROM acc_g) _x
  WHERE CAST(ctp AS DOUBLE) / CAST(ctp + cfp AS DOUBLE) >= 0.9
)
SELECT cutoff, accept_thr FROM best, acc
"""


GEO_CACHE = [
    ("123 MAIN ST, MIDLAND, TX 79701", "CACHED:123-MAIN"),
    ("DRAWER 99, HOUSTON, TX 77002", "CACHED:DRAWER-99"),
]


def q_geocode_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10/§2.11 geocode-cache contract: cached rows win; only new
    addresses are normalized (left_anti + union)."""
    from .operators.address import code_addresses

    cache = spark.createDataFrame(GEO_CACHE, ["address", "coded_address"])
    return code_addresses(_addr_df(spark), coded_cache=cache)


def o_geocode_cache() -> str:
    coded = o_address_code().strip()
    cache = _values(GEO_CACHE, ["address", "coded_address"])
    return f"""
WITH coded AS ({coded}),
normalized AS (SELECT DISTINCT address, coded_address FROM coded),
cache AS (SELECT * FROM {cache}),
fresh AS (
  SELECT n.* FROM normalized n
  LEFT JOIN cache c ON n.address = c.address WHERE c.address IS NULL
)
SELECT address, coded_address FROM cache
UNION ALL SELECT address, coded_address FROM fresh
"""


# ---------------------------------------------------------------------------
# full pre-RF pre-screen cascade (rules 1-6 composed), oracle-checked
# (VERDICT r1 item 2: the RF itself stays a seeded pytest property —
# tests/test_prescreen_rf.py — since a 100-tree ensemble is not one SQL
# query; everything deterministic is hash-compared here)
# ---------------------------------------------------------------------------

PRE_SCREEN_PAIRS = [
    # (name, match, human_jw_distance, human_cosine_similarity, initials_match)
    ("BAKER JOHN GROUP LLC", "BAKER JOHN GROUP LTD", None, None, None),  # review label 0 wins
    ("JOHN SMITH", "MIKE JOHNSON", None, None, None),        # rule 1b: cross-surname reject
    ("JOHN SMITH", "JOHNNY SMITH", 0.2, 0.9, None),          # same surname, jw below thr
    ("J SMITH", "MARY LUBBOCK", 0.8, 0.9, None),             # rule 1 reject
    ("LEE SCOTT", "TED LEWIS", 0.7, 0.8, True),              # initials pass rule 1, rejected by 1b
    ("ACME OIL", "ACME OIL CO", 0.9, 0.9, None),             # rule-1 reject overridden by address
    ("CRESTVIEW LLC", "CRESTVIEW PARTNERS", None, None, None),  # address keep=1
    ("DELTA CO", "DELTA CORP", None, None, None),            # review 0, prior cluster overrides → 1
    ("ECHO LP", "ECHO LTD", None, None, None),               # prior-cluster clique → 1
    ("ACME OIL CO", "ACME OPERATING", None, None, None),     # prior cluster; match-in-names zeroing
    ("MIKE JOHNSON", "M JOHNSON", None, None, None),         # same surname human pair
    ("JOHN A SMITH", "M JOHNSON", None, None, None),         # duplicate match → n_y zeroing
    ("ZEBRA OPERATING", "ZEBRA PETROLEUM", None, None, None),  # missing count on name side
]

PRE_SCREEN_COUNTS = [
    ("JOHN SMITH", 50), ("MIKE JOHNSON", 40), ("JOHNNY SMITH", 8),
    ("J SMITH", 5), ("MARY LUBBOCK", 3), ("LEE SCOTT", 2), ("TED LEWIS", 60),
    ("ACME OIL", 100), ("ACME OIL CO", 90), ("ACME OPERATING", 4),
    ("CRESTVIEW LLC", 30), ("CRESTVIEW PARTNERS", 6), ("DELTA CO", 20),
    ("DELTA CORP", 10), ("ECHO LP", 15), ("ECHO LTD", 12),
    ("BAKER JOHN GROUP LLC", 7), ("BAKER JOHN GROUP LTD", 9),
    ("JOHN A SMITH", 11), ("M JOHNSON", 13), ("ZEBRA PETROLEUM", 25),
]

PRE_SCREEN_ADDR = [
    ("ACME OIL", "ACME OIL CO", "PO 123 MIDLAND TX"),
    ("CRESTVIEW LLC", "CRESTVIEW PARTNERS", "DRAWER 99 HOUSTON TX"),
]

PRE_SCREEN_REVIEWED = [
    ("BAKER JOHN GROUP LLC", "BAKER JOHN GROUP LTD", 0),
    ("DELTA CO", "DELTA CORP", 0),  # prior cluster overrides this (step order)
]


def q_pre_screen_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 the composed pre-RF pre-screen: human screen → cross-surname →
    address verify → count features with double-count zeroing → importance
    distance → reviewed-label merge → prior-cluster clique completion, in
    the reference's load-bearing order (pre_screen_names.R:154-288)."""
    from .operators.prescreen import pre_screen

    pairs = spark.createDataFrame(
        PRE_SCREEN_PAIRS,
        "name string, match string, human_jw_distance double, "
        "human_cosine_similarity double, initials_match boolean",
    )
    addr = spark.createDataFrame(PRE_SCREEN_ADDR, ["name", "match", "address"])
    counts = spark.createDataFrame(PRE_SCREEN_COUNTS, "name string, n bigint")
    reviewed = spark.createDataFrame(
        PRE_SCREEN_REVIEWED, "name string, match string, keep int"
    )
    priors = spark.createDataFrame(PRIOR_CLUSTERS, ["name", "group_name"])
    out = pre_screen(
        pairs, addr, counts, reviewed=reviewed, prior_clusters=priors
    )
    return out.select(
        "name",
        "match",
        F.col("keep").cast("double").alias("keep"),
        F.col("n_x").cast("bigint").alias("n_x"),
        F.col("n_y").cast("bigint").alias("n_y"),
        F.col("min_n").cast("bigint").alias("min_n"),
        F.col("max_n").cast("bigint").alias("max_n"),
        F.col("sum_n").cast("bigint").alias("sum_n"),
        F.col("word_count").cast("int").alias("word_count"),
        F.round("importance_dist", 6).alias("importance_dist"),
        F.col("prior_check").cast("double").alias("prior_check"),
        "address",
        F.round("human_jw_distance", 6).alias("human_jw_distance"),
        F.round("human_cosine_similarity", 6).alias("human_cosine_similarity"),
        "initials_match",
    )


def o_pre_screen_rules() -> str:
    pair_vals = _values(
        PRE_SCREEN_PAIRS, ["name", "match", "hjw", "hcos", "im"]
    )
    addr_vals = _values(PRE_SCREEN_ADDR, ["name", "match", "address"])
    count_vals = _values(PRE_SCREEN_COUNTS, ["name", "n"])
    rev_vals = _values(PRE_SCREEN_REVIEWED, ["name", "match", "keep"])
    prior_vals = _values(PRIOR_CLUSTERS, ["name", "group_name"])
    extract = duck_human_extract_cte(
        f"(SELECT name FROM {pair_vals} UNION SELECT match FROM {pair_vals})"
    )
    importance = duck_importance_cte(pts="pts", counts="cnt")
    return f"""
WITH p0 AS (SELECT * FROM {pair_vals}),
cnt AS (SELECT * FROM {count_vals}),
{extract},
-- rule 1: human screen (keep BEFORE fillna), then fillna
r1 AS (
  SELECT name, match,
    CASE WHEN hjw > 0.6 AND hcos > 0.6 AND im IS NULL THEN 0.0 END AS keep,
    coalesce(hjw, 1.0) AS hjw, coalesce(hcos, 1.0) AS hcos,
    coalesce(im, FALSE) AS im
  FROM p0
),
-- rule 1b: cross-surname screen via the human-name parse, with the
-- positional surrogate + dictionary fallback + human-likeness override
-- + levenshtein typo guard (mirror of operators/prescreen.py)
eff AS (
  SELECT name,
    ((NOT company) OR (
        len(list_filter(string_split(clean_name, ' '),
            t -> length(t) >= 3
                 AND NOT list_contains({_duck_first_arr()}, t))) = 1
        AND len(list_filter(string_split(clean_name, ' '),
            t -> length(t) <= 2
                 OR list_contains({_duck_first_arr()}, t))) >= 1
    )) AS human_like,
    CASE WHEN len(string_split(clean_name, ' ')) >= 2
          AND len(list_filter(string_split(clean_name, ' '),
                  t -> length(t) >= 3
                       AND NOT list_contains({_duck_first_arr()}, t))) >= 1
    THEN list_extract(list_filter(string_split(clean_name, ' '),
                  t -> length(t) >= 3
                       AND NOT list_contains({_duck_first_arr()}, t)), 1)
    WHEN len(string_split(clean_name, ' ')) >= 2
          AND len(list_filter(string_split(clean_name, ' '),
                  t -> length(t) >= 3
                       AND NOT list_contains({_duck_first_arr()}, t))) = 0
          AND length(last_name) >= 3
    THEN last_name
    END AS eff_last
  FROM extracted
),
r1b AS (
  SELECT r1.name, r1.match,
    CASE WHEN r1.keep IS NULL
          AND coalesce(ea.human_like, FALSE) AND coalesce(eb.human_like, FALSE)
          AND ea.eff_last IS NOT NULL AND eb.eff_last IS NOT NULL
          AND levenshtein(ea.eff_last, eb.eff_last) > 2
         THEN 0.0 ELSE r1.keep END AS keep,
    hjw, hcos, im
  FROM r1
  LEFT JOIN eff ea ON r1.name = ea.name
  LEFT JOIN eff eb ON r1.match = eb.name
),
-- rule 2: address verification overrides
r2 AS (
  SELECT r1b.*, a.address,
    CASE WHEN a.address IS NOT NULL THEN 1.0 ELSE r1b.keep END AS keep2
  FROM r1b LEFT JOIN (SELECT * FROM {addr_vals}) a
    ON r1b.name = a.name AND r1b.match = a.match
),
-- rule 3: count features + double-count zeroing + word count
r3 AS (
  SELECT r2.*, cx.n AS raw_nx, cy.n AS raw_ny,
    least(cx.n, cy.n) AS min_n, greatest(cx.n, cy.n) AS max_n,
    coalesce(cx.n, 0) + coalesce(cy.n, 0) AS sum_n
  FROM r2
  LEFT JOIN cnt cx ON r2.name = cx.name
  LEFT JOIN cnt cy ON r2.match = cy.name
),
r3z AS (
  SELECT *,
    coalesce(CASE WHEN row_number() OVER (PARTITION BY name ORDER BY match) > 1
                  THEN 0 ELSE raw_nx END, 0) AS n_x,
    coalesce(CASE WHEN match IN (SELECT name FROM p0) THEN 0
                  WHEN row_number() OVER (PARTITION BY match ORDER BY name) > 1
                  THEN 0 ELSE raw_ny END, 0) AS n_y,
    len(regexp_extract_all(name, '\\w+')) + len(regexp_extract_all(match, '\\w+'))
      AS word_count
  FROM r3
),
-- rule 4: importance distance (thresholds from the counts table)
pts AS (
  SELECT name, match, keep2, n_x, n_y,
         CAST(min_n AS DOUBLE) AS min_n, CAST(max_n AS DOUBLE) AS max_n,
         sum_n, word_count, address, hjw, hcos, im
  FROM r3z
),
{importance.lstrip()},
-- rules 5+6: reviewed labels then prior-cluster cliques
prior_pairs AS (
  SELECT DISTINCT least(a.name, b.name) AS name, greatest(a.name, b.name) AS match
  FROM (SELECT name, group_name FROM {prior_vals}
        UNION SELECT group_name, group_name FROM {prior_vals}) a
  JOIN (SELECT name, group_name FROM {prior_vals}
        UNION SELECT group_name, group_name FROM {prior_vals}) b
    ON a.group_name = b.group_name AND a.name < b.name
)
SELECT d.name, d.match,
  coalesce(CASE WHEN pp.name IS NOT NULL THEN 1.0 END,
           coalesce(CAST(rv.keep AS DOUBLE), d.keep2)) AS keep,
  CAST(d.n_x AS BIGINT) AS n_x,
  CAST(d.n_y AS BIGINT) AS n_y,
  CAST(d.min_n AS BIGINT) AS min_n,
  CAST(d.max_n AS BIGINT) AS max_n,
  CAST(d.sum_n AS BIGINT) AS sum_n,
  CAST(d.word_count AS INT) AS word_count,
  round({DUCK_IMPORTANCE_EXPR}, 6) AS importance_dist,
  CASE WHEN pp.name IS NOT NULL THEN 1.0 END AS prior_check,
  d.address,
  round(d.hjw, 6) AS human_jw_distance,
  round(d.hcos, 6) AS human_cosine_similarity,
  d.im AS initials_match
FROM d
LEFT JOIN (SELECT * FROM {rev_vals}) rv
  ON d.name = rv.name AND d.match = rv.match
LEFT JOIN prior_pairs pp ON d.name = pp.name AND d.match = pp.match
"""


def q_review_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 review-progress summary (reference makefile:148-152 +
    name_matching_summary.Rmd): per-stage reviewed/pending/accepted/
    rejected counts over the composed pre-screen output. 'modeled' is
    gated to importance_dist == 0 (the human-review population), 'grouped'
    counts every pair — mirroring the Rmd's two styles."""
    from .operators.prescreen import review_summary

    screened = q_pre_screen_rules(spark, sf_dir)
    return review_summary([
        ("modeled", screened, True),
        ("grouped", screened, False),
    ])


def o_review_summary() -> str:
    inner = o_pre_screen_rules()
    return f"""
WITH psr AS (SELECT * FROM ({inner}) _i),
stages AS (
  SELECT 'modeled' AS stage, keep FROM psr WHERE importance_dist = 0
  UNION ALL
  SELECT 'grouped' AS stage, keep FROM psr
)
SELECT stage,
  CAST(count(*) AS BIGINT) AS n_total,
  CAST(count(keep) AS BIGINT) AS n_reviewed,
  CAST(count(*) - count(keep) AS BIGINT) AS n_pending,
  CAST(count(CASE WHEN keep = 1 THEN 1 END) AS BIGINT) AS n_accepted,
  CAST(count(CASE WHEN keep = 0 THEN 1 END) AS BIGINT) AS n_rejected
FROM stages GROUP BY stage
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "human_extract": q_human_extract,
    "human_pairs": q_human_pairs,
    "address_code": q_address_code,
    "address_pairs": q_address_pairs,
    "merge_labels": q_merge_labels,
    "clique_completion": q_clique_completion,
    "keep_rules": q_keep_rules,
    "importance_distance": q_importance_distance,
    "percentiles": q_percentiles,
    "cutoff_split": q_cutoff_split,
    "geocode_cache": q_geocode_cache,
    "pre_screen_rules": q_pre_screen_rules,
    "review_summary": q_review_summary,
}

ORACLES: dict[str, str] = {
    "human_extract": o_human_extract(),
    "human_pairs": o_human_pairs(),
    "address_code": o_address_code(),
    "address_pairs": o_address_pairs(),
    "merge_labels": o_merge_labels(),
    "clique_completion": o_clique_completion(),
    "keep_rules": o_keep_rules(),
    "importance_distance": o_importance_distance(),
    "percentiles": o_percentiles(),
    "cutoff_split": o_cutoff_split(),
    "geocode_cache": o_geocode_cache(),
    "pre_screen_rules": o_pre_screen_rules(),
    "review_summary": o_review_summary(),
}
