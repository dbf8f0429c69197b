"""Driver contract: queries() + oracle_sql() pairs.

Every implemented operator from SURVEY.md §2 gets a Spark callable
(spark, sf_dir) -> DataFrame exercising the *real* package operator, plus an
equivalent ANSI-SQL oracle that DuckDB runs on the same parquet tables.

Design rules that make the value-hash comparison exact:

- **Shared deterministic corpus**: entity-resolution queries need a
  company-name universe; the driver's tables have none. Both engines build
  the same one from `part` with identical SQL (`CORPUS_SQL` below —
  split_part/upper/substr/CASE are dialect-shared), so there is no external
  fixture to drift.
- **Cross-engine hashing**: wherever a hash is part of the semantics
  (MinHash, SimHash, fingerprints) we use the first 15 hex chars of md5 as
  an int64 — Spark `conv(substr(md5(x),1,15),16,10)` and DuckDB
  `('0x'||substr(md5(x),1,15))::BIGINT` agree bit-for-bit (verified).
- **Floats**: every double output is `round(x, 6)`; thresholds are applied
  to the rounded value on both sides (Spark HALF_UP and DuckDB round agree
  on doubles — verified).
- **Types**: counts cast to bigint, no array outputs (arrays are joined to
  strings), so schemas line up.

Small dictionary-driven operators (human names, PO boxes, label merge) use
inline VALUES fixtures embedded identically in both engines — no filesystem
reads beyond the driver's tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .constants import COMMON_WORDS, STANDALONE_WORDS, normalized_stoplist

# ---------------------------------------------------------------------------
# dialect helpers
# ---------------------------------------------------------------------------

def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _duck_arr(words) -> str:
    return "[" + ",".join(_sq(w) for w in words) + "]"


_COMMON_SORTED = normalized_stoplist(COMMON_WORDS)
_STANDALONE_SORTED = normalized_stoplist(STANDALONE_WORDS)

# md5 → int64 (identical in both engines; positive, < 2^60)
SPARK_H = "cast(conv(substr(md5({x}),1,15),16,10) as bigint)"
DUCK_H = "('0x'||substr(md5({x}),1,15))::BIGINT"


# ---------------------------------------------------------------------------
# the shared company-name corpus (dialect-portable SQL over `part`)
# ---------------------------------------------------------------------------

# Ten alias variants per part key: legal suffixes (shared-word channel),
# a typo (Jaro channel), token reversal (cosine channel), comma + common-word
# and hyphen forms (normalization edge cases). `GROUP BY name` makes (name, n)
# the name-frequency table that plays the reference's per-name lease count
# (code/matching/match_leases_names.R:41-44).
CORPUS_CTE = """
_base AS (
  SELECT p_partkey AS k,
         upper(split_part(p_name, ' ', 1)) AS w1,
         upper(split_part(p_name, ' ', 2)) AS w2
  FROM part
),
_formed AS (
  SELECT k,
    CASE CAST(k % 10 AS INT)
      WHEN 0 THEN w1 || ' ' || w2 || ' INC'
      WHEN 1 THEN w1 || ' ' || w2 || ' LLC'
      WHEN 2 THEN w1 || ' ' || w2 || ' CORP'
      WHEN 3 THEN w1 || ' ' || w2
      WHEN 4 THEN w1 || ' ' || w2 || ' OIL CO'
      WHEN 5 THEN substr(w1, 1, 2) || substr(w1, 4) || ' ' || w2 || ' INC'
      WHEN 6 THEN w1 || ' ' || w2 || ' OPERATING'
      WHEN 7 THEN w2 || ' ' || w1 || ' LTD'
      WHEN 8 THEN w1 || ' ' || w2 || ', THE'
      ELSE w1 || '-' || w2 || ' CO'
    END AS name
  FROM _formed_src
),
names AS (
  SELECT name, CAST(count(*) AS BIGINT) AS n FROM _formed GROUP BY name
)
""".replace("_formed_src", "_base")

# extra hand-picked normalization edge cases (initials compaction, all-common
# names, punctuation, É) — appended to the corpus for the normalization query
# only, identically on both sides.
EDGE_NAMES = [
    "J L MARSHALL",
    "A-1 OIL",
    "THE OIL CO",
    "J. L. MARSHALL, JR",
    "ÉNERGIE STAR",
    "A B C SMITH",
    "X Y",
    "SMITH, JOHN",
    "B-B-Q PIT OPERATING",
    "OIL GAS AND ENERGY",
    "NEW PERMIAN",
    "W  DOUBLESPACE  CO",
]

EDGE_VALUES = "(VALUES " + ",".join(f"({_sq(n)})" for n in EDGE_NAMES) + ") AS _e(name)"


def corpus_sql(extra_edges: bool = False) -> str:
    """SELECT name, n FROM the shared corpus (dialect-portable)."""
    base = f"WITH {CORPUS_CTE} SELECT name, n FROM names"
    if extra_edges:
        base += f" UNION ALL SELECT name, CAST(1 AS BIGINT) AS n FROM {EDGE_VALUES}"
    return base


def _register(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _corpus_df(spark: SparkSession, sf_dir: str, extra_edges: bool = False) -> DataFrame:
    _register(spark, sf_dir, "part")
    return spark.sql(corpus_sql(extra_edges))


# ---------------------------------------------------------------------------
# DuckDB-side normalization (mirrors functions/normalize.py semantics)
# ---------------------------------------------------------------------------

def duck_bag_cte(
    src: str,
    out: str,
    *,
    drop_common: bool = True,
    comma_to_space: bool = False,
    filter_empty: bool = False,
    human: bool = False,
) -> str:
    """DuckDB expression producing the token bag of ``src`` with get_words /
    clean_name semantics (see functions/normalize.py for the hand-traced R
    behavior being reproduced)."""
    base = f"regexp_replace({src}, ',', ' ', 'g')" if comma_to_space else src
    toks = (
        f"list_transform(string_split({base}, ' '), "
        "t -> upper(trim(regexp_replace(replace(t, 'É', 'E'), '[[:punct:]]', '', 'g'))))"
    )
    if drop_common:
        t1 = f"list_filter({toks}, t -> NOT list_contains({_duck_arr(_COMMON_SORTED)}, t))"
        t2 = f"list_filter({t1}, t -> NOT list_contains({_duck_arr(_STANDALONE_SORTED)}, t))"
        w = f"(CASE WHEN len({t2}) > 0 THEN {t2} ELSE {t1} END)"
    elif filter_empty:
        w = f"list_filter({toks}, t -> t <> '' AND t <> ' ')"
    else:
        w = toks
    sep = "" if human else "-"
    letters = (
        f"regexp_replace(array_to_string(list_transform({w}, "
        f"x -> CASE WHEN length(x) > 1 THEN '' ELSE x END), '{sep}'), '--', ' ', 'g')"
    )
    parts = (
        f"(CASE WHEN {letters} = '' THEN []::VARCHAR[] "
        f"ELSE string_split({letters}, ' ') END)"
    )
    if human:
        fparts = (
            f"list_filter({parts}, p -> "
            "length(p) - length(replace(p, '-', '')) < 2 OR length(p) > 3)"
        )
    else:
        fparts = (
            f"list_filter({parts}, p -> length(p) >= 3 AND "
            "(length(p) - length(replace(p, '-', '')) < 2 OR length(p) > 3))"
        )
    # COALESCEs: DuckDB's array_to_string/regexp_replace return NULL on
    # empty-list inputs in some paths; Spark's concat_ws never does.
    return (
        f"list_concat(list_filter({w}, x -> length(x) <> 1), "
        f"coalesce({fparts}, []::VARCHAR[])) AS {out}"
    )


def duck_clean_expr(src: str, out: str, *, drop_common: bool, human: bool = False) -> str:
    bag = duck_bag_cte(
        src,
        "_b",
        drop_common=drop_common,
        comma_to_space=True,
        filter_empty=not drop_common,
        human=human,
    )
    inner = bag[: -len(" AS _b")]
    return f"coalesce(array_to_string({inner}, ' '), '') AS {out}"


# names + clean_name + bag, as a DuckDB CTE chain reused by most oracles
def duck_prepped_cte(extra_edges: bool = False) -> str:
    """CTE text: names(name,n) → prepped(name, clean_name, bag_clean,
    bag_shared) mirroring pipeline.prepare_names."""
    corpus = CORPUS_CTE
    edge = (
        f" UNION ALL SELECT name, CAST(1 AS BIGINT) AS n FROM {EDGE_VALUES}"
        if extra_edges
        else ""
    )
    return f"""
{corpus},
names_all AS (
  SELECT name, n FROM names{edge}
),
prepped0 AS (
  SELECT name,
         {duck_clean_expr("name", "clean_name", drop_common=True)},
         {duck_bag_cte("name", "bag_shared", drop_common=True, comma_to_space=False)}
  FROM (SELECT DISTINCT name FROM names_all)
),
prepped AS (
  SELECT name, clean_name,
         CASE WHEN clean_name = '' THEN []::VARCHAR[]
              ELSE string_split(clean_name, ' ') END AS bag_clean,
         bag_shared
  FROM prepped0
)
"""


# ---------------------------------------------------------------------------
# Spark-side prepped corpus (the real operators)
# ---------------------------------------------------------------------------

def _spark_prepped(spark: SparkSession, sf_dir: str, extra_edges: bool = False) -> DataFrame:
    from .pipeline import prepare_names
    from .session import materialize

    # materialized: every downstream query self-joins the prepped corpus
    return materialize(
        prepare_names(_corpus_df(spark, sf_dir, extra_edges).select("name"))
    )


# ===========================================================================
# queries
# ===========================================================================

def q_names_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + groupBy count (SURVEY §2.1/§2.5): the name-frequency table."""
    return _corpus_df(spark, sf_dir)


def o_names_universe() -> str:
    return corpus_sql()


def q_clean_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 normalization hot path (SQL-only clean_name, drop_common=True)."""
    from .functions.normalize import with_clean_name

    df = _corpus_df(spark, sf_dir, extra_edges=True).select("name").distinct()
    return with_clean_name(df, "name", "clean_name", drop_common=True)


def o_clean_name() -> str:
    return f"""
WITH {duck_prepped_cte(extra_edges=True)}
SELECT name, clean_name FROM prepped
"""


def q_word_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 get_words token bags, exploded with position (order-preserving)."""
    from .functions.normalize import with_word_bag

    df = _corpus_df(spark, sf_dir, extra_edges=True).select("name").distinct()
    df = with_word_bag(df, "name", "bag", drop_common=True, comma_to_space=False)
    return df.select(
        "name", F.posexplode("bag").alias("pos", "token")
    ).select("name", F.col("pos").cast("bigint").alias("pos"), "token")


def o_word_bag() -> str:
    # DuckDB zips parallel unnests of equal length in one SELECT
    return f"""
WITH {duck_prepped_cte(extra_edges=True)}
SELECT name,
       CAST(unnest(generate_series(1, len(bag_shared))) - 1 AS BIGINT) AS pos,
       unnest(bag_shared) AS token
FROM prepped
"""


def q_shared_word_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 1: inverted-index equi-join pair generation + shared count."""
    from .operators.blocking import shared_word_pairs

    prepped = _spark_prepped(spark, sf_dir)
    scored = shared_word_pairs(prepped, "bag_shared", max_block=1_000_000)
    return scored.select(
        "name", "match", F.col("shared_words").cast("bigint").alias("shared_words")
    )


def q_shared_word_pairs_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 skew path: the SAME pair semantics under a deliberately tiny
    block cap (50) — the sf0.01 corpus has Zipf-hot first tokens, so this
    genuinely routes blocks through cap-and-split with replicated
    boundaries. Hash-equality against the unsplit oracle is the
    cross-engine proof that splitting loses and duplicates nothing."""
    from .operators.blocking import shared_word_pairs

    prepped = _spark_prepped(spark, sf_dir)
    scored = shared_word_pairs(prepped, "bag_shared", max_block=50)
    return scored.select(
        "name", "match", F.col("shared_words").cast("bigint").alias("shared_words")
    )


def o_shared_word_pairs() -> str:
    return f"""
WITH {duck_prepped_cte()},
idx AS (
  SELECT DISTINCT name, token FROM (
    SELECT name, unnest(bag_shared) AS token FROM prepped
  ) WHERE token <> ''
)
SELECT a.name AS name, b.name AS match, CAST(count(*) AS BIGINT) AS shared_words
FROM idx a JOIN idx b ON a.token = b.token AND a.name < b.name
GROUP BY a.name, b.name
"""


def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 3: sparse tf-idf cosine ≥ 0.4 via shared-token join."""
    from .operators.tfidf import tfidf_cosine_pairs

    prepped = _spark_prepped(spark, sf_dir).where(F.col("clean_name") != "")
    out = tfidf_cosine_pairs(prepped, "bag_clean", threshold=-1.0)
    return out.withColumn(
        "cosine_similarity", F.round("cosine_similarity", 6)
    ).where(F.col("cosine_similarity") >= 0.4)


def o_tfidf_cosine() -> str:
    return f"""
WITH {duck_prepped_cte()},
nonempty AS (SELECT * FROM prepped WHERE clean_name <> ''),
toks AS (
  SELECT name, token FROM (
    SELECT name, unnest(bag_clean) AS token FROM nonempty
  ) WHERE token <> ''
),
counts AS (SELECT name, token, count(*) AS cnt FROM toks GROUP BY name, token),
nn AS (SELECT count(DISTINCT name) AS n_names FROM nonempty),
docfreq AS (SELECT token, count(*) AS df FROM counts GROUP BY token),
w AS (
  SELECT c.name, c.token, c.cnt * ln(1 + nn.n_names / df.df) AS w
  FROM counts c, nn JOIN docfreq df ON c.token = df.token
),
norms AS (SELECT name, sqrt(sum(w * w)) AS nrm FROM w GROUP BY name),
pairs AS (
  SELECT a.name AS name, b.name AS match, sum(a.w * b.w) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.name < b.name
  GROUP BY a.name, b.name
)
SELECT p.name, p.match,
       round(p.dot / na.nrm / nb.nrm, 6) AS cosine_similarity
FROM pairs p
JOIN norms na ON p.name = na.name
JOIN norms nb ON p.match = nb.name
WHERE round(p.dot / na.nrm / nb.nrm, 6) >= 0.4
"""


def q_jaro_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 2: first-token-blocked pairs scored with the vectorized
    pandas-UDF Jaro kernel (p=0 parity), threshold 0.15."""
    from .operators.blocking import first_token_key, pairs_from_index
    from .operators.pairs import score_pairs

    prepped = _spark_prepped(spark, sf_dir).where(F.col("clean_name") != "")
    idx = first_token_key(prepped, "bag_clean", out="bkey").select("name", "bkey")
    pairs = pairs_from_index(idx, "bkey", max_block=1_000_000)
    cand = (
        pairs.select("name", "match")
        .distinct()
        .join(prepped.select("name", F.col("clean_name").alias("ca")), "name")
        .join(
            prepped.select(F.col("name").alias("match"), F.col("clean_name").alias("cb")),
            "match",
        )
    )
    scored = score_pairs(cand, [("jw_distance", "jaro_distance", "ca", "cb")])
    return (
        scored.withColumn("jw_distance", F.round("jw_distance", 6))
        .where(F.col("jw_distance") <= 0.15)
        .select("name", "match", "jw_distance")
    )


def o_jaro_pairs() -> str:
    return f"""
WITH {duck_prepped_cte()},
nonempty AS (SELECT * FROM prepped WHERE clean_name <> ''),
keyed AS (
  SELECT name, clean_name, bag_clean[1] AS bkey FROM nonempty
  WHERE len(bag_clean) > 0 AND bag_clean[1] <> ''
)
SELECT a.name AS name, b.name AS match,
       round(1 - jaro_similarity(a.clean_name, b.clean_name), 6) AS jw_distance
FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.name < b.name
WHERE round(1 - jaro_similarity(a.clean_name, b.clean_name), 6) <= 0.15
"""


# ---------------------------------------------------------------------------
# MinHash-LSH band keys (md5-based, cross-engine exact)
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 31) - 1
_MH_HASHES = 8
_MH_BANDS = 4


def _mh_coeffs() -> list[tuple[int, int]]:
    import random

    rng = random.Random(20260816)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(_MH_HASHES)
    ]


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.3.3 MinHash-LSH banding over token bags (north-star blocking
    channel), md5-hash variant so the oracle can reproduce it exactly."""
    prepped = _spark_prepped(spark, sf_dir).where(F.size("bag_clean") > 0)
    h = SPARK_H.format(x="t")
    sig_exprs = [
        f"aggregate(bag_clean, CAST({_MERSENNE} AS BIGINT), "
        f"(acc, t) -> least(acc, ({a}L * ({h} % {_MERSENNE}L) + {b}L) % {_MERSENNE}L))"
        for a, b in _mh_coeffs()
    ]
    df = prepped.withColumn("_sig", F.expr("array(" + ",".join(sig_exprs) + ")"))
    rows_per_band = _MH_HASHES // _MH_BANDS
    bands = ",".join(
        f"named_struct('band', {bi}, 'band_key', "
        f"concat_ws('-', slice(_sig, {bi * rows_per_band + 1}, {rows_per_band})))"
        for bi in range(_MH_BANDS)
    )
    return (
        df.withColumn("_b", F.explode(F.expr(f"array({bands})")))
        .select(
            "name",
            F.col("_b.band").cast("bigint").alias("band"),
            F.col("_b.band_key").alias("band_key"),
        )
    )


def o_minhash_bands() -> str:
    h = DUCK_H.format(x="t")
    sig_exprs = [
        f"list_min(list_transform(bag_clean, "
        f"t -> ({a} * ({h} % {_MERSENNE}) + {b}) % {_MERSENNE}))"
        for a, b in _mh_coeffs()
    ]
    rows_per_band = _MH_HASHES // _MH_BANDS
    band_rows = []
    for bi in range(_MH_BANDS):
        lo = bi * rows_per_band
        key = " || '-' || ".join(
            f"CAST(sig[{lo + j + 1}] AS VARCHAR)" for j in range(rows_per_band)
        )
        band_rows.append(
            f"SELECT name, CAST({bi} AS BIGINT) AS band, {key} AS band_key FROM sigs"
        )
    return f"""
WITH {duck_prepped_cte()},
sigs AS (
  SELECT name, [{",".join(sig_exprs)}] AS sig
  FROM prepped WHERE len(bag_clean) > 0
)
{" UNION ALL ".join(band_rows)}
"""


# ---------------------------------------------------------------------------
# connected components + group naming
# ---------------------------------------------------------------------------

EDGE_SQL = """
SELECT CAST(p_partkey AS BIGINT) AS u,
       CAST(p_partkey - (p_partkey % 8) AS BIGINT) AS v
FROM part
UNION ALL
SELECT CAST(p_partkey AS BIGINT) AS u,
       CAST(p_partkey - (p_partkey % 12) AS BIGINT) AS v
FROM part
"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: iterative large-star/small-star CC (the custom distributed
    algorithm) on a deterministic chain graph over part keys."""
    from .operators.cc import connected_components

    _register(spark, sf_dir, "part")
    edges = spark.sql(EDGE_SQL)
    return connected_components(edges, "u", "v").select(
        F.col("name").alias("node"), F.col("component")
    )


def o_connected_components() -> str:
    return f"""
WITH RECURSIVE edges AS (
  SELECT u, v FROM ({EDGE_SQL}) WHERE u <> v
),
sym AS MATERIALIZED (
  SELECT u, v FROM edges UNION SELECT v, u FROM edges
),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m
)
SELECT n AS node, min(m) AS component FROM reach GROUP BY n
"""


def q_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 group naming: CC over shared_words≥2 edges → (name, cluster,
    group_name), cluster = dense_rank, rows where group_name != name."""
    from .operators.blocking import shared_word_pairs
    from .operators.cc import name_clusters

    prepped = _spark_prepped(spark, sf_dir)
    scored = shared_word_pairs(prepped, "bag_shared", max_block=1_000_000)
    edges = scored.where(F.col("shared_words") >= 2)
    return name_clusters(edges.select("name", "match")).select(
        "name", F.col("cluster").cast("bigint").alias("cluster"), "group_name"
    )


def o_name_clusters() -> str:
    return f"""
WITH RECURSIVE {duck_prepped_cte()},
idx AS (
  SELECT DISTINCT name, token FROM (
    SELECT name, unnest(bag_shared) AS token FROM prepped
  ) WHERE token <> ''
),
pairs AS (
  SELECT a.name AS name, b.name AS match, count(*) AS shared_words
  FROM idx a JOIN idx b ON a.token = b.token AND a.name < b.name
  GROUP BY a.name, b.name
  HAVING count(*) >= 2
),
sym AS MATERIALIZED (
  SELECT name AS u, match AS v FROM pairs
  UNION SELECT match, name FROM pairs
),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m
),
comp AS (SELECT n AS name, min(m) AS group_name FROM reach GROUP BY n),
ranked AS (
  SELECT group_name, CAST(dense_rank() OVER (ORDER BY group_name) AS BIGINT) AS cluster
  FROM (SELECT DISTINCT group_name FROM comp)
)
SELECT c.name, r.cluster, c.group_name
FROM comp c JOIN ranked r ON c.group_name = r.group_name
WHERE c.name <> c.group_name
"""


# ===========================================================================
# registry (extended by contract_human/contract_extras)
# ===========================================================================

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end minimum slice (SURVEY §7.0): corpus → span documents →
    extract → match channels → threshold accept → CC → clusters."""
    from .operators.cc import name_clusters
    from .operators.extract import extract_names
    from .pipeline import match_names

    corpus = _corpus_df(spark, sf_dir)
    # interleaved text+media documents per the input_hint shape
    docs = corpus.select(
        F.concat(F.lit("doc-"), F.md5("name")).alias("doc_id"),
        F.expr(
            "array("
            "named_struct('kind', 'media', 'text', CAST(NULL AS STRING),"
            " 'media_ref', concat('media://blob/', md5(name)), 'offset', 0),"
            "named_struct('kind', 'text', 'text', name,"
            " 'media_ref', CAST(NULL AS STRING), 'offset', 1))"
        ).alias("spans"),
    )
    names = extract_names(docs)
    mm = match_names(names.select("name"))
    accepted = mm.master.where(
        (F.col("jw_distance") <= 0.15)
        | (F.col("cosine_similarity") >= 0.4)
        | (F.col("shared_words") >= 2)
    )
    return name_clusters(accepted.select("name", "match"))


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = dict(QUERIES)
    for mod in _extension_modules():
        out.update(mod.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out = dict(ORACLES)
    for mod in _extension_modules():
        out.update(mod.ORACLES)
    return out


def _extension_modules():
    mods = []
    for name in ("contract_human", "contract_extras"):
        try:
            import importlib

            mods.append(importlib.import_module(f".{name}", __package__))
        except ImportError:
            pass
    return mods


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "names_universe": q_names_universe,
    "clean_name": q_clean_name,
    "word_bag": q_word_bag,
    "shared_word_pairs": q_shared_word_pairs,
    "shared_word_pairs_split": q_shared_word_pairs_split,
    "tfidf_cosine": q_tfidf_cosine,
    "jaro_pairs": q_jaro_pairs,
    "minhash_bands": q_minhash_bands,
    "connected_components": q_connected_components,
    "name_clusters": q_name_clusters,
}

ORACLES: dict[str, str] = {
    "names_universe": o_names_universe(),
    "clean_name": o_clean_name(),
    "word_bag": o_word_bag(),
    "shared_word_pairs": o_shared_word_pairs(),
    "shared_word_pairs_split": o_shared_word_pairs(),
    "tfidf_cosine": o_tfidf_cosine(),
    "jaro_pairs": o_jaro_pairs(),
    "minhash_bands": o_minhash_bands(),
    "connected_components": o_connected_components(),
    "name_clusters": o_name_clusters(),
}
