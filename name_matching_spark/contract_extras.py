"""Contract batch 3: training-data pipeline operators over the driver's
documents/embeddings tables — dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard), similarity search (brute-force + RP-LSH ANN), text
analysis (language ID, quality, token counts, fingerprints), span
extraction, and the Monge-Elkan token similarity scorer.

Near-dup inputs are built by unioning the documents table with perturbed
copies of itself *in the query* (identically in both engines) — the driver
corpus has no natural duplicates, and an in-SQL injection keeps the oracle
self-contained.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .contract import DUCK_H, _register, duck_prepped_cte
from .operators.dedup import _MERSENNE
from .operators.textstats import LANG_PROFILES, STOPWORDS_EN

# ---------------------------------------------------------------------------
# dup-injected documents (shared SQL, both engines)
# ---------------------------------------------------------------------------

# exact copy at +100000; near copy (first word dropped) at +200000
DUP_DOCS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id + 200000 AS doc_id,
       substr(text, strpos(text, ' ') + 1) AS text
FROM documents WHERE doc_id % 7 = 0
"""

SPARK_DUP_DOCS_SQL = DUP_DOCS_SQL.replace("strpos(text, ' ')", "locate(' ', text)")


def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "documents")
    return spark.sql(SPARK_DUP_DOCS_SQL)


def _duck_toks(text: str = "text") -> str:
    return f"list_filter(string_split({text}, ' '), t -> t <> '')"


def _duck_shingles(n: int, text: str = "text") -> str:
    toks = _duck_toks(text)
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 hash-groupBy, canonical keeper = min doc_id."""
    from .operators.dedup import exact_duplicates

    return exact_duplicates(_dup_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("group_size").cast("bigint").alias("group_size"),
    )


def o_dedup_exact() -> str:
    return f"""
WITH d AS ({DUP_DOCS_SQL}),
h AS (SELECT doc_id, coalesce(md5(text), '__null_text__') AS th FROM d),
g AS (SELECT th, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS group_size
      FROM h GROUP BY th)
SELECT h.doc_id, g.keep_id, g.group_size FROM h JOIN g ON h.th = g.th
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (shared-shingle inverted index)."""
    from .operators.dedup import ngram_jaccard_pairs

    pairs, _ = ngram_jaccard_pairs(
        _dup_docs(spark, sf_dir), threshold=-1.0, n=3
    )
    return (
        pairs.withColumn("jaccard", F.round("jaccard", 6))
        .where(F.col("jaccard") >= 0.5)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            "jaccard",
        )
    )


def o_dedup_jaccard() -> str:
    return f"""
WITH d AS ({DUP_DOCS_SQL}),
sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id, unnest({_duck_shingles(3)}) AS shingle FROM d
  )
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b,
       round(i.shared / (sa.n_sh + sb.n_sh - i.shared), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.id
JOIN sizes sb ON i.id_b = sb.id
WHERE round(i.shared / (sa.n_sh + sb.n_sh - i.shared), 6) >= 0.5
"""


_MH_SEED = 20260816


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (md5-hash variant, 16 hashes,
    4 bands)."""
    from .operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _dup_docs(spark, sf_dir), num_hashes=16, bands=4, seed=_MH_SEED
    ).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("n_bands").cast("bigint").alias("n_bands"),
    )


def o_dedup_minhash() -> str:
    import random

    rng = random.Random(_MH_SEED)
    h = DUCK_H.format(x="t")
    sig_exprs = []
    for _ in range(16):
        a = rng.randrange(1, _MERSENNE)
        b = rng.randrange(0, _MERSENNE)
        sig_exprs.append(
            f"list_min(list_transform({_duck_toks()}, "
            f"t -> ({a} * ({h} % {_MERSENNE}) + {b}) % {_MERSENNE}))"
        )
    rows = 4
    band_selects = []
    for bi in range(4):
        lo = bi * rows
        key = " || '-' || ".join(f"CAST(sig[{lo + j + 1}] AS VARCHAR)" for j in range(rows))
        band_selects.append(
            f"SELECT id, {bi} AS band, {key} AS key FROM sigs"
        )
    return f"""
WITH d AS ({DUP_DOCS_SQL}),
sigs AS (
  SELECT doc_id AS id, [{",".join(sig_exprs)}] AS sig
  FROM d WHERE len({_duck_toks()}) > 0
),
keyed AS ({" UNION ALL ".join(band_selects)})
SELECT a.id AS id_a, b.id AS id_b, CAST(count(DISTINCT a.band) AS BIGINT) AS n_bands
FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key AND a.id < b.id
GROUP BY a.id, b.id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash fingerprints (bit-majority over token hashes)."""
    from .operators.dedup import simhash

    return simhash(_dup_docs(spark, sf_dir), bits=48).select(
        F.col("id").cast("bigint").alias("id"), "simhash"
    )


def o_dedup_simhash() -> str:
    h = DUCK_H.format(x="tok")
    return f"""
WITH d AS ({DUP_DOCS_SQL}),
t AS (
  SELECT doc_id AS id, {h} AS hh FROM (
    SELECT doc_id, unnest({_duck_toks()}) AS tok FROM d
  )
),
votes AS (
  SELECT id, j.j, CASE WHEN (hh >> j.j) & 1 = 1 THEN 1 ELSE -1 END AS v
  FROM t CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS j) j
),
bit_sums AS (SELECT id, j, sum(v) AS s FROM votes GROUP BY id, j)
SELECT id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
FROM bit_sums GROUP BY id
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-blocked Hamming ≤ 6 SimHash near-dup pairs."""
    from .operators.dedup import simhash, simhash_near_pairs

    sims = simhash(_dup_docs(spark, sf_dir), bits=48)
    return simhash_near_pairs(sims, bits=48, bands=4, max_hamming=6).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )


def o_simhash_pairs() -> str:
    sim = o_dedup_simhash().strip()
    # mirrors the operator's widened banding: max_hamming=6 needs ≥ 7
    # bands for the pigeonhole guarantee → 8 bands of width 6 over 48 bits
    width = 6
    mask = (1 << width) - 1
    bands = ",".join(
        f"({bi}, {bi * width})" for bi in range(8)
    )
    return f"""
WITH sims AS ({sim}),
bands(band, shift) AS (VALUES {bands}),
keyed AS (
  SELECT s.id, s.simhash, b.band, (s.simhash >> b.shift) & {mask} AS key
  FROM sims s CROSS JOIN bands b
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key AND a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_DIM = 64


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 20."""
    from .operators.similarity import cosine_topk

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return cosine_topk(emb, queries, k=5).select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )


_DUCK_DOT = (
    "list_reduce(list_transform(generate_series(1, {d}), i -> {a}[i] * {b}[i]), "
    "(x, y) -> x + y)"
)


def o_embedding_topk() -> str:
    dot = _DUCK_DOT.format(d=_DIM, a="q.u", b="n.u")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
unit AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt({_DUCK_DOT.format(d=_DIM, a="v", b="v")})) AS u
  FROM e
  WHERE sqrt({_DUCK_DOT.format(d=_DIM, a="v", b="v")}) > 0
),
q AS (SELECT vec_id AS query_id, u FROM unit WHERE vec_id < 20),
n AS (SELECT vec_id AS neighbor_id, u FROM unit),
dots AS (
  SELECT q.query_id, n.neighbor_id, round({dot}, 5) AS cosine
  FROM q CROSS JOIN n WHERE q.query_id <> n.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM dots
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RP-LSH sign-pattern buckets (deterministic rational hyperplanes)."""
    from .operators.similarity import rp_lsh_buckets

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return rp_lsh_buckets(emb, planes=12, dim=_DIM).select(
        F.col("id").cast("bigint").alias("id"), "bucket"
    )


def o_ann_buckets() -> str:
    # the SAME md5-derived literal coefficients the Spark side bakes in
    # (similarity.hyperplane_coeffs) — one source of truth, two dialects
    from .operators.similarity import hyperplane_coeffs

    plane_dots = []
    for p in range(12):
        cs = hyperplane_coeffs(p, _DIM)
        arr = "[" + ",".join(f"{c}::DOUBLE" for c in cs) + "]"
        dot = (
            f"list_reduce(list_transform(generate_series(1, {_DIM}), "
            f"i -> embedding[i]::DOUBLE * ({arr})[i]), "
            "(x, y) -> x + y)"
        )
        plane_dots.append(
            f"(CASE WHEN round({dot}, 6) >= 0 THEN (1::BIGINT << {p}) ELSE 0 END)"
        )
    return f"""
SELECT vec_id AS id, {" + ".join(plane_dots)} AS bucket
FROM embeddings
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse quantizer, 2-probe cell search,
    exact re-rank inside cells (the scale path beside RP-LSH)."""
    from .operators.similarity import ivf_topk

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=2).select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )


def o_ivf_topk() -> str:
    unit_dot = _DUCK_DOT.format(d=_DIM, a="v", b="v")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
unit AS (
  SELECT vec_id AS id,
         list_transform(v, x -> x / sqrt({unit_dot})) AS u
  FROM e WHERE sqrt({unit_dot}) > 0
),
cents AS (
  -- hash-ordered deterministic sample (mirrors ivf_assign: smallest
  -- md5-int64 of id -- robust to non-dense id spaces)
  SELECT id AS cid, u AS cu FROM unit
  ORDER BY ('0x'||substr(md5(id::VARCHAR),1,15))::BIGINT, id LIMIT 16
),
assigned AS (
  SELECT id, cell, u FROM (
    SELECT un.id, c.cid AS cell, un.u,
           row_number() OVER (
             PARTITION BY un.id
             ORDER BY round({_DUCK_DOT.format(d=_DIM, a="un.u", b="c.cu")}, 6) DESC,
                      c.cid ASC) AS rk
    FROM unit un CROSS JOIN cents c
  ) WHERE rk = 1
),
probes AS (
  SELECT query_id, qu, cell FROM (
    SELECT un.id AS query_id, un.u AS qu, c.cid AS cell,
           row_number() OVER (
             PARTITION BY un.id
             ORDER BY round({_DUCK_DOT.format(d=_DIM, a="un.u", b="c.cu")}, 6) DESC,
                      c.cid ASC) AS rk
    FROM unit un CROSS JOIN cents c
    WHERE un.id < 20
  ) WHERE rk <= 2
),
cand AS (
  SELECT p.query_id, a.id AS neighbor_id,
         round({_DUCK_DOT.format(d=_DIM, a="p.qu", b="a.u")}, 5) AS cosine
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE p.query_id <> a.id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
) WHERE rank <= 5
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated per-language sampling (training-mix
    curation): en 50%, de/es 25%, fr 10%, zh dropped (default rate 0)."""
    from .operators.textstats import stratified_sample

    _register(spark, sf_dir, "documents")
    out = stratified_sample(
        spark.table("documents"), _SAMPLE_RATES, default_rate=0.0, seed=7
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )


def o_stratified_sample() -> str:
    h = DUCK_H.format(x="'7' || ':' || CAST(doc_id AS VARCHAR)")
    rate = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items()))
        + " ELSE 0.0 END"
    )
    return f"""
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE ({h}) % 1000000 < ({rate}) * 1000000
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: IVF cells → within-cell cosine ≥ τ to
    a lower id ⇒ duplicate of the closest predecessor (keep-first)."""
    from .operators.dedup import semantic_dedup

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return semantic_dedup(emb, threshold=0.35, n_centroids=16).select(
        F.col("id").cast("bigint").alias("id"),
        F.col("cell").cast("bigint").alias("cell"),
        "keep",
        F.col("dup_of").cast("double").alias("dup_of"),
        "cosine",
    )


def o_semantic_dedup() -> str:
    unit_dot = _DUCK_DOT.format(d=_DIM, a="v", b="v")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
),
unit AS (
  SELECT vec_id AS id,
         list_transform(v, x -> x / sqrt({unit_dot})) AS u
  FROM e WHERE sqrt({unit_dot}) > 0
),
cents AS (
  -- hash-ordered deterministic sample (mirrors ivf_assign: smallest
  -- md5-int64 of id -- robust to non-dense id spaces)
  SELECT id AS cid, u AS cu FROM unit
  ORDER BY ('0x'||substr(md5(id::VARCHAR),1,15))::BIGINT, id LIMIT 16
),
assigned AS (
  SELECT id, cell, u FROM (
    SELECT un.id, c.cid AS cell, un.u,
           row_number() OVER (
             PARTITION BY un.id
             ORDER BY round({_DUCK_DOT.format(d=_DIM, a="un.u", b="c.cu")}, 6) DESC,
                      c.cid ASC) AS rk
    FROM unit un CROSS JOIN cents c
  ) WHERE rk = 1
),
hits AS (
  SELECT a.id, b.id AS prev_id,
         round({_DUCK_DOT.format(d=_DIM, a="a.u", b="b.u")}, 5) AS cosine
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.id < a.id
  WHERE round({_DUCK_DOT.format(d=_DIM, a="a.u", b="b.u")}, 5) >= 0.35
),
best AS (
  SELECT id, prev_id AS dup_of, cosine FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY cosine DESC, prev_id ASC) AS rk
    FROM hits
  ) WHERE rk = 1
)
SELECT a.id, a.cell, (b.id IS NULL) AS keep,
       CAST(b.dup_of AS DOUBLE) AS dup_of, b.cosine
FROM assigned a LEFT JOIN best b ON a.id = b.id
UNION ALL
-- zero-norm vectors: outside the unit space, kept with NULL annotations
-- (mirrors semantic_dedup's one-row-per-input completeness arm)
SELECT vec_id AS id, NULL::BIGINT AS cell, TRUE AS keep,
       NULL::DOUBLE AS dup_of, NULL::DOUBLE AS cosine
FROM e WHERE sqrt({unit_dot}) = 0
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import token_counts

    _register(spark, sf_dir, "documents")
    return token_counts(spark.table("documents"))


def o_token_counts() -> str:
    return f"""
SELECT doc_id,
  CAST(len({_duck_toks()}) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS bpe_ish_tokens,
  CAST(length(text) AS BIGINT) AS chars
FROM documents
"""


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import quality_scores

    _register(spark, sf_dir, "documents")
    return quality_scores(spark.table("documents"))


def o_quality() -> str:
    stop = "[" + ",".join(f"'{w}'" for w in STOPWORDS_EN) + "]"
    toks = _duck_toks()
    return f"""
WITH d AS (
  SELECT doc_id, text,
    len({toks}) AS n,
    list_reduce(list_prepend(0, list_transform({toks}, t -> length(t))), (a, b) -> a + b) AS len_sum,
    len(list_filter({toks}, t -> list_contains({stop}, lower(t)))) AS stop,
    len(regexp_extract_all(text, '[^\\w\\s]')) AS punct
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(n AS BIGINT) AS n_tokens,
    round(CASE WHEN n > 0 THEN len_sum / n ELSE 0.0 END, 6) AS avg_token_len,
    round(CASE WHEN length(text) > 0 THEN punct / length(text) ELSE 0.0 END, 6) AS punct_ratio,
    round(CASE WHEN n > 0 THEN stop / n ELSE 0.0 END, 6) AS stopword_ratio
  FROM d
)
SELECT *,
  round((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
      + (CASE WHEN avg_token_len >= 2 AND avg_token_len <= 12 THEN 0.3 ELSE 0.0 END)
      + (CASE WHEN stopword_ratio >= 0.01 THEN 0.2 ELSE 0.0 END)
      + (CASE WHEN punct_ratio <= 0.2 THEN 0.1 ELSE 0.0 END), 6) AS quality
FROM m
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import language_id

    _register(spark, sf_dir, "documents")
    return language_id(spark.table("documents"))


def o_lang_id() -> str:
    toks = _duck_toks("lower(text)")
    hit_cols = []
    for lang, ws in sorted(LANG_PROFILES.items()):
        if lang == "zh":
            # CJK character ratio (mirrors language_id: unsegmented Chinese
            # has no whitespace tokens for a stopword profile to hit)
            hit_cols.append(
                "CASE WHEN length(text) > 0 THEN "
                "round(length(regexp_replace(text, '[^一-鿿]', '', 'g')) "
                "/ length(text), 6) ELSE 0.0 END AS s_zh"
            )
            continue
        arr = "[" + ",".join(f"'{w}'" for w in ws) + "]"
        hit_cols.append(
            f"CASE WHEN len({toks}) > 0 THEN "
            f"round(len(list_filter({toks}, t -> list_contains({arr}, t))) / len({toks}), 6) "
            f"ELSE 0.0 END AS s_{lang}"
        )
    langs = sorted(LANG_PROFILES)
    # argmax with lexicographic tie-break = first lang (sorted) that is >= all
    pred_cases = []
    for lang in langs:
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        pred_cases.append(f"WHEN {conds} THEN '{lang}'")
    score_cases = " ".join(
        f"WHEN pred_lang = '{lang}' THEN s_{lang}" for lang in langs
    )
    return f"""
WITH s AS (SELECT doc_id, {", ".join(hit_cols)} FROM documents),
p AS (SELECT *, CASE {" ".join(pred_cases)} END AS pred_lang FROM s),
p2 AS (SELECT doc_id, pred_lang, CASE {score_cases} END AS lang_score FROM p)
SELECT doc_id,
       CASE WHEN lang_score > 0.0 THEN pred_lang ELSE 'und' END AS pred_lang,
       lang_score FROM p2
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import fingerprints

    _register(spark, sf_dir, "documents")
    return fingerprints(spark.table("documents"), n=4, mod=8)


def o_fingerprints() -> str:
    h = DUCK_H.format(x="shingle")
    return f"""
SELECT DISTINCT doc_id, fp FROM (
  SELECT doc_id, {h} AS fp FROM (
    SELECT doc_id, unnest({_duck_shingles(4)}) AS shingle FROM documents
  )
) WHERE fp % 8 = 0
"""


# ---------------------------------------------------------------------------
# span extraction (constructed interleaved spans, both engines)
# ---------------------------------------------------------------------------

def q_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint span plumbing: build interleaved text/media spans from
    the documents table, extract text spans preserving order (§2.12
    mapInPandas path is exercised in tests; here the Catalyst explode)."""
    _register(spark, sf_dir, "documents")
    docs = spark.sql(
        """
        SELECT doc_id,
          transform(slice(filter(split(text, ' '), t -> t <> ''), 1, 6),
            (w, i) -> named_struct(
              'kind', IF(i % 3 = 2, 'media', 'text'),
              'text', IF(i % 3 = 2, CAST(NULL AS STRING), w),
              'media_ref', IF(i % 3 = 2, concat('m://', w), CAST(NULL AS STRING)),
              'offset', i)) AS spans
        FROM documents
        """
    )
    return (
        docs.select("doc_id", F.posexplode("spans").alias("pos", "s"))
        .where(F.col("s.kind") == "text")
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("span_index"),
            F.col("s.text").alias("name"),
        )
    )


def o_span_extract() -> str:
    toks = _duck_toks()
    return f"""
WITH sp AS (
  SELECT doc_id,
         unnest(generate_series(1, least(len({toks}), 6))) - 1 AS pos,
         unnest(list_slice({toks}, 1, 6)) AS w
  FROM documents
)
SELECT doc_id, CAST(pos AS BIGINT) AS span_index, w AS name
FROM sp WHERE pos % 3 <> 2
"""


# ---------------------------------------------------------------------------
# Monge-Elkan token similarity (ER scorer, §pairs.token_set_similarity)
# ---------------------------------------------------------------------------

def q_token_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric Monge-Elkan token-set similarity over shared-word pairs."""
    from .contract import _spark_prepped
    from .operators.blocking import shared_word_pairs
    from .operators.pairs import token_set_similarity

    prepped = _spark_prepped(spark, sf_dir)
    pairs = shared_word_pairs(prepped, "bag_shared", max_block=1_000_000)
    out = token_set_similarity(
        pairs.select("name", "match"),
        prepped.select("name", F.col("bag_clean").alias("bag")),
        bag_col="bag",
        out="token_sim",
    )
    return out.where(F.col("token_sim").isNotNull()).select(
        "name", "match", F.round("token_sim", 6).alias("token_sim")
    )


def o_token_sim() -> str:
    return f"""
WITH {duck_prepped_cte()},
idx AS (
  SELECT DISTINCT name, token FROM (
    SELECT name, unnest(bag_shared) AS token FROM prepped
  ) WHERE token <> ''
),
pairs AS (
  SELECT a.name AS name, b.name AS match
  FROM idx a JOIN idx b ON a.token = b.token AND a.name < b.name
  GROUP BY a.name, b.name
),
ta AS (
  SELECT p.name, p.match, t.tok_a FROM pairs p
  JOIN (SELECT name, unnest(bag_clean) AS tok_a FROM prepped) t ON p.name = t.name
),
crossed AS (
  SELECT ta.name, ta.match, ta.tok_a, t.tok_b,
         jaro_similarity(ta.tok_a, t.tok_b) AS s
  FROM ta JOIN (SELECT name AS match, unnest(bag_clean) AS tok_b FROM prepped) t
    ON ta.match = t.match
),
best_a AS (
  SELECT name, match, tok_a, max(s) AS bs FROM crossed GROUP BY name, match, tok_a
),
me_ab AS (SELECT name, match, avg(bs) AS m FROM best_a GROUP BY name, match),
best_b AS (
  SELECT name, match, tok_b, max(s) AS bs FROM crossed GROUP BY name, match, tok_b
),
me_ba AS (SELECT name, match, avg(bs) AS m FROM best_b GROUP BY name, match)
SELECT a.name, a.match, round(least(a.m, b.m), 6) AS token_sim
FROM me_ab a JOIN me_ba b ON a.name = b.name AND a.match = b.match
"""


# ---------------------------------------------------------------------------
# multimodal plumbing — fully oracle-checked: spans are derived in-SQL from
# `documents` on both sides (same construction as span_extract), the stub
# fetch is sha256(ref), and the fake decode is uint32-LE arithmetic DuckDB
# can replicate exactly (VERDICT r1 item 2)
# ---------------------------------------------------------------------------

def _spans_from_documents(spark: SparkSession, sf_dir: str):
    """Interleaved text/media spans built in-SQL from the driver documents
    table (identical construction to q_span_extract)."""
    _register(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT CAST(doc_id AS STRING) AS doc_id,
          transform(slice(filter(split(text, ' '), t -> t <> ''), 1, 6),
            (w, i) -> named_struct(
              'kind', IF(i % 3 = 2, 'media', 'text'),
              'text', IF(i % 3 = 2, CAST(NULL AS STRING), w),
              'media_ref', IF(i % 3 = 2, concat('m://', w), CAST(NULL AS STRING)),
              'offset', i)) AS spans
        FROM documents
        """
    )


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media manifest → stub fetch → fake decode over interleaved spans
    derived from `documents` (manifest/fetch/decode are the real package
    operators — mapInPandas over Arrow batches, binary payloads)."""
    from .operators.media import decode_image_features, fetch_media_stub, media_manifest

    docs = _spans_from_documents(spark, sf_dir)
    manifest = media_manifest(docs)
    fetched = fetch_media_stub(manifest)
    decoded = decode_image_features(fetched, fake=True)
    return decoded.select(
        "doc_id",
        "media_ref",
        "width",
        "height",
        F.round(F.expr("aggregate(features, 0D, (a, x) -> a + x)"), 6).alias("feat_sum"),
    )


def o_media_pipeline() -> str:
    """DuckDB twin of the stub fetch + fake decode: payload bytes are
    sha256(media_ref); the fake decode reads uint32 little-endian words
    raw[j] from the digest — reproduced here with hex-substring arithmetic
    (byte m of the digest is substr(hex, 2m+1, 2); LE word j concatenates
    bytes 4j+3..4j reversed). Feature j = float32((raw[j] %% 1000) / 1000),
    summed left-to-right in double — same FP order as Spark's aggregate().
    """
    toks = _duck_toks()

    def b(m: str) -> str:  # hex of digest byte m (0-based)
        return f"substr(h, 2*({m})+1, 2)"

    def u32(j: int) -> str:  # little-endian uint32 word j of the digest
        return (
            f"('0x'||{b(f'{4*j+3}')}||{b(f'{4*j+2}')}||{b(f'{4*j+1}')}||{b(f'{4*j}')})::BIGINT"
        )

    feat_sum = " + ".join(f"CAST(CAST(({u32(j)} % 1000) / 1000.0 AS REAL) AS DOUBLE)" for j in range(8))
    return f"""
WITH sp AS (
  SELECT doc_id,
         unnest(generate_series(1, least(len({toks}), 6))) - 1 AS pos,
         unnest(list_slice({toks}, 1, 6)) AS w
  FROM documents
),
media AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'm://' || w AS media_ref,
         sha256('m://' || w) AS h
  FROM sp WHERE pos % 3 = 2
)
SELECT doc_id, media_ref,
       CAST({u32(0)} % 1920 + 1 AS INT) AS width,
       CAST({u32(1)} % 1080 + 1 AS INT) AS height,
       round({feat_sum}, 6) AS feat_sum
FROM media
"""


def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (non-fake) decode path, oracle-checked end-to-end (VERDICT r2
    item 5): deterministic binary PPM (P6) payloads are constructed IN-SQL —
    a 'P6\\n2 2\\n255\\n' header plus 12 pixel bytes taken from
    sha256(media_ref) — then decoded by the real parser chain (PIL when
    importable, else the pure-Python P6 parser; both yield the same pixel
    stream), and the per-bucket byte-histogram features are value-hashed
    against DuckDB reproducing the same fold with hex arithmetic."""
    from .operators.media import decode_image_features, media_manifest

    docs = _spans_from_documents(spark, sf_dir)
    manifest = media_manifest(docs)
    payloads = manifest.select(
        "doc_id",
        "media_ref",
        F.concat(
            F.lit(b"P6\n2 2\n255\n"),
            F.unhex(F.substring(F.sha2(F.col("media_ref"), 256), 1, 24)),
        ).alias("payload"),
    )
    decoded = decode_image_features(payloads, fake=False, feature_dim=8)
    return decoded.select(
        "doc_id",
        "media_ref",
        "width",
        "height",
        F.posexplode("features").alias("bucket", "feat"),
    ).withColumn("feat", F.round(F.col("feat").cast("double"), 6))


def o_media_decode_real() -> str:
    """DuckDB twin of the real P6 decode: pixel byte m (0-11) of the
    constructed payload is digest byte m = substr(sha256_hex, 2m+1, 2);
    the decoder's feature j is |{m : byte_m >> 5 = j}| / 12 as float32
    (byte histogram folded to 8 buckets over a 2x2 RGB raster), and the
    header parse pins width = height = 2."""
    toks = _duck_toks()

    def bucket(m: int) -> str:  # histogram bucket of pixel byte m
        return f"(('0x'||substr(h, {2 * m + 1}, 2))::INT // 32)"

    def cnt(j: int) -> str:
        return " + ".join(f"CASE WHEN {bucket(m)} = {j} THEN 1 ELSE 0 END" for m in range(12))

    count_case = (
        "CASE b.bucket "
        + " ".join(f"WHEN {j} THEN ({cnt(j)})" for j in range(8))
        + " END"
    )
    return f"""
WITH sp AS (
  SELECT doc_id,
         unnest(generate_series(1, least(len({toks}), 6))) - 1 AS pos,
         unnest(list_slice({toks}, 1, 6)) AS w
  FROM documents
),
media AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, pos, 'm://' || w AS media_ref,
         sha256('m://' || w) AS h
  FROM sp WHERE pos % 3 = 2
)
SELECT doc_id, media_ref, 2 AS width, 2 AS height,
       CAST(b.bucket AS INT) AS bucket,
       round(CAST(CAST({count_case} AS REAL) / CAST(12 AS REAL) AS DOUBLE), 6) AS feat
FROM media m CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bucket) b
"""


# ---------------------------------------------------------------------------
# cluster-of-clusters round 2 (§2.8) + notifications (§2.11)
# ---------------------------------------------------------------------------

def q_group_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 2: first-round clusters (shared_words≥2 edges) whose group
    names are tf-idf-cosine ≥ 0.65 similar get merged; members relabeled to
    the alphabetically-first group name, cluster ids re-densified."""
    from .contract import _spark_prepped
    from .operators.blocking import shared_word_pairs
    from .operators.cc import name_clusters
    from .operators.grouping import regroup_clusters
    from .operators.tfidf import tfidf_cosine_pairs
    from .pipeline import prepare_names
    from .session import materialize

    prepped = _spark_prepped(spark, sf_dir)
    scored = shared_word_pairs(prepped, "bag_shared", max_block=1_000_000)
    clusters = materialize(
        name_clusters(scored.where(F.col("shared_words") >= 2).select("name", "match"))
    )
    gnames = clusters.select(F.col("group_name").alias("name")).distinct()
    gp = prepare_names(gnames).where(F.col("clean_name") != "")
    gpairs = tfidf_cosine_pairs(gp, "bag_clean", threshold=0.65).select("name", "match")
    return regroup_clusters(clusters, gpairs).select(
        "name", F.col("cluster").cast("bigint").alias("cluster"), "group_name"
    )


def o_group_round2() -> str:
    from .contract import duck_clean_expr, duck_prepped_cte

    return f"""
WITH RECURSIVE {duck_prepped_cte()},
idx AS (
  SELECT DISTINCT name, token FROM (
    SELECT name, unnest(bag_shared) AS token FROM prepped
  ) WHERE token <> ''
),
pairs AS (
  SELECT a.name AS name, b.name AS match
  FROM idx a JOIN idx b ON a.token = b.token AND a.name < b.name
  GROUP BY a.name, b.name HAVING count(*) >= 2
),
sym AS MATERIALIZED (SELECT name AS u, match AS v FROM pairs UNION SELECT match, name FROM pairs),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m
),
comp AS MATERIALIZED (SELECT n AS name, min(m) AS group_name FROM reach GROUP BY n),
clusters AS MATERIALIZED (SELECT name, group_name FROM comp WHERE name <> group_name),
gnames AS (SELECT DISTINCT group_name AS name FROM clusters),
gprep0 AS (
  SELECT name, {duck_clean_expr("name", "clean_name", drop_common=True)} FROM gnames
),
gprep AS (
  SELECT name, clean_name,
         CASE WHEN clean_name = '' THEN []::VARCHAR[]
              ELSE string_split(clean_name, ' ') END AS bag
  FROM gprep0 WHERE clean_name <> ''
),
gtoks AS (SELECT name, token FROM (SELECT name, unnest(bag) AS token FROM gprep) WHERE token <> ''),
gcounts AS (SELECT name, token, count(*) AS cnt FROM gtoks GROUP BY name, token),
gnn AS (SELECT count(DISTINCT name) AS n_names FROM gprep),
gdf AS (SELECT token, count(*) AS df FROM gcounts GROUP BY token),
gw AS (
  SELECT c.name, c.token, c.cnt * ln(1 + nn.n_names / d.df) AS w
  FROM gcounts c, gnn nn JOIN gdf d ON c.token = d.token
),
gnorm AS (SELECT name, sqrt(sum(w * w)) AS nrm FROM gw GROUP BY name),
gpairs AS (
  SELECT p.name AS u, p.match AS v FROM (
    SELECT a.name AS name, b.name AS match, sum(a.w * b.w) AS dot
    FROM gw a JOIN gw b ON a.token = b.token AND a.name < b.name
    GROUP BY a.name, b.name
  ) p
  JOIN gnorm na ON p.name = na.name
  JOIN gnorm nb ON p.match = nb.name
  WHERE p.dot / na.nrm / nb.nrm >= 0.65
),
gsym AS MATERIALIZED (SELECT u, v FROM gpairs UNION SELECT v, u FROM gpairs),
gnodes AS (SELECT DISTINCT u AS n FROM gsym),
greach(n, m) AS (
  SELECT n, n FROM gnodes
  UNION SELECT r.n, s.v FROM greach r JOIN gsym s ON s.u = r.m
),
gcomp AS (SELECT n AS group_name, min(m) AS new_g FROM greach GROUP BY n),
relabeled AS (
  SELECT c.name, coalesce(g.new_g, c.group_name) AS group_name
  FROM clusters c LEFT JOIN gcomp g ON c.group_name = g.group_name
  UNION
  SELECT group_name AS name, new_g AS group_name FROM gcomp WHERE group_name <> new_g
),
ids AS (
  SELECT group_name, CAST(dense_rank() OVER (ORDER BY group_name) AS BIGINT) AS cluster
  FROM (SELECT DISTINCT group_name FROM relabeled)
)
SELECT r.name, i.cluster, r.group_name
FROM relabeled r JOIN ids i ON r.group_name = i.group_name
WHERE r.name <> r.group_name
"""


_NOTIF_SCREENED = [
    ("A CO", "A CORP", "BOX 1 TX"),
    ("B LLC", "B LP", None),
    ("D INC", "D LTD", "5 MAIN ST"),
]
_NOTIF_REVIEWED = [
    ("A CO", "A CORP", 0),
    ("B LLC", "B LP", 1),
    ("C1", "C2", 1),
]
_NOTIF_PRIOR = [("C1", "C0"), ("C2", "C0"), ("E2", "E1")]


def q_notifications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 notification tables, unioned with a tag column."""
    from .operators.grouping import notifications

    screened = spark.createDataFrame(
        _NOTIF_SCREENED, "name string, match string, address string"
    )
    reviewed = spark.createDataFrame(_NOTIF_REVIEWED, ["name", "match", "keep"])
    prior = spark.createDataFrame(_NOTIF_PRIOR, ["name", "group_name"])
    prev_non, inferred = notifications(screened, reviewed, prior)
    return prev_non.select(
        "name", "match", F.lit("previous_non_pair").alias("kind")
    ).unionByName(
        inferred.select("name", "match", F.lit("inferred_match").alias("kind"))
    )


def o_notifications() -> str:
    from .contract_human import _values

    scr = _values(_NOTIF_SCREENED, ["name", "match", "address"])
    rev = _values(_NOTIF_REVIEWED, ["name", "match", "keep"])
    pri = _values(_NOTIF_PRIOR, ["name", "group_name"])
    return f"""
WITH screened AS (SELECT * FROM {scr}),
reviewed AS (
  SELECT least(name, match) AS name, greatest(name, match) AS match, keep
  FROM {rev}
),
prior AS (SELECT * FROM {pri}),
prev_non AS (
  SELECT DISTINCT least(s.name, s.match) AS name, greatest(s.name, s.match) AS match,
         'previous_non_pair' AS kind
  FROM screened s
  JOIN reviewed r
    ON least(s.name, s.match) = r.name AND greatest(s.name, s.match) = r.match
  WHERE s.address IS NOT NULL AND r.keep = 0
),
full_c AS (
  SELECT name, group_name FROM prior
  UNION SELECT group_name, group_name FROM prior
),
completed AS (
  SELECT DISTINCT least(a.name, b.name) AS name, greatest(a.name, b.name) AS match
  FROM full_c a JOIN full_c b ON a.group_name = b.group_name AND a.name < b.name
),
inferred AS (
  SELECT c.name, c.match, 'inferred_match' AS kind
  FROM completed c
  LEFT JOIN reviewed r ON c.name = r.name AND c.match = r.match
  WHERE r.name IS NULL
)
SELECT * FROM prev_non UNION ALL SELECT * FROM inferred
"""


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation (1h) over the events table —
    the batch form of the Structured Streaming windowed agg (ingest.py is
    the streaming form). UTC session timezone makes buckets engine-stable."""
    _register(spark, sf_dir, "events")
    return (
        spark.table("events")
        .groupBy(
            "event_type",
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("users"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
            F.col("users").cast("bigint").alias("users"),
        )
    )


def o_events_window() -> str:
    return """
SELECT event_type,
       strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM events
GROUP BY event_type, time_bucket(INTERVAL 1 HOUR, ts)
"""


# ---------------------------------------------------------------------------
# match master (match_names.R:599-808) — drives the REAL
# pipeline.score_candidates with an oracle-expressible Jaro index. Channel
# difference vs production match_names: the Jaro families are first-token
# only (the metaphone and xxhash-LSH keys are imperative/non-SQL; their
# banding math is oracled separately in minhash_bands). The oracle keeps
# the reference's shape — four channels, a 4-way merge and three
# backfills, thresholds on round(x, 6) — so the one candidate pass, its
# channel rules and the Monge-Elkan token_sim are hash-compared end to end
# against an independent formulation. No cosine or first-token Jaro value
# of the corpus lies where round(·, 6) flips a threshold decision.
# ---------------------------------------------------------------------------

def q_match_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .contract import _spark_prepped
    from .operators.blocking import first_token_key, tag_keys
    from .operators.human import name_parts
    from .pipeline import score_candidates

    prepped = _spark_prepped(spark, sf_dir)
    ft = tag_keys(
        first_token_key(prepped.where(F.col("clean_name") != ""), "bag_clean", out="bkey"),
        "bkey",
        "ft",
    )
    master = score_candidates(prepped, name_parts(prepped.select("name")), ft)
    return master.select(
        "name",
        "match",
        F.col("shared_words").cast("bigint").alias("shared_words"),
        F.round("cosine_similarity", 6).alias("cosine_similarity"),
        F.round("jw_distance", 6).alias("jw_distance"),
        F.round("human_jw_distance", 6).alias("human_jw_distance"),
        F.round("human_cosine_similarity", 6).alias("human_cosine_similarity"),
        # nullable boolean stringifies as None/nan asymmetrically across
        # engines' pandas exports; INT (1/0/NULL) normalizes the hash
        F.col("initials_match").cast("int").alias("initials_match"),
        F.round("token_sim", 6).alias("token_sim"),
    )


def o_match_master() -> str:
    from .contract import duck_bag_cte
    from .contract_human import duck_human_extract_cte

    extract = duck_human_extract_cte("(SELECT name FROM pm)")
    return f"""
WITH {duck_prepped_cte()},
pm AS MATERIALIZED (SELECT * FROM prepped),
prepped_nc AS MATERIALIZED (
  SELECT name,
         {duck_bag_cte("name", "bag_nc", drop_common=False, comma_to_space=False)}
  FROM (SELECT DISTINCT name FROM names_all)
),
nonempty AS MATERIALIZED (SELECT * FROM pm WHERE clean_name <> ''),
toks AS (
  SELECT name, token FROM (
    SELECT name, unnest(bag_clean) AS token FROM nonempty
  ) WHERE token <> ''
),
tcounts AS (SELECT name, token, count(*) AS cnt FROM toks GROUP BY name, token),
nn AS (SELECT count(DISTINCT name) AS n_names FROM nonempty),
docfreq AS (SELECT token, count(*) AS df FROM tcounts GROUP BY token),
w AS MATERIALIZED (
  SELECT c.name, c.token, c.cnt * ln(1 + nn.n_names / df.df) AS w
  FROM tcounts c, nn JOIN docfreq df ON c.token = df.token
),
norms AS MATERIALIZED (SELECT name, sqrt(sum(w * w)) AS nrm FROM w GROUP BY name),
cosine_ch AS (
  SELECT p.name, p.match, round(p.dot / na.nrm / nb.nrm, 6) AS cosine_similarity
  FROM (
    SELECT a.name AS name, b.name AS match, sum(a.w * b.w) AS dot
    FROM w a JOIN w b ON a.token = b.token AND a.name < b.name
    GROUP BY a.name, b.name
  ) p
  JOIN norms na ON p.name = na.name
  JOIN norms nb ON p.match = nb.name
  WHERE round(p.dot / na.nrm / nb.nrm, 6) >= 0.4
),
sidx AS MATERIALIZED (
  SELECT DISTINCT name, token FROM (
    SELECT name, unnest(bag_shared) AS token FROM pm
  ) WHERE token <> ''
),
shared_ch AS (
  SELECT a.name AS name, b.name AS match, CAST(count(*) AS BIGINT) AS shared_words
  FROM sidx a JOIN sidx b ON a.token = b.token AND a.name < b.name
  GROUP BY a.name, b.name
),
keyed AS MATERIALIZED (
  SELECT name, clean_name, bag_clean[1] AS bkey FROM nonempty
  WHERE len(bag_clean) > 0 AND bag_clean[1] <> ''
),
jaro_ch AS (
  SELECT a.name AS name, b.name AS match,
         round(1 - jaro_similarity(a.clean_name, b.clean_name), 6) AS jw_distance
  FROM keyed a JOIN keyed b ON a.bkey = b.bkey AND a.name < b.name
  WHERE round(1 - jaro_similarity(a.clean_name, b.clean_name), 6) <= 0.15
),
{extract},
humans AS MATERIALIZED (
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
hchars AS MATERIALIZED (
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
hcos AS (
  SELECT a.name, a.match,
         sum(a.cnt * b.cnt) /
         sqrt((SELECT sum(cnt * cnt) FROM hchars x WHERE x.name = a.name AND x.match = a.match AND x.side = 'a')) /
         sqrt((SELECT sum(cnt * cnt) FROM hchars y WHERE y.name = a.name AND y.match = a.match AND y.side = 'b'))
         AS cos_sim
  FROM hchars a JOIN hchars b
    ON a.name = b.name AND a.match = b.match AND a.c = b.c
   AND a.side = 'a' AND b.side = 'b'
  GROUP BY a.name, a.match
),
human_ch AS (
  SELECT hp.name, hp.match,
    CASE WHEN fa IS NULL OR fb IS NULL OR fa = '' OR fb = '' THEN NULL
         ELSE round(1 - jaro_similarity(fa, fb), 6) END AS human_jw_distance,
    round(coalesce(hcos.cos_sim,
          CASE WHEN fa IS NOT NULL AND fb IS NOT NULL AND fa <> '' AND fb <> ''
               THEN 0.0 END), 6) AS human_cosine_similarity,
    CASE WHEN coalesce(ka, FALSE) OR coalesce(kb, FALSE)
         THEN list_sort(list_distinct(ia)) = list_sort(list_distinct(ib))
         ELSE FALSE END AS initials_match
  FROM hp LEFT JOIN hcos ON hp.name = hcos.name AND hp.match = hcos.match
),
merged AS MATERIALIZED (
  SELECT name, match,
    max(shared_words) AS shared_words,
    max(cosine_similarity) AS cosine_similarity,
    max(jw_distance) AS jw_distance,
    max(human_jw_distance) AS human_jw_distance,
    max(human_cosine_similarity) AS human_cosine_similarity,
    max(initials_match) AS initials_match
  FROM (
    SELECT name, match, CAST(NULL AS BIGINT) AS shared_words, cosine_similarity,
           CAST(NULL AS DOUBLE) AS jw_distance, CAST(NULL AS DOUBLE) AS human_jw_distance,
           CAST(NULL AS DOUBLE) AS human_cosine_similarity, CAST(NULL AS BOOLEAN) AS initials_match
    FROM cosine_ch
    UNION ALL
    SELECT name, match, shared_words, NULL, NULL, NULL, NULL, NULL FROM shared_ch
    UNION ALL
    SELECT name, match, NULL, NULL, jw_distance, NULL, NULL, NULL FROM jaro_ch
    UNION ALL
    SELECT name, match, NULL, NULL, NULL, human_jw_distance,
           human_cosine_similarity, initials_match
    FROM human_ch
  ) WHERE name <> match
  GROUP BY name, match
),
bf1 AS MATERIALIZED (
  SELECT m.name, m.match,
    coalesce(m.shared_words,
             CAST(len(list_intersect(a.bag_nc, b.bag_nc)) AS BIGINT)) AS shared_words,
    m.cosine_similarity, m.jw_distance, m.human_jw_distance,
    m.human_cosine_similarity, m.initials_match
  FROM merged m
  LEFT JOIN prepped_nc a ON m.name = a.name
  LEFT JOIN prepped_nc b ON m.match = b.name
),
cos_bf AS (
  SELECT m.name, m.match,
         sum(a.w * b.w) / any_value(na.nrm) / any_value(nb.nrm) AS cbf
  FROM bf1 m
  JOIN w a ON m.name = a.name
  JOIN w b ON m.match = b.name AND a.token = b.token
  JOIN norms na ON m.name = na.name
  JOIN norms nb ON m.match = nb.name
  WHERE m.cosine_similarity IS NULL
  GROUP BY m.name, m.match
),
bf3 AS MATERIALIZED (
  SELECT b1.name, b1.match, b1.shared_words,
    coalesce(b1.cosine_similarity, cb.cbf, 0.0) AS cosine_similarity,
    coalesce(b1.jw_distance, 1 - jaro_similarity(b1.name, b1.match)) AS jw_distance,
    b1.human_jw_distance, b1.human_cosine_similarity, b1.initials_match
  FROM bf1 b1
  LEFT JOIN cos_bf cb ON b1.name = cb.name AND b1.match = cb.match
),
ts_a AS (
  SELECT m.name, m.match, t.tok_a FROM bf3 m
  JOIN (SELECT name, unnest(bag_clean) AS tok_a FROM pm) t ON m.name = t.name
),
ts_cross AS MATERIALIZED (
  SELECT ts_a.name, ts_a.match, ts_a.tok_a, t.tok_b,
         jaro_similarity(ts_a.tok_a, t.tok_b) AS s
  FROM ts_a JOIN (SELECT name AS match, unnest(bag_clean) AS tok_b FROM pm) t
    ON ts_a.match = t.match
),
ts_best_a AS (
  SELECT name, match, tok_a, max(s) AS bs FROM ts_cross GROUP BY name, match, tok_a
),
ts_ab AS (SELECT name, match, avg(bs) AS m FROM ts_best_a GROUP BY name, match),
ts_best_b AS (
  SELECT name, match, tok_b, max(s) AS bs FROM ts_cross GROUP BY name, match, tok_b
),
ts_ba AS (SELECT name, match, avg(bs) AS m FROM ts_best_b GROUP BY name, match),
ts AS (
  SELECT a.name, a.match, least(a.m, b.m) AS token_sim
  FROM ts_ab a JOIN ts_ba b ON a.name = b.name AND a.match = b.match
)
SELECT b.name, b.match, b.shared_words,
  round(b.cosine_similarity, 6) AS cosine_similarity,
  round(b.jw_distance, 6) AS jw_distance,
  round(b.human_jw_distance, 6) AS human_jw_distance,
  round(b.human_cosine_similarity, 6) AS human_cosine_similarity,
  CAST(b.initials_match AS INT) AS initials_match,
  round(ts.token_sim, 6) AS token_sim
FROM bf3 b LEFT JOIN ts ON b.name = ts.name AND b.match = ts.match
"""


# ---------------------------------------------------------------------------
# batch-incremental resolution (pipeline.incremental_resolve) — the
# extend-don't-recompute refresh path. The injected matcher is the
# shared-word channel only (oracle-expressible end to end); the scoring
# machinery has its own oracles (match_master). What this hash-checks is
# the incremental logic itself: the deterministic 2/3:1/3 corpus split, the
# |new|+|clusters| universe (reps only, the default contract), the union of
# accepted edges with re-asserted prior member→rep edges, drift merges of
# prior clusters through transitive closure, and the dense re-numbering.
# ---------------------------------------------------------------------------

def _q_incremental(spark: SparkSession, sf_dir: str, member_sample_k: int) -> DataFrame:
    from .contract import _spark_prepped
    from .operators.blocking import shared_word_pairs
    from .operators.cc import name_clusters
    from .pipeline import MatchNamesResult, incremental_resolve, prepare_names

    prepped = _spark_prepped(spark, sf_dir)
    h = (F.expr("CAST(conv(substr(md5(name), 1, 15), 16, 10) AS BIGINT)") % 3)
    prior_names = prepped.where(h != 0).select("name")
    new_names = prepped.where(h == 0).select("name")

    def shared_only_match(universe, **kw):
        u = prepare_names(universe)
        scored = shared_word_pairs(u, "bag_shared", max_block=1_000_000)
        master = scored.withColumn(
            "jw_distance", F.lit(None).cast("double")
        ).withColumn("cosine_similarity", F.lit(None).cast("double"))
        return MatchNamesResult(master=master)

    prior_mm = shared_only_match(prior_names)
    prior = name_clusters(
        prior_mm.master.where(F.col("shared_words") >= 2).select("name", "match")
    )
    out = incremental_resolve(
        new_names, prior, match_fn=shared_only_match,
        member_sample_k=member_sample_k,
    )
    return out.select(
        "name", F.col("cluster").cast("bigint").alias("cluster"), "group_name"
    )


def q_incremental_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_incremental(spark, sf_dir, member_sample_k=0)


def q_incremental_resolve_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-aware variant: K exceeds every cluster size, so the
    deterministic per-cluster sample is ALL non-representative members and
    the universe is |new| + every prior name — the one member_sample_k
    setting whose sampled set is order-independent and therefore
    SQL-expressible (the production K<n sample orders by xxhash64). The
    member-channel plumbing (window sample, universe union, transitive
    carry through member→rep edges) is the code under test."""
    return _q_incremental(spark, sf_dir, member_sample_k=1_000_000)


def o_incremental_resolve(members: bool = False) -> str:
    members_sql = (
        "\n  UNION\n  SELECT name FROM p_comp WHERE name <> group_name" if members else ""
    )
    return f"""
WITH RECURSIVE {duck_prepped_cte()},
hsplit AS MATERIALIZED (
  SELECT name, ('0x' || substr(md5(name), 1, 15))::BIGINT % 3 AS h FROM prepped
),
sidx AS MATERIALIZED (
  SELECT DISTINCT name, token FROM (
    SELECT name, unnest(bag_shared) AS token FROM prepped
  ) WHERE token <> ''
),
p_edges AS MATERIALIZED (
  SELECT a.name AS u, b.name AS v
  FROM sidx a
  JOIN sidx b ON a.token = b.token AND a.name < b.name
  JOIN hsplit ha ON a.name = ha.name AND ha.h <> 0
  JOIN hsplit hb ON b.name = hb.name AND hb.h <> 0
  GROUP BY a.name, b.name
  HAVING count(*) >= 2
),
p_sym AS MATERIALIZED (
  SELECT u, v FROM p_edges UNION SELECT v, u FROM p_edges
),
p_reach(n, m) AS (
  SELECT n, n FROM (SELECT DISTINCT u AS n FROM p_sym)
  UNION
  SELECT r.n, s.v FROM p_reach r JOIN p_sym s ON s.u = r.m
),
p_comp AS MATERIALIZED (
  SELECT n AS name, min(m) AS group_name FROM p_reach GROUP BY n
),
universe AS MATERIALIZED (
  SELECT name FROM hsplit WHERE h = 0
  UNION
  SELECT DISTINCT group_name AS name FROM p_comp{members_sql}
),
u_edges AS MATERIALIZED (
  SELECT a.name AS u, b.name AS v
  FROM sidx a
  JOIN sidx b ON a.token = b.token AND a.name < b.name
  JOIN universe ua ON a.name = ua.name
  JOIN universe ub ON b.name = ub.name
  GROUP BY a.name, b.name
  HAVING count(*) >= 2
),
all_edges AS MATERIALIZED (
  SELECT u, v FROM u_edges
  UNION
  SELECT name AS u, group_name AS v FROM p_comp WHERE name <> group_name
),
f_sym AS MATERIALIZED (
  SELECT u, v FROM all_edges UNION SELECT v, u FROM all_edges
),
f_reach(n, m) AS (
  SELECT n, n FROM (SELECT DISTINCT u AS n FROM f_sym)
  UNION
  SELECT r.n, s.v FROM f_reach r JOIN f_sym s ON s.u = r.m
),
f_comp AS MATERIALIZED (
  SELECT n AS name, min(m) AS group_name FROM f_reach GROUP BY n
),
ranked AS (
  SELECT group_name,
         CAST(dense_rank() OVER (ORDER BY group_name) AS BIGINT) AS cluster
  FROM (SELECT DISTINCT group_name FROM f_comp)
)
SELECT c.name, r.cluster, c.group_name
FROM f_comp c JOIN ranked r ON c.group_name = r.group_name
WHERE c.name <> c.group_name
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "simhash_pairs": q_simhash_pairs,
    "embedding_topk": q_embedding_topk,
    "ann_buckets": q_ann_buckets,
    "ivf_topk": q_ivf_topk,
    "semantic_dedup": q_semantic_dedup,
    "stratified_sample": q_stratified_sample,
    "token_counts": q_token_counts,
    "quality_scores": q_quality,
    "lang_id": q_lang_id,
    "fingerprints": q_fingerprints,
    "span_extract": q_span_extract,
    "token_sim": q_token_sim,
    "media_pipeline": q_media_pipeline,
    "media_decode_real": q_media_decode_real,
    "group_round2": q_group_round2,
    "notifications": q_notifications,
    "events_window": q_events_window,
    "match_master": q_match_master,
    "incremental_resolve": q_incremental_resolve,
    "incremental_resolve_members": q_incremental_resolve_members,
}

ORACLES: dict[str, str] = {
    "dedup_exact": o_dedup_exact(),
    "dedup_jaccard": o_dedup_jaccard(),
    "dedup_minhash": o_dedup_minhash(),
    "dedup_simhash": o_dedup_simhash(),
    "simhash_pairs": o_simhash_pairs(),
    "embedding_topk": o_embedding_topk(),
    "ann_buckets": o_ann_buckets(),
    "ivf_topk": o_ivf_topk(),
    "semantic_dedup": o_semantic_dedup(),
    "stratified_sample": o_stratified_sample(),
    "token_counts": o_token_counts(),
    "quality_scores": o_quality(),
    "lang_id": o_lang_id(),
    "fingerprints": o_fingerprints(),
    "span_extract": o_span_extract(),
    "token_sim": o_token_sim(),
    "media_pipeline": o_media_pipeline(),
    "media_decode_real": o_media_decode_real(),
    "group_round2": o_group_round2(),
    "notifications": o_notifications(),
    "events_window": o_events_window(),
    "match_master": o_match_master(),
    "incremental_resolve": o_incremental_resolve(),
    "incremental_resolve_members": o_incremental_resolve(members=True),
}
