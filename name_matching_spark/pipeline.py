"""End-to-end name-matching pipeline (the reference's match_names stage).

Reference lifecycle (code/functions/match_names.R:584-818): four matcher
channels → canonical pairs → 4-way full outer merge → backfill missing
scores. Spark-first re-expression: ONE candidate pass.

- every channel's blocking key goes into one family-tagged (name, key)
  index, and one cap-and-split self-join (``pairs_from_index``) generates
  each candidate pair once, with the set of families that found it;
- every score is computed once per candidate (SQL scores in bulk, the
  Python kernels, the Monge-Elkan ``token_sim`` among them, in one pass),
  and a pair is kept when any channel's own rule holds — so there is no
  merge and no backfill;
- names/bags are computed once and reused by every family.

Channel → key family (``score_candidates`` has the rules):
  shared-word   : ``sw:`` word of the raw-name bag (the reference's own
                  implicit key)
  tf-idf cosine : ``tok:`` token of the cleaned bag (lossless for
                  threshold ≥ 0.4)
  Jaro          : ``ft:`` first token, ``mp:`` double-metaphone of it,
                  ``lsh:`` token MinHash-LSH bands, ``csh:`` char-shingle
                  LSH bands (north-star channels; the reference compares
                  all O(n²) pairs — at 10^12 docs the blocked recall
                  surface is the deliverable, and F1 is measured at the
                  shared blocking key)
  human         : ``ln:`` exact last_name of a human parse row
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import COSINE_THRESHOLD, JARO_THRESHOLD
from .session import materialize
from .functions.normalize import with_clean_name, with_word_bag
from .operators.blocking import (
    char_shingle_band_keys,
    first_token_key,
    minhash_band_keys,
    pairs_from_index,
    tag_keys,
    token_index,
)
from .operators.human import (
    HUMAN_COLUMNS,
    last_name_index,
    name_parts,
    score_first_names,
)
from .operators.phonetic import with_metaphone_key
from .operators.tfidf import paired_cosine, token_weights


@dataclass
class MatchNamesResult:
    master: DataFrame          # the candidate-pair table with all scores
    name_parts: DataFrame | None = None  # human-channel parse (checkpointed),
    # reused by pre_screen's cross-surname rule instead of re-parsing


def prepare_names(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Distinct non-null names with É fixed (match_names.R:592-594), plus
    cleaned forms and token bags, computed once for all channels."""
    df = (
        names.where(F.col(name_col).isNotNull())
        .select(F.regexp_replace(F.col(name_col), "É", "E").alias("name"))
        .distinct()
    )
    df = with_clean_name(df, "name", "clean_name", drop_common=True)
    # cosine/jaro operate on tokens of the cleaned name (text2vec itoken over
    # clean_name strings == split on space)
    df = df.withColumn(
        "bag_clean",
        F.when(F.col("clean_name") == "", F.expr("array()")).otherwise(
            F.split("clean_name", " ")
        ),
    )
    # shared-word channel uses get_words(names) semantics: raw name, no
    # comma→space replacement (match_names.R:131-140)
    df = with_word_bag(df, "name", "bag_shared", drop_common=True, comma_to_space=False)
    # shared_words bag of a pair with no shared sw: key:
    # drop_common_words=FALSE (the reference's backfill quirk at :729-735)
    df = with_word_bag(df, "name", "bag_nc", drop_common=False, comma_to_space=False)
    return df


def jaro_index(names: DataFrame) -> DataFrame:
    """The Jaro channel's (name, key) index: the ``ft:``, ``mp:``, ``lsh:``
    and ``csh:`` families over the names with a non-empty clean name."""
    nonempty = names.where(F.col("clean_name") != "")
    return (
        tag_keys(first_token_key(nonempty, "bag_clean", out="bkey"), "bkey", "ft")
        .unionByName(
            tag_keys(with_metaphone_key(nonempty, "bag_clean", out="bkey"), "bkey", "mp")
        )
        .unionByName(tag_keys(minhash_band_keys(nonempty, "bag_clean"), "band_key", "lsh"))
        # char-shingle LSH: the only family that survives a typo in the
        # first token (which defeats ft, mp AND token-LSH at once) — found
        # and quantified by the blocking-recall harness (recall.py,
        # RECALL_r05)
        .unionByName(
            tag_keys(char_shingle_band_keys(nonempty, "clean_name"), "band_key", "csh")
        )
    )


def jaro_candidates(names: DataFrame, max_block: int = 2000) -> DataFrame:
    """Blocked candidate pairs (name, match) for the Jaro channel."""
    pairs = pairs_from_index(jaro_index(names), "key", max_block=max_block)
    return pairs.select("name", "match").distinct()


def match_names(names: DataFrame) -> MatchNamesResult:
    """Candidate-pair table with the full score schema
    (match_names.R:806-808): name, match, shared_words, cosine_similarity,
    jw_distance, human_jw_distance, human_cosine_similarity, initials_match,
    plus token_sim.
    """
    # EAGER CHECKPOINT, not persist: prepped is embedded in every key
    # family and the side joins. A cached relation keeps its full analyzed
    # subtree in each consumer's plan, and the resulting plan blow-up
    # measured 2.5× e2e at sf0.1 (98 s vs 39 s); checkpoint truncation
    # keeps every consumer's plan a flat scan.
    prepped = materialize(prepare_names(names), eager=True)
    parts = name_parts(prepped.select("name"))
    master = score_candidates(prepped, parts, jaro_index(prepped))
    return MatchNamesResult(master=master, name_parts=parts)


def candidate_families(index: DataFrame, max_block: int = 2000) -> DataFrame:
    """One cap-and-split self-join of a family-tagged (name, key) index:
    each candidate pair once, as (name, match, sw, tok, jaro, ln) — the
    number of distinct shared ``sw:`` keys, and whether the pair shares a
    ``tok:``, a Jaro-family (``ft:``/``mp:``/``lsh:``/``csh:``) or an
    ``ln:`` key."""

    def shares(*families: str):
        return F.max(F.col("key").rlike("^(" + "|".join(families) + "):"))

    return (
        pairs_from_index(index, "key", max_block=max_block)
        .groupBy("name", "match")
        .agg(
            F.count_distinct(
                F.when(F.col("key").startswith("sw:"), F.col("key"))
            ).alias("sw"),
            shares("tok").alias("tok"),
            shares("ft", "mp", "lsh", "csh").alias("jaro"),
            shares("ln").alias("ln"),
        )
    )


def score_candidates(
    prepped: DataFrame, parts: DataFrame, jaro_keys: DataFrame
) -> DataFrame:
    """The one candidate pass of match_names (match_names.R:599-808),
    factored out so the contract layer can drive it with an
    oracle-expressible Jaro index (contract_extras.q_match_master).

    ``prepped`` is ``prepare_names``' table, ``parts`` the ``name_parts``
    of its names and ``jaro_keys`` a (name, key) index of Jaro families.
    ``tok:``, ``sw:`` and ``ln:`` keys join them in one index, and
    ``candidate_families`` yields each candidate once with its families.
    Every score is computed once per candidate: the SQL ones in bulk, the
    five Python kernels (clean-name and raw-name Jaro, the two first-name
    kernels, the clean names' Monge-Elkan ``token_sim``) in one
    ``score_pairs`` pass. A candidate is kept when any channel's own rule
    holds:

    - it shares an ``sw:`` key;
    - it shares a ``tok:`` key and cosine ≥ COSINE_THRESHOLD;
    - it shares a Jaro-family key and the Jaro distance of the clean
      names is ≤ JARO_THRESHOLD;
    - it shares an ``ln:`` key.

    Values: ``shared_words`` counts the distinct shared ``sw:`` keys, or,
    with none, the raw-name bags' intersection without dropping common
    words (the reference's quirk at :729-735). ``cosine_similarity`` is
    the paired tf-idf cosine (0.0 without a shared token). ``jw_distance``
    is the clean-name Jaro when the Jaro rule fired, else the raw-name
    Jaro (:786-792). The human columns are null unless the pair shares an
    ``ln:`` key. ``token_sim`` (an extension beyond the reference's
    features: the pre-screen feature that separates typo aliases from
    shared-first-name coincidences) is null where either clean name is
    empty.
    """
    # ONE tf-idf weights table: its (name, token) rows are the tok: keys
    # and it scores every candidate (deviation from the reference, which
    # refits idf on just the missing-pair corpus at :738-783 — one
    # consistent corpus is both cheaper and more principled).
    weights = materialize(
        token_weights(prepped.where(F.col("clean_name") != ""), "bag_clean"),
        eager=True,
    )
    index = (
        tag_keys(weights, "token", "tok")
        .unionByName(tag_keys(token_index(prepped, "bag_shared"), "token", "sw"))
        .unionByName(jaro_keys)
        .unionByName(last_name_index(parts))
    )
    side = prepped.select("name", "clean_name", "bag_nc")
    # paired_cosine reads the candidates twice (its pair list and the join
    # back): one checkpoint runs the self-join once.
    cand = materialize(
        candidate_families(index).join(
            side.withColumnsRenamed({"clean_name": "_clean_a", "bag_nc": "_bag_a"}),
            "name",
        ).join(
            side.withColumnsRenamed(
                {"name": "match", "clean_name": "_clean_b", "bag_nc": "_bag_b"}
            ),
            "match",
        ),
        eager=True,
    )
    scored = score_first_names(
        paired_cosine(cand, weights),
        parts,
        [
            ("_jw_clean", "jaro_distance", "_clean_a", "_clean_b"),
            ("_jw_raw", "jaro_distance", "name", "match"),
            ("_token_sim", "monge_elkan_similarity", "_clean_a", "_clean_b"),
        ],
    )
    jaro_hit = F.col("jaro") & (F.col("_jw_clean") <= JARO_THRESHOLD)
    return scored.where(
        (F.col("sw") > 0)
        | (F.col("tok") & (F.col("cosine_similarity") >= COSINE_THRESHOLD))
        | jaro_hit
        | F.col("ln")
    ).select(
        "name",
        "match",
        F.when(F.col("sw") > 0, F.col("sw"))
        .otherwise(F.size(F.array_intersect("_bag_a", "_bag_b")))
        .cast("bigint")
        .alias("shared_words"),
        "cosine_similarity",
        F.when(jaro_hit, F.col("_jw_clean"))
        .otherwise(F.col("_jw_raw"))
        .alias("jw_distance"),
        *[F.when(F.col("ln"), F.col(c)).alias(c) for c in HUMAN_COLUMNS],
        F.when(~F.isnan("_token_sim"), F.col("_token_sim")).alias("token_sim"),
    )


def incremental_resolve(
    new_names: DataFrame,
    prior_clusters: DataFrame,
    jaro_accept: float = 0.15,
    cosine_accept: float = 0.4,
    shared_words_accept: int = 2,
    member_sample_k: int = 0,
    match_fn=None,
) -> DataFrame:
    """Batch-incremental resolution — the re-run path when NEW names arrive
    and the prior clustering should be extended, not recomputed.

    The reference re-runs its whole makefile on every refresh; at 100 TB
    that is a full-corpus O(blocked pairs) job for a sliver of new data.
    Here new names are matched against the prior clusters' REPRESENTATIVES
    (group_name — the deterministic min-name of each cluster) plus each
    other: the matched universe is |new| + |clusters|, not |corpus|. The
    accepted edges are unioned with the prior member→representative edges
    and re-clustered, so:

    - a new name close to a cluster rep joins that cluster;
    - new names can form brand-new clusters among themselves;
    - two PRIOR clusters whose reps now match get merged (drift
      reconciliation — same transitive rule a full re-run would apply);
    - prior memberships are preserved verbatim otherwise (their edges are
      re-asserted, not re-scored).

    Approximation (documented): by default a new name is compared to each
    cluster's representative, not to every member — the same rep-based
    contract as the streaming assigner (streaming/incremental.py), whose
    periodic full re-resolve remains the exactness backstop.
    ``member_sample_k > 0`` widens the contract: up to K NON-representative
    members per cluster (deterministic hash order, so re-runs sample the
    same members) also enter the match universe. A new name that misses the
    rep but hits a sampled member still reaches the cluster transitively —
    the member's prior member→rep edge carries it through connected
    components. The universe grows to |new| + |clusters|·(1+K), still
    independent of |corpus|.

    ``prior_clusters`` is (name, cluster, group_name) as produced by
    name_clusters. Returns the updated (name, cluster, group_name)."""
    from .operators.cc import name_clusters

    reps = prior_clusters.select(F.col("group_name").alias("name")).distinct()
    universe = new_names.select("name").unionByName(reps).distinct()
    if member_sample_k > 0:
        from pyspark.sql import Window

        w = Window.partitionBy("cluster").orderBy(F.xxhash64("name"), "name")
        members = (
            prior_clusters.where(F.col("name") != F.col("group_name"))
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= member_sample_k)
            .select("name")
        )
        universe = universe.unionByName(members).distinct()
    # ``match_fn`` swaps the matcher (default: the full 4-channel
    # match_names). The contract layer injects an oracle-expressible
    # matcher so the universe/prior-edge/re-cluster logic here is
    # hash-checked independently of the scoring machinery (which has its
    # own oracles — match_master et al.).
    mm = (match_fn or match_names)(universe)
    accepted = mm.master.where(
        (F.col("jw_distance") <= jaro_accept)
        | (F.col("cosine_similarity") >= cosine_accept)
        | (F.col("shared_words") >= shared_words_accept)
    ).select("name", "match")
    prior_edges = prior_clusters.select("name", F.col("group_name").alias("match"))
    return name_clusters(accepted.unionByName(prior_edges))
