"""End-to-end name-matching pipeline (the reference's match_names stage).

Reference lifecycle (code/functions/match_names.R:584-818): four matcher
channels → canonical pairs → 4-way full outer merge → backfill missing
scores. Spark-first re-expression:

- channels are *joins with explicit blocking keys*, never O(n²) loops;
- every score for the merged pair table is computed in bulk (set-oriented
  backfill, not rowwise);
- names/bags are computed once and reused across channels.

Channel → blocking key:
  shared-word   : inverted token index (the reference's own implicit key)
  tf-idf cosine : shared token (lossless for threshold ≥ 0.4)
  Jaro          : union of first-token, double-metaphone(first token) and
                  MinHash-LSH band keys (north-star channels; the reference
                  compares all O(n²) pairs — at 10^12 docs the blocked
                  recall surface is the deliverable, and F1 is measured at
                  the shared blocking key)
  human         : exact last_name
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import COSINE_THRESHOLD, JARO_THRESHOLD
from .session import materialize, persist_now
from .functions.normalize import canonical_pair, with_clean_name, with_word_bag
from .operators.blocking import (
    char_shingle_band_keys,
    first_token_key,
    minhash_band_keys,
    pairs_from_index,
    shared_word_pairs,
)
from .operators.human import match_first_name
from .operators.pairs import score_pairs
from .operators.phonetic import with_metaphone_key
from .operators.tfidf import paired_cosine, tfidf_cosine_pairs, token_weights


@dataclass
class MatchNamesResult:
    master: DataFrame          # the candidate-pair table with all scores
    name_parts: DataFrame | None = None  # human-channel parse (persisted),
    # reused by pre_screen's cross-surname rule instead of re-parsing
    caches: list = field(default_factory=list)  # tables this run persisted
    # (tf-idf weights, the human parse) that outlive the merge barrier
    # because the LAZY master/backfill still references them

    def release(self) -> None:
        """Unpersist this run's pinned tables. Call once the downstream
        consumers of ``master``/``name_parts`` are materialized (a later
        evaluation would silently recompute them — correct, just slower);
        without this a long-lived session accumulates one weights + parse
        cache per match_names run (same defect class as the block-index
        caches, which release at the merge barrier automatically)."""
        for df in self.caches:
            df.unpersist()
        self.caches.clear()


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
    # backfill bag: drop_common_words=FALSE (the reference's quirk at :729-735)
    df = with_word_bag(df, "name", "bag_nc", drop_common=False, comma_to_space=False)
    return df


def jaro_candidates(
    names: DataFrame,
    max_block: int,
    lsh_hashes: int,
    lsh_bands: int,
    registry: list | None = None,
) -> DataFrame:
    """Blocked candidate pairs (name, match) for the Jaro channel."""
    nonempty = names.where(F.col("clean_name") != "")
    ft = first_token_key(nonempty, "bag_clean", out="bkey").select(
        "name", F.concat(F.lit("ft:"), F.col("bkey")).alias("bkey")
    )
    mp = with_metaphone_key(nonempty, "bag_clean", out="bkey").select(
        "name", F.concat(F.lit("mp:"), F.col("bkey")).alias("bkey")
    )
    lsh = minhash_band_keys(
        nonempty, "bag_clean", num_hashes=lsh_hashes, bands=lsh_bands
    ).select("name", F.concat(F.lit("lsh:"), F.col("band_key")).alias("bkey"))
    # char-shingle LSH: the only family that survives a typo in the first
    # token (which defeats ft, mp AND token-LSH at once) — found and
    # quantified by the blocking-recall harness (recall.py, RECALL_r05)
    csh = char_shingle_band_keys(nonempty, "clean_name").select(
        "name", F.concat(F.lit("csh:"), F.col("band_key")).alias("bkey")
    )
    index = ft.unionByName(mp).unionByName(lsh).unionByName(csh).distinct()
    pairs = pairs_from_index(index, "bkey", max_block=max_block, registry=registry)
    return pairs.select("name", "match").distinct()


def match_names(
    names: DataFrame,
    cosine_threshold: float = COSINE_THRESHOLD,
    jaro_threshold: float = JARO_THRESHOLD,
    max_block: int = 2000,
    lsh_hashes: int = 16,
    lsh_bands: int = 4,
) -> MatchNamesResult:
    """Candidate-pair table with the full score schema
    (match_names.R:806-808): name, match, shared_words, cosine_similarity,
    jw_distance, human_jw_distance, human_cosine_similarity, initials_match.
    """
    # EAGER CHECKPOINT, not persist: prepped is embedded in every channel,
    # every backfill and token_sim — a dozen plan sites. A cached relation
    # keeps its full analyzed subtree in each consumer's plan, and the
    # resulting plan blow-up measured 2.5× e2e at sf0.1 (98 s vs 39 s);
    # checkpoint truncation keeps every consumer's plan a flat scan.
    prepped = materialize(prepare_names(names), eager=True)

    # --- channel 1: human first-name distance (match_names.R:599-601)
    human, name_parts = match_first_name(prepped.select("name"), return_parts=True)
    lo, hi = canonical_pair(F.col("name"), F.col("match"))
    human = (
        human.select(
            lo.alias("_n"), hi.alias("_m"),
            "human_jw_distance", "human_cosine_similarity", "initials_match",
        )
        .withColumnsRenamed({"_n": "name", "_m": "match"})
        .dropDuplicates(["name", "match"])
    )

    # --- channel 2: tf-idf cosine (match_names.R:608-636)
    # ONE tf-idf weights table serves both the cosine channel and the
    # backfill's paired_cosine (identical corpus — round 2 computed and
    # checkpointed it twice); persist covers all four join branches without
    # a barrier job.
    weights = persist_now(
        token_weights(prepped.where(F.col("clean_name") != ""), "bag_clean")
    )
    cosine = tfidf_cosine_pairs(
        prepped.where(F.col("clean_name") != ""),
        "bag_clean",
        threshold=cosine_threshold,
        weights=weights,
    )

    # run-scoped cache registry: this match_names invocation's persisted
    # index/hot-key tables, released at OUR merge barrier (a process-global
    # registry would let a concurrent pipeline's barrier unpersist them)
    block_caches: list = []

    # --- channel 3: shared word (match_names.R:643-654)
    shared = shared_word_pairs(
        prepped, "bag_shared", max_block=max_block, registry=block_caches
    )

    # --- channel 4: Jaro on cleaned names (match_names.R:660-674)
    cand = jaro_candidates(
        prepped, max_block, lsh_hashes, lsh_bands, registry=block_caches
    )
    cand = (
        cand.join(prepped.select("name", F.col("clean_name").alias("clean_a")), "name")
        .join(
            prepped.select(
                F.col("name").alias("match"), F.col("clean_name").alias("clean_b")
            ),
            "match",
        )
    )
    jaro = (
        score_pairs(cand, [("jw_distance", "jaro_distance", "clean_a", "clean_b")])
        .where(F.col("jw_distance") <= jaro_threshold)
        .select("name", "match", "jw_distance")
    )

    master = merge_score_channels(
        cosine, shared, jaro, human, prepped, weights, block_caches=block_caches
    )
    return MatchNamesResult(
        master=master, name_parts=name_parts, caches=[weights, name_parts]
    )


def merge_score_channels(
    cosine: DataFrame,
    shared: DataFrame,
    jaro: DataFrame,
    human: DataFrame,
    prepped: DataFrame,
    weights: DataFrame,
    block_caches: list | None = None,
) -> DataFrame:
    """The 4-way channel merge + set-oriented score backfill — the heart of
    match_names (match_names.R:716-808), factored out so the contract layer
    can drive the REAL merge/backfill code path with oracle-expressible
    channel inputs (contract_extras.q_match_master).

    ``prepped`` must carry (name, bag_clean, bag_nc); ``weights`` is the
    persisted token_weights table the cosine channel used.
    """
    # --- 4-way full outer merge (match_names.R:716-722) ---------------------
    # Each channel contributes DISTINCT (name, match) rows and disjoint
    # score columns, so the 4-way full outer join is equivalent to
    # union-all + one groupBy(name, match) with null-skipping max — ONE
    # shuffle instead of three sequential join shuffles (and at 100 TB,
    # one exchange of the union instead of three pair-keyed exchanges).
    _schema = {
        "shared_words": "bigint",
        "cosine_similarity": "double",
        "jw_distance": "double",
        "human_jw_distance": "double",
        "human_cosine_similarity": "double",
        "initials_match": "boolean",
    }

    def _conform(df: DataFrame) -> DataFrame:
        return df.select(
            "name",
            "match",
            *[
                F.col(c).cast(t) if c in df.columns else F.lit(None).cast(t).alias(c)
                for c, t in _schema.items()
            ],
        )

    merged = (
        _conform(cosine)
        .unionByName(_conform(shared))
        .unionByName(_conform(jaro))
        .unionByName(_conform(human))
        .where(F.col("name") != F.col("match"))
        .groupBy("name", "match")
        .agg(*[F.max(c).alias(c) for c in _schema])
    )
    # Materialize the merged pair table before the backfill: the backfill
    # references `master` on both sides of its joins (missing-score subsets
    # joined back), so without a checkpoint every channel's whole plan would
    # be re-evaluated once per backfill step — O(channels × backfills)
    # recompute. One localCheckpoint makes the backfill linear and truncates
    # the multi-channel lineage that AQE otherwise re-optimizes per stage.
    master = materialize(merged, eager=True)
    # the channel subtrees are now fully evaluated: release the inverted-
    # index caches pairs_from_index pinned (long-lived sessions would
    # otherwise accumulate one full index copy per channel per run).
    # ``block_caches`` is the CALLER's run-scoped registry; None falls back
    # to the module-level registry for registry-less channel builders.
    from .operators.blocking import release_block_caches

    release_block_caches(block_caches)

    # --- set-oriented backfill (match_names.R:729-808) ---------------------
    # shared_words: recompute with drop_common_words=FALSE for missing pairs
    bags_nc = prepped.select("name", "bag_nc")
    master = (
        master.join(bags_nc.withColumnsRenamed({"bag_nc": "_bag_a"}), "name", "left")
        .join(
            bags_nc.withColumnsRenamed({"name": "match", "bag_nc": "_bag_b"}),
            "match",
            "left",
        )
        .withColumn(
            "shared_words",
            F.coalesce(
                "shared_words",
                F.size(F.array_intersect("_bag_a", "_bag_b")).cast("long"),
            ),
        )
        .drop("_bag_a", "_bag_b")
    )
    # cosine: paired tf-idf over the global corpus weights (deviation from
    # the reference, which refits idf on just the missing-pair corpus at
    # :738-783 — one consistent corpus is both cheaper and more principled).
    # `weights` is the same persisted table the cosine channel used.
    missing_cos = master.where(F.col("cosine_similarity").isNull()).select("name", "match")
    backfilled_cos = paired_cosine(missing_cos, weights, "name", "match", "_cos_bf")
    master = master.join(backfilled_cos, ["name", "match"], "left").withColumn(
        "cosine_similarity", F.coalesce("cosine_similarity", "_cos_bf")
    ).drop("_cos_bf")
    # jaro: raw-name Jaro for missing pairs (match_names.R:786-792)
    master = score_pairs(
        master, [("_jw_raw", "jaro_distance", "name", "match")]
    ).withColumn("jw_distance", F.coalesce("jw_distance", "_jw_raw")).drop("_jw_raw")

    # token_sim: symmetric Monge-Elkan over cleaned bags (extension beyond
    # the reference's feature set — the RF feature that separates typo
    # aliases from shared-first-name coincidences; see pairs.py)
    from .operators.pairs import token_set_similarity

    master = token_set_similarity(
        master, prepped.select("name", F.col("bag_clean").alias("bag")),
        bag_col="bag", out="token_sim",
    )

    return master.select(
        "name", "match", "shared_words", "cosine_similarity", "jw_distance",
        "human_jw_distance", "human_cosine_similarity", "initials_match",
        "token_sim",
    )


def incremental_resolve(
    new_names: DataFrame,
    prior_clusters: DataFrame,
    jaro_accept: float = 0.15,
    cosine_accept: float = 0.4,
    shared_words_accept: int = 2,
    member_sample_k: int = 0,
    match_fn=None,
    **match_kwargs,
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
    mm = (match_fn or match_names)(universe, **match_kwargs)
    accepted = mm.master.where(
        (F.col("jw_distance") <= jaro_accept)
        | (F.col("cosine_similarity") >= cosine_accept)
        | (F.col("shared_words") >= shared_words_accept)
    ).select("name", "match")
    prior_edges = prior_clusters.select("name", F.col("group_name").alias("match"))
    return name_clusters(accepted.unionByName(prior_edges))
