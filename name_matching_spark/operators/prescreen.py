"""Pre-screen: verification rules, importance distance, RF match scoring.

Reimplements code/functions/pre_screen_names.R:149-341. Rule order is
load-bearing and preserved exactly:

1. human-name screen (keep=0) BEFORE the human-score fillna;
2. address verification (keep=1);
3. lease-count features (min/max/sum, double-count zeroing, word_count);
4. importance distance to the (p90, p70, ratio≥0.10) region — closed-form
   point-to-convex-polygon distance, replacing the sf geometry at :118-147;
5. prior-review merge (existing labels always win — :220-228);
6. prior-cluster clique completion → keep=prior_check (:232-288);
7. RF screen: keep=0 where rf_prob < cutoff and keep is null (:293-304).

Steps 1-6 build one feature table, as the reference does. Given labels,
it is checkpointed once: the forest's training rows and its final scoring
both read that checkpoint. The cutoff and the accept bar come from one
pass over the held-out scores (``split_thresholds_df``).

Extension (documented): ``auto_accept=True`` adds keep=1 where rf_prob
clears the precision-calibrated accept bar and keep is still null — the
automated stand-in for the reference's human-review step, which is what
lets the pipeline produce end-to-end decisions without a human in the
loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import (
    AUTO_ACCEPT_PRECISION,
    HUMAN_COS_THRESHOLD,
    HUMAN_JW_THRESHOLD,
    IMPORTANCE_MIN_MAX_RATIO,
)
from ..functions.normalize import canonical_pair, word_count_expr
from ..session import materialize
from . import human

_BIG = 1e10
_RF_FEATURES = [
    "shared_words", "cosine_similarity", "jw_distance", "human_jw_distance",
    "word_count", "sum_n",
    # extension beyond the reference's feature list (pre_screen_names.R:66-71):
    # symmetric Monge-Elkan token similarity — the separator between typo
    # aliases and shared-common-token coincidences (see pairs.py)
    "token_sim",
]


# ---------------------------------------------------------------------------
# importance distance (closed form, parity with sf st_distance at :118-147)
# ---------------------------------------------------------------------------

def _region_polygon(max_thr: float, min_thr: float, ratio: float) -> list[tuple[float, float]]:
    """Vertices of {x≥max_thr, y≥min_thr, y≥ratio·x} ∩ [0,1e10]² ∩ {y≤ratio·1e10},
    i.e. the reference's rectangle ∩ triangle."""
    top = ratio * _BIG
    if ratio * max_thr >= min_thr:
        # ratio line is above the horizontal at x = max_thr
        return [
            (max_thr, ratio * max_thr),
            (_BIG, top),
            (max_thr, top),
        ]
    x_cross = min_thr / ratio
    return [
        (max_thr, min_thr),
        (x_cross, min_thr),
        (_BIG, top),
        (max_thr, top),
    ]


def _point_polygon_distance(px: np.ndarray, py: np.ndarray, poly: list[tuple[float, float]]) -> np.ndarray:
    """Distance from points to a convex polygon (0 inside), vectorized."""
    n = len(poly)
    # inside test via sign of cross products (polygon is CCW by construction)
    inside = np.ones(len(px), dtype=bool)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        inside &= cross >= -1e-9
    d = np.full(len(px), np.inf)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        seg2 = dx * dx + dy * dy
        t = np.clip(((px - x1) * dx + (py - y1) * dy) / seg2, 0.0, 1.0) if seg2 > 0 else 0.0
        qx, qy = x1 + t * dx, y1 + t * dy
        d = np.minimum(d, np.hypot(px - qx, py - qy))
    d[inside] = 0.0
    return d


def importance_distance_udf(max_thr: float, min_thr: float, ratio: float):
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    poly = _region_polygon(max_thr, min_thr, ratio)

    def _dist(max_n: pd.Series, min_n: pd.Series) -> pd.Series:
        px = max_n.to_numpy(dtype=np.float64)
        py = min_n.to_numpy(dtype=np.float64)
        return pd.Series(_point_polygon_distance(px, py, poly))

    return pandas_udf(_dist, DoubleType())


def count_percentiles(name_counts: DataFrame) -> tuple[float, float]:
    """(p70, p90) of the per-name counts: the exact interpolated percentile,
    same as R quantile type 7 (pre_screen_names.R:189-192), which keeps
    DuckDB-oracle parity. Spark's ``percentile`` buffers a map from value to
    count, so its memory is O(distinct counts), not O(names)."""
    row = name_counts.agg(
        F.expr("percentile(n, 0.7)").alias("p70"),
        F.expr("percentile(n, 0.9)").alias("p90"),
    ).collect()[0]
    return float(row["p70"]), float(row["p90"])


# ---------------------------------------------------------------------------
# random forest screen
# ---------------------------------------------------------------------------

def _fit_layout(df: DataFrame) -> DataFrame:
    """One sorted partition. MLlib's bagging and split sampling and
    ``randomSplit`` all draw per partition, so a forest fitted on the same
    rows under a different upstream partitioning would differ; on this
    layout it is a function of the rows alone. The labeled set is small by
    construction (see ``split_thresholds_df``)."""
    return df.repartition(1).sortWithinPartitions(*df.columns)


def train_rf(train: DataFrame, num_trees: int = 500, seed: int = 42):
    """RandomForestRegressor on the reference's feature set
    (pre_screen_names.R:66-71): keep ~ shared_words + cosine_similarity +
    jw_distance + human_jw_distance + word_count + sum_n. Fitted on
    ``_fit_layout`` of the labeled rows."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor

    assembler = VectorAssembler(
        inputCols=[f"_f_{c}" for c in _RF_FEATURES],
        outputCol="_features",
        handleInvalid="keep",
    )
    rf = RandomForestRegressor(
        featuresCol="_features",
        labelCol="keep",
        predictionCol="rf_prob",
        numTrees=num_trees,
        seed=seed,
    )
    data = assembler.transform(
        _with_feature_cols(_fit_layout(train.where(F.col("keep").isNotNull())))
        .withColumn("keep", F.col("keep").cast("double"))
    )
    model = rf.fit(data)
    return assembler, model


def _with_feature_cols(df: DataFrame) -> DataFrame:
    for c in _RF_FEATURES:
        df = df.withColumn(f"_f_{c}", F.coalesce(F.col(c).cast("double"), F.lit(0.0)))
    return df


def rf_predict(df: DataFrame, assembler, model) -> DataFrame:
    out = model.transform(assembler.transform(_with_feature_cols(df)))
    return out.drop("_features", *[f"_f_{c}" for c in _RF_FEATURES])


def split_thresholds_df(
    df: DataFrame,
    target_precision: float,
    score_col: str = "rf_prob",
    label_col: str = "keep",
) -> DataFrame:
    """Both routing thresholds as a one-row DataFrame (cutoff, accept).

    ``cutoff`` is the EXACT depth-1 decision-tree split on the score. The
    reference routes reviewer attention with a depth-1 rpart tree on the
    RF score (pre_screen_names.R:88-114). MLlib's DecisionTreeClassifier
    approximates the split through maxBins quantile binning and reports a
    bin boundary; here every observed score is a candidate, and the
    returned cutoff is the UNROUNDED midpoint between the weighted-Gini
    argmin score and the next distinct score (so ``<`` vs ``≤`` downstream
    cannot flip a boundary row; rounding the midpoint could push it past an
    adjacent score when two distinct scores differ by less than the
    rounding step — display rounding belongs to callers). Degenerate
    inputs (one distinct score, or a single class — no split has positive
    gain) give 0.5.

    ``accept`` is the precision-calibrated auto-accept bar: the smallest
    score at which cumulative precision over the descending score order is
    ≥ ``target_precision``, with ties accumulated as a whole group before
    the precision test (a tie group either clears the bar together or not
    at all). 1.0 (accept nothing automatically) when no prefix clears it.

    One pass: a groupBy reduces the input to its DISTINCT scores; one
    ascending window over them gives the left counts (nl, nl1) and the
    next score, an unordered window the totals (nt, nt1); the descending
    cumulative counts are the exact suffix sums ``nt1 - nl1 + n1`` and
    ``nt - nl + n``; one global aggregate picks both thresholds. The
    windows run in one task — right for labeled training samples (~10²-10³
    rows by construction; the reference's was ~1 000 pairs). An exact split
    over millions of distinct scores would need a two-pass distributed
    prefix sum instead; out of scope here.

    Determinism: all counts are exact longs; the Gini arithmetic is a fixed
    IEEE-double expression identical to the DuckDB oracle's, and ties break
    on the smaller score.
    """
    g = (
        df.where(F.col(label_col).isNotNull())
        .groupBy(F.col(score_col).alias("s"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(label_col).cast("bigint")).alias("n1"),
        )
    )
    asc = Window.orderBy("s")
    left = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    every = Window.partitionBy()
    cand = g.select(
        "s",
        "n",
        "n1",
        F.sum("n").over(left).alias("nl"),
        F.sum("n1").over(left).alias("nl1"),
        F.lead("s").over(asc).alias("s_next"),
        F.sum("n").over(every).alias("nt"),
        F.sum("n1").over(every).alias("nt1"),
    ).selectExpr(
        "s",
        "s_next",
        # the right side must be non-empty (the guard also keeps ANSI mode
        # from dividing by nt - nl = 0 on the last score), and one-class
        # inputs (nt1 = 0 or nt1 = nt) have zero gain everywhere — no
        # meaningful split. Weighted Gini impurity of the two children;
        # all counts are exact integers, the double expression mirrors the
        # DuckDB oracle token-for-token so both engines round identically
        """CASE WHEN s_next IS NOT NULL AND nt1 > 0 AND nt1 < nt THEN round(
                 (cast(nl as double) * (1.0
                    - (cast(nl1 as double)/cast(nl as double))
                      * (cast(nl1 as double)/cast(nl as double))
                    - (cast(nl-nl1 as double)/cast(nl as double))
                      * (cast(nl-nl1 as double)/cast(nl as double)))
                + cast(nt-nl as double) * (1.0
                    - (cast(nt1-nl1 as double)/cast(nt-nl as double))
                      * (cast(nt1-nl1 as double)/cast(nt-nl as double))
                    - (cast((nt-nl)-(nt1-nl1) as double)/cast(nt-nl as double))
                      * (cast((nt-nl)-(nt1-nl1) as double)/cast(nt-nl as double)))
                 ) / cast(nt as double), 12) END as impurity""",
        # the positives and all labelled rows at scores ≥ s
        "nt1 - nl1 + n1 as ctp",
        "nt - nl + n as cn",
    )
    # argmin by (impurity, s): min over a struct orders lexicographically by
    # field — exactly the tie-break rule — and degenerates to NULL on an
    # empty candidate set → default 0.5
    best = F.min(
        F.when(F.col("impurity").isNotNull(), F.struct("impurity", "s", "s_next"))
    ).alias("b")
    clears = F.col("ctp").cast("double") / F.col("cn").cast("double") >= F.lit(
        target_precision
    )
    return cand.agg(best, F.min(F.when(clears, F.col("s"))).alias("a")).select(
        F.coalesce(
            (F.col("b.s") + F.col("b.s_next")) / F.lit(2.0), F.lit(0.5)
        ).alias("cutoff"),
        F.coalesce("a", F.lit(1.0)).alias("accept"),
    )


def rf_thresholds(
    train: DataFrame, num_trees: int = 500, seed: int = 42
) -> tuple[float, float]:
    """(cutoff, accept_threshold) from one 80/20 split of ``_fit_layout``
    of the labeled rows, by ``split_thresholds_df`` over the held-out
    scores in one Spark action.

    ``cutoff`` is the reference's reviewer-routing rule: a depth-1 decision
    tree on rf_prob (pre_screen_names.R:88-114) — below it, auto-reject.
    Exact Gini argmin, not MLlib's binned approximation; hash-oracled by
    the ``cutoff_split`` contract query.

    ``accept_threshold`` is the AUTO-ACCEPT bar: the smallest held-out
    rf_prob at which cumulative precision is ≥ ``AUTO_ACCEPT_PRECISION``.
    The reference sends everything above the cutoff to HUMAN review;
    replacing that review with "accept at the same cutoff" was measured
    (sf1 stress run) to admit borderline cross-entity pairs whose
    transitive closure collapses cluster precision to ~0.01. Acceptance
    must clear a stricter, precision-calibrated bar; the band between the
    two thresholds stays keep=NULL — the review queue (jobs/review_job.py
    emits it)."""
    labeled = _fit_layout(train.where(F.col("keep").isNotNull()))
    tr, te = labeled.randomSplit([0.8, 0.2], seed=seed)
    assembler, model = train_rf(tr, num_trees=num_trees, seed=seed)
    row = split_thresholds_df(
        rf_predict(te, assembler, model), AUTO_ACCEPT_PRECISION
    ).first()
    cutoff = float(row["cutoff"])
    return cutoff, max(float(row["accept"]), cutoff)


# ---------------------------------------------------------------------------
# the pre-screen stage
# ---------------------------------------------------------------------------

def human_screen_rule(df: DataFrame) -> DataFrame:
    """Rule 1 (pre_screen_names.R:154-160): keep=0 for far-apart human
    first names, THEN fillna the human scores — order is load-bearing."""
    return df.withColumn(
        "keep",
        F.when(
            (F.col("human_jw_distance") > HUMAN_JW_THRESHOLD)
            & (F.col("human_cosine_similarity") > HUMAN_COS_THRESHOLD)
            & F.col("initials_match").isNull(),
            F.lit(0.0),
        ),
    ).fillna(
        {"human_jw_distance": 1.0, "human_cosine_similarity": 1.0, "initials_match": False}
    )


def cross_surname_screen(df: DataFrame, name_parts: DataFrame | None = None) -> DataFrame:
    """Rule 1b (extension; automated stand-in for the reference's human
    review): two names that BOTH parse as human names with clearly
    DIFFERENT last names are not the same person — a reviewer rejects
    'JASON NELSON' vs 'JASON NGUYEN' on sight. Applied only where keep is
    still NULL and before address verification, so address evidence can
    still override (mirroring the reference's rule order,
    pre_screen_names.R:154-169).

    Surname resolution is dictionary-first with a positional fallback: when
    the dictionary parse yields no last name (surnames outside the 55-entry
    dictionary — the common case on real data), the LAST token of the
    cleaned name stands in, provided the name has ≥2 tokens and the token
    is ≥3 chars and not a known first name. Without the fallback this
    screen is blind to exactly the pairs that explode quadratically at
    scale — same-initials names with distinct out-of-dictionary surnames
    ('A J SUMKUP' vs 'A J WUKBI') — which was measured to collapse sf1
    pairwise precision to 0.01. A Levenshtein > 2 guard keeps typo'd
    surname aliases ('JOHNSON'/'JOHNSTON') out of the auto-reject.

    ``name_parts`` (name, clean_name, company, last_name — the human
    channel's checkpointed parse, human.name_parts) lets the
    dictionary parse over the name universe run once per pipeline; when
    None (standalone use, or a resume that skipped ``match_names``) the same
    parse (``human.parse_names``) runs unpinned on the pair table's names,
    inside the plan of the feature table it feeds.
    """
    from ..constants import FIRST_NAMES, NICKNAMES

    first_tokens = sorted(
        set(FIRST_NAMES) | {s for s, _ in NICKNAMES} | {n for _, n in NICKNAMES}
    )
    if name_parts is None:
        name_parts = human.parse_names(
            df.select("name").unionByName(df.select(F.col("match").alias("name")))
        )
    parts = name_parts.select(
        F.col("name").alias("nm"), "clean_name", "company", "last_name"
    )
    toks = F.split(F.col("clean_name"), " ")
    # Screen-surname = the first ≥3-char token that is NOT a known first
    # name. This deliberately ignores the dictionary parse's last_name for
    # the comparison: (a) fabricated/out-of-dictionary surnames parse to
    # NULL, and (b) ambiguous tokens in BOTH dictionaries (THOMAS, SCOTT)
    # win rank 2 and collapse every "THOMAS <X>" / "<Y> THOMAS" name onto
    # last=THOMAS, blinding the screen — both measured at the sf1 stress
    # run. A human reviewer keys on the distinctive token; so does this.
    # NOTE the cleaned human form puts compacted initials LAST
    # ("A H Sotzezom" → "SOTZEZOM AH"), so position alone is unreliable —
    # filter by shape and take the first survivor; NULL when none exists
    # (all-first-name/initial names never auto-reject here).
    cand = F.filter(
        toks, lambda t: (F.length(t) >= 3) & ~t.isin(*first_tokens)
    )
    # first-name/initial-shaped tokens (≤2 chars or dictionary first names)
    first_ish = F.filter(
        toks, lambda t: (F.length(t) <= 2) | t.isin(*first_tokens)
    )
    # Human-likeness: NOT company-classified, OR shaped like a person
    # (exactly one surname candidate + a first-name/initial token). The
    # classifier's substring keywords misfire on person names — '\sEP'
    # matches compacted initials ("ZIWHINZIVLIKNA EP"), 'RIVER' matches
    # RIVERA — and a misclassified person skips the screen entirely (sf1).
    # Multi-candidate names (real companies, reordered-core aliases) stay
    # excluded, so company alias pairs are never cross-compared.
    human_like = (~F.col("company")) | (
        (F.size(cand) == 1) & (F.size(first_ish) >= 1)
    )
    # surname for comparison: the candidate token; for all-first-name
    # names ("THOMAS EMILY") fall back to the dictionary parse's surname
    # (≥3 chars) — the only remaining signal there
    surrogate = F.when(
        (F.size(toks) >= 2) & (F.size(cand) >= 1), F.element_at(cand, 1)
    ).when(
        (F.size(toks) >= 2)
        & (F.size(cand) == 0)
        & (F.length("last_name") >= 3),
        F.col("last_name"),
    )
    parts = parts.select(
        "nm",
        human_like.alias("_hum"),
        surrogate.alias("_last"),
    )
    a = parts.select(
        F.col("nm").alias("name"),
        F.col("_hum").alias("_hum_a"),
        F.col("_last").alias("_last_a"),
    )
    b = parts.select(
        F.col("nm").alias("match"),
        F.col("_hum").alias("_hum_b"),
        F.col("_last").alias("_last_b"),
    )
    out = (
        df.join(a, "name", "left")
        .join(b, "match", "left")
        .withColumn(
            "keep",
            F.when(
                F.col("keep").isNull()
                & F.coalesce("_hum_a", F.lit(False))
                & F.coalesce("_hum_b", F.lit(False))
                & F.col("_last_a").isNotNull()
                & F.col("_last_b").isNotNull()
                & (F.levenshtein("_last_a", "_last_b") > 2),
                F.lit(0.0),
            ).otherwise(F.col("keep")),
        )
    )
    return out.drop("_hum_a", "_hum_b", "_last_a", "_last_b")


def address_verify_rule(df: DataFrame, address_matches: DataFrame | None) -> DataFrame:
    """Rule 2 (pre_screen_names.R:166-169): keep=1 where an address match
    exists; adds the ``address`` column."""
    if address_matches is None:
        return df.withColumn("address", F.lit(None).cast("string"))
    return df.join(
        address_matches.select("name", "match", "address"), ["name", "match"], "left"
    ).withColumn("keep", F.when(F.col("address").isNotNull(), 1.0).otherwise(F.col("keep")))


def merge_labels(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Never-overwrite label merge (pre_screen_names.R:220-228): rows from
    ``existing`` win on (name, match); deterministic via an explicit
    priority + window instead of Spark's order-dependent dropDuplicates."""
    u = existing.withColumn("_prio", F.lit(0)).unionByName(
        new.withColumn("_prio", F.lit(1))
    )
    w = Window.partitionBy("name", "match").orderBy("_prio")
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )


def pre_screen(
    name_matches: DataFrame,
    address_matches: DataFrame | None,
    name_counts: DataFrame,
    labeled_pairs: DataFrame | None = None,
    reviewed: DataFrame | None = None,
    prior_clusters: DataFrame | None = None,
    num_trees: int = 500,
    auto_accept: bool = False,
    name_parts: DataFrame | None = None,
) -> DataFrame:
    df = name_matches

    # 1. human-name screen, then fillna (order matters: :154-160)
    df = human_screen_rule(df)

    # 1b. cross-surname screen (extension; see cross_surname_screen docstring)
    df = cross_surname_screen(df, name_parts=name_parts)

    # 2. address verification (:166-169)
    df = address_verify_rule(df, address_matches)

    # 3. count features (:170-183)
    counts = name_counts.select("name", "n")
    df = (
        df.join(counts.withColumnsRenamed({"n": "n_x"}), "name", "left")
        .join(counts.withColumnsRenamed({"name": "match", "n": "n_y"}), "match", "left")
        .withColumn("min_n", F.least("n_x", "n_y"))
        .withColumn("max_n", F.greatest("n_x", "n_y"))
        .withColumn(
            "sum_n", F.coalesce("n_x", F.lit(0)) + F.coalesce("n_y", F.lit(0))
        )
        .withColumn("actual_n_x", F.col("n_x"))
        .withColumn("actual_n_y", F.col("n_y"))
    )
    # double-count zeroing (:179-181) — deterministic row order via (name, match)
    w_name = Window.partitionBy("name").orderBy("match")
    w_match = Window.partitionBy("match").orderBy("name")
    name_set = df.select(F.col("name").alias("match")).distinct().withColumn("_in_names", F.lit(1))
    df = (
        df.withColumn("n_x", F.when(F.row_number().over(w_name) > 1, 0).otherwise(F.col("n_x")))
        .withColumn("n_y", F.when(F.row_number().over(w_match) > 1, 0).otherwise(F.col("n_y")))
        .join(name_set, "match", "left")
        .withColumn("n_y", F.when(F.col("_in_names") == 1, 0).otherwise(F.col("n_y")))
        .drop("_in_names")
        .fillna({"n_x": 0, "n_y": 0})
        .withColumn("word_count", word_count_expr("name", "match"))
    )

    # 4. importance distance (:189-198)
    p70, p90 = count_percentiles(name_counts)
    dist_udf = importance_distance_udf(p90, p70, IMPORTANCE_MIN_MAX_RATIO)
    df = df.withColumn(
        "importance_dist",
        dist_udf(F.col("max_n").cast("double"), F.col("min_n").cast("double")),
    )

    # 5. prior-review merge: existing labels win (:220-228)
    if reviewed is not None:
        rev = reviewed.select("name", "match", F.col("keep").cast("double").alias("_keep_rev"))
        df = df.join(rev, ["name", "match"], "left").withColumn(
            "keep", F.coalesce("_keep_rev", "keep")
        ).drop("_keep_rev")

    # 6. prior-cluster clique completion (:232-288)
    if prior_clusters is not None:
        completed = clique_completion(prior_clusters)
        df = df.join(
            completed.withColumn("prior_check", F.lit(1.0)), ["name", "match"], "left"
        ).withColumn("keep", F.coalesce("prior_check", "keep"))
    else:
        df = df.withColumn("prior_check", F.lit(None).cast("double"))

    # 7. RF screen (:293-304). ``labeled_pairs`` carries (name, match, keep)
    # human labels (the fixture equivalent of training/leases_sample.csv);
    # features are taken from the pair table just computed. Both tables
    # are checkpointed: the training rows and the final scoring read the
    # pair table; the split and the final fit read ``train``. Its fillna
    # is not redundant with ``_with_feature_cols``: ``_fit_layout`` sorts
    # on every column, so NULL vs 0.0 changes the row order of the fit.
    if labeled_pairs is not None:
        df = materialize(df, eager=True)
        train = materialize(
            df.select("name", "match", *_RF_FEATURES)
            .join(
                labeled_pairs.select(
                    "name", "match", F.col("keep").cast("double").alias("_lbl")
                ),
                ["name", "match"],
            )
            .withColumn("keep", F.col("_lbl"))
            .drop("_lbl")
            .fillna({c: 0.0 for c in _RF_FEATURES}),
            eager=True,
        )
        cutoff, accept_thr = rf_thresholds(train, num_trees=num_trees)
        assembler, model = train_rf(train, num_trees=num_trees)
        df = rf_predict(df, assembler, model)
        df = df.withColumn(
            "keep",
            F.when((F.col("rf_prob") < cutoff) & F.col("keep").isNull(), 0.0).otherwise(
                F.col("keep")
            ),
        )
        if auto_accept:
            # acceptance clears the precision-calibrated bar, NOT the
            # reviewer-routing cutoff; the band [cutoff, accept_thr) stays
            # NULL — the review queue (see rf_thresholds docstring)
            df = df.withColumn(
                "keep",
                F.when(
                    (F.col("rf_prob") >= accept_thr) & F.col("keep").isNull(), 1.0
                ).otherwise(F.col("keep")),
            )
    return df


def review_summary(stage_tables: list[tuple[str, DataFrame, bool]]) -> DataFrame:
    """Review-progress metrics per stage — the reference's summary report
    (markdown_summary/name_matching_summary.Rmd:31-92, makefile:148-152)
    as a queryable table: (stage, n_total, n_reviewed, n_pending,
    n_accepted, n_rejected).

    ``stage_tables`` is [(stage_name, pair_table, gate_importance)]; with
    ``gate_importance`` the population is restricted to importance_dist == 0
    — the rows the reference sends to human review (Rmd:31-49). Reviewed =
    keep is not null; accepted/rejected split it by value."""
    outs = []
    for stage, df, gate in stage_tables:
        d = df.where(F.col("importance_dist") == 0) if gate else df
        outs.append(
            d.agg(
                F.count("*").cast("bigint").alias("n_total"),
                F.count("keep").cast("bigint").alias("n_reviewed"),
                (F.count("*") - F.count("keep")).cast("bigint").alias("n_pending"),
                F.count(F.when(F.col("keep") == 1, 1)).cast("bigint").alias("n_accepted"),
                F.count(F.when(F.col("keep") == 0, 1)).cast("bigint").alias("n_rejected"),
            ).select(F.lit(stage).alias("stage"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def clique_completion(clusters: DataFrame) -> DataFrame:
    """All C(n,2) canonical edges within each prior cluster
    (pre_screen_names.R:40-50, 249-255). ``clusters`` is (name, group_name);
    the component includes the representative itself."""
    full = clusters.select("name", "group_name").unionByName(
        clusters.select(F.col("group_name").alias("name"), "group_name")
    ).distinct()
    a = full.select("group_name", F.col("name").alias("_na"))
    b = full.select("group_name", F.col("name").alias("_nb"))
    lo, hi = canonical_pair(F.col("_na"), F.col("_nb"))
    return (
        a.join(b, "group_name")
        .where(F.col("_na") < F.col("_nb"))
        .select(lo.alias("name"), hi.alias("match"))
        .distinct()
    )
