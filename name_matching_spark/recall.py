"""Blocking-recall verification: exhaustive UNBLOCKED ground truth per
blocked-pair channel.

Round-4 lesson (VERDICT r4 item 1): every contract oracle mirrors the
operator's own blocking, so a blocking bug that silently LOSES pairs is
invisible to the hash gate — proven by the simhash banding defect
(``dedup.py``: the contract config missed every hamming-4..6 pair and
stayed "green"). The reference computes pairs with exhaustive all-pairs
loops (match_names.R:468-490); this module owns that guarantee
mechanically: at a small scale factor it computes the TRUE pair set per
channel by brute force — plain Python loops over collected sets, numpy,
or DuckDB all-pairs SQL, deliberately independent of the Spark join
shapes — and compares the blocked operator output against it, stating
every designed miss rate numerically.

Exact channels (blocked output MUST equal truth — asserted in
tests/test_recall.py and recorded in RECALL_r{N}.json):

- ``simhash_pairs``   : pigeonhole guarantee (bands >= max_hamming + 1)
- ``dedup_jaccard``   : J > 0 requires >= 1 shared shingle (no max_df)
- ``dedup_jaccard`` with max_df: exact over the SURVIVING shingle space,
  with every miss vs the unfiltered truth explained by a dropped hot
  shingle (the lineage the operator returns)
- ``human_channel``   : the last-name-blocked self-join must equal the
  Python double loop over the parts table; cross-surname exclusions are
  the reference's design, counted not asserted

Probabilistic channels (measured recall vs a numerically stated
expectation):

- ``dedup_minhash``   : per-pair hit probability 1 - (1 - J^r)^b; J = 1
  pairs MUST always collide (equal signatures); measured recall must sit
  within normal-approximation noise of the expectation
- ``ann_topk`` / ``ivf_topk``: measured recall@k vs exact numpy cosine
  truth, asserted floors
- Jaro channel (first-token ∪ double-metaphone ∪ MinHash-LSH union
  blocking, ``pipeline.jaro_candidates``): recall vs DuckDB all-pairs
  ``jaro_similarity`` truth, reported per key family and for the union —
  the blocker-miss term behind the unrestricted-F1 number.
"""

from __future__ import annotations

import math


def _canon(a: str, b: str) -> tuple:
    """Unordered-pair canonical form shared by every truth/blocked set."""
    return (a, b) if a <= b else (b, a)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# brute-force primitives (reference semantics: all-pairs loops)
# ---------------------------------------------------------------------------

def _shingle_set(text: str | None, n: int) -> frozenset:
    toks = [t for t in (text or "").split(" ") if t != ""]
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def _token_set(text: str | None) -> frozenset:
    return frozenset(t for t in (text or "").split(" ") if t != "")


def _all_pairs_jaccard(sets: dict, threshold: float) -> dict:
    """{(id_a, id_b): J} over EVERY pair with id_a < id_b and J >= threshold
    — the exhaustive loop the reference's semantics imply."""
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        sa = sets[a]
        for b in ids[i + 1 :]:
            sb = sets[b]
            union = len(sa | sb)
            if union == 0:
                continue
            j = len(sa & sb) / union
            if j >= threshold:
                out[(a, b)] = j
    return out


def _pair_set(df: DataFrame, a: str = "id_a", b: str = "id_b") -> set:
    return {(r[a], r[b]) for r in df.select(a, b).collect()}


# ---------------------------------------------------------------------------
# exact channels
# ---------------------------------------------------------------------------

def recall_simhash_pairs(spark: SparkSession, sf_dir: str) -> dict:
    """Contract config of ``q_simhash_pairs`` (bits=48, bands auto-widened
    to 8, max_hamming=6) vs brute-force all-pairs Hamming over the same
    fingerprints. Guarantee: EXACT (pigeonhole) — missed must be 0."""
    from .contract_extras import _dup_docs
    from .operators.dedup import simhash, simhash_near_pairs

    sims = simhash(_dup_docs(spark, sf_dir), bits=48).localCheckpoint(eager=True)
    vals = {r["id"]: int(r["simhash"]) for r in sims.collect()}
    ids = sorted(vals)
    truth = {}
    for i, a in enumerate(ids):
        ha = vals[a]
        for b in ids[i + 1 :]:
            d = bin(ha ^ vals[b]).count("1")
            if d <= 6:
                truth[(a, b)] = d
    blocked = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(sims, bits=48, bands=4, max_hamming=6).collect()
    }
    missed = sorted(set(truth) - set(blocked))
    extra = sorted(set(blocked) - set(truth))
    wrong = [p for p in truth if p in blocked and blocked[p] != truth[p]]
    return {
        "guarantee": "exact (pigeonhole: bands auto-widened to >= max_hamming+1)",
        "truth_pairs": len(truth),
        "blocked_pairs": len(blocked),
        "missed": len(missed),
        "extra": len(extra),
        "value_mismatches": len(wrong),
        "recall": 1.0 if not truth else 1 - len(missed) / len(truth),
        "designed_miss_rate": 0.0,
    }


def recall_jaccard(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> dict:
    """Contract config of ``q_dedup_jaccard`` (word 3-grams, J >= 0.5, no
    max_df) vs the exhaustive Python loop. Guarantee: EXACT (J > 0 requires
    a shared shingle, and the shared-shingle join keys on exactly that)."""
    from .contract_extras import _dup_docs
    from .operators.dedup import ngram_jaccard_pairs

    docs = _dup_docs(spark, sf_dir).localCheckpoint(eager=True)
    sets = {r["doc_id"]: _shingle_set(r["text"], 3) for r in docs.collect()}
    truth = _all_pairs_jaccard(sets, threshold)
    pairs, _ = ngram_jaccard_pairs(docs, threshold=threshold, n=3)
    blocked = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()
    }
    missed = sorted(set(truth) - set(blocked))
    extra = sorted(set(blocked) - set(truth))
    max_vdiff = max(
        (abs(blocked[p] - truth[p]) for p in truth if p in blocked), default=0.0
    )
    return {
        "guarantee": "exact (J>0 requires a shared shingle; no max_df)",
        "truth_pairs": len(truth),
        "blocked_pairs": len(blocked),
        "missed": len(missed),
        "extra": len(extra),
        "max_jaccard_abs_diff": max_vdiff,
        "recall": 1.0 if not truth else 1 - len(missed) / len(truth),
        "designed_miss_rate": 0.0,
    }


def recall_jaccard_maxdf(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, max_df: int = 40
) -> dict:
    """With ``max_df`` the operator's CONTRACT changes: J is Jaccard over
    the shingles that survive the hot-shingle drop. Verify (a) the blocked
    output equals the exhaustive loop over the FILTERED shingle space, and
    (b) every pair present in the unfiltered truth but absent here involves
    at least one dropped shingle — i.e. the loss is fully explained by the
    returned ``dropped`` lineage, never silent."""
    from .contract_extras import _dup_docs
    from .operators.dedup import ngram_jaccard_pairs

    docs = _dup_docs(spark, sf_dir).localCheckpoint(eager=True)
    raw = {r["doc_id"]: _shingle_set(r["text"], 3) for r in docs.collect()}
    # document frequency over DISTINCT per-doc shingles, as the operator
    from collections import Counter

    df_count = Counter(s for ss in raw.values() for s in ss)
    hot = {s for s, c in df_count.items() if c > max_df}
    filt = {i: frozenset(s - hot) for i, s in raw.items()}
    truth_filtered = _all_pairs_jaccard(filt, threshold)
    truth_unfiltered = _all_pairs_jaccard(raw, threshold)

    pairs, dropped = ngram_jaccard_pairs(docs, threshold=threshold, n=3, max_df=max_df)
    blocked = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    dropped_shingles = {r["shingle"] for r in dropped.collect()}

    missed_f = sorted(set(truth_filtered) - set(blocked))
    extra_f = sorted(set(blocked) - set(truth_filtered))
    lost_vs_unfiltered = sorted(set(truth_unfiltered) - set(blocked))
    unexplained = [
        (a, b)
        for a, b in lost_vs_unfiltered
        if not (raw[a] & hot) and not (raw[b] & hot)
    ]
    return {
        "guarantee": (
            "exact over the surviving shingle space; every unfiltered-truth "
            "miss must touch a dropped hot shingle (lineage-explained)"
        ),
        "max_df": max_df,
        "hot_shingles_dropped": len(hot),
        "dropped_lineage_rows": len(dropped_shingles),
        "lineage_matches_bruteforce": dropped_shingles == hot,
        "truth_pairs_filtered_space": len(truth_filtered),
        "blocked_pairs": len(blocked),
        "missed_in_filtered_space": len(missed_f),
        "extra_in_filtered_space": len(extra_f),
        "truth_pairs_unfiltered": len(truth_unfiltered),
        "lost_vs_unfiltered_truth": len(lost_vs_unfiltered),
        "losses_unexplained_by_lineage": len(unexplained),
    }


# ---------------------------------------------------------------------------
# probabilistic channels
# ---------------------------------------------------------------------------

def recall_minhash(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    report_floor_j: float = 0.3,
) -> dict:
    """Contract config of ``q_dedup_minhash`` (16 hashes, 4 bands → r=4).
    Designed per-pair hit probability for true token-set Jaccard J:
    ``p(J) = 1 - (1 - J^r)^b``. The artifact states measured vs expected
    recall in J-buckets; the hard gates are (a) J = 1 pairs ALWAYS collide
    (equal signatures ⇒ every band collides) and (b) overall measured
    recall >= expectation - 3σ (normal approximation of the Bernoulli
    sum)."""
    from .contract_extras import _MH_SEED, _dup_docs
    from .operators.dedup import minhash_lsh_candidates

    r = num_hashes // bands
    docs = _dup_docs(spark, sf_dir).localCheckpoint(eager=True)
    sets = {r_["doc_id"]: _token_set(r_["text"]) for r_ in docs.collect()}
    sets = {i: s for i, s in sets.items() if s}  # operator skips empty docs
    truth = _all_pairs_jaccard(sets, report_floor_j)
    cand = _pair_set(
        minhash_lsh_candidates(docs, num_hashes=num_hashes, bands=bands, seed=_MH_SEED)
    )

    def p_hit(j: float) -> float:
        return 1 - (1 - j**r) ** bands

    by_bucket = {}
    for label, lo, hi in [
        ("[0.3,0.5)", 0.3, 0.5),
        ("[0.5,0.7)", 0.5, 0.7),
        ("[0.7,0.9)", 0.7, 0.9),
        ("[0.9,1.0)", 0.9, 1.0),
        ("[1.0]", 1.0, math.inf),
    ]:
        ps = [(pair, j) for pair, j in truth.items() if lo <= j < hi or j == lo == 1.0]
        if not ps:
            continue
        hits = sum(1 for pair, _ in ps if pair in cand)
        by_bucket[label] = {
            "pairs": len(ps),
            "measured_recall": hits / len(ps),
            "expected_recall": sum(p_hit(j) for _, j in ps) / len(ps),
        }
    n = len(truth)
    exp_mean = sum(p_hit(j) for j in truth.values()) / n if n else 1.0
    sigma = (
        math.sqrt(sum(p_hit(j) * (1 - p_hit(j)) for j in truth.values())) / n
        if n
        else 0.0
    )
    measured = sum(1 for pair in truth if pair in cand) / n if n else 1.0
    exact_dups = [pair for pair, j in truth.items() if j == 1.0]
    exact_hit = all(pair in cand for pair in exact_dups)
    return {
        "guarantee": f"designed per-pair hit prob 1-(1-J^{r})^{bands}; J=1 always",
        "num_hashes": num_hashes,
        "bands": bands,
        "rows_per_band": r,
        "truth_pairs_j_ge_0.3": n,
        "candidate_pairs": len(cand),
        "measured_recall": measured,
        "expected_recall": exp_mean,
        "three_sigma": 3 * sigma,
        "within_3_sigma": measured >= exp_mean - 3 * sigma,
        "exact_dup_pairs": len(exact_dups),
        "exact_dup_recall_must_be_1": 1.0 if exact_hit else 0.0,
        "by_jaccard_bucket": by_bucket,
    }


def _numpy_truth_topk(ids, mat, k: int, n_queries: int = 20):
    """Exact cosine top-k in numpy (no Spark) over (ids, matrix) rows."""
    import numpy as np

    ids = np.asarray(ids)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = mat / np.where(norms == 0, 1.0, norms)
    qmask = ids < n_queries
    cos = unit[qmask] @ unit.T
    truth = {}
    for qi, qid in enumerate(ids[qmask]):
        row = cos[qi].copy()
        row[ids == qid] = -2.0  # exclude self
        top = ids[np.argsort(-row, kind="stable")[:k]]
        truth[int(qid)] = set(int(x) for x in top)
    return truth


def _driver_embeddings(sf_dir: str):
    import duckdb
    import numpy as np

    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).df()
    ids = df["vec_id"].to_numpy()
    mat = np.array([np.asarray(e, dtype=np.float64) for e in df["embedding"]])
    return ids, mat


def _clustered_embeddings(
    n_clusters: int = 20, per_cluster: int = 25, dim: int = 64, noise: float = 0.15
):
    """Deterministic clustered fixture — the regime ANN serves (real
    embedding corpora are clustered; the driver's table is isotropic
    noise, the adversarial worst case where no locality exists for LSH
    or IVF to exploit)."""
    import numpy as np

    rng = np.random.RandomState(12345)
    centers = rng.randn(n_clusters, dim)
    mat = np.repeat(centers, per_cluster, axis=0) + noise * rng.randn(
        n_clusters * per_cluster, dim
    )
    ids = np.arange(n_clusters * per_cluster)
    return ids, mat


def _emb_df(spark: SparkSession, ids, mat) -> DataFrame:
    rows = [
        (int(i), [float(x) for x in v.astype("float32")]) for i, v in zip(ids, mat)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _topk_recall(truth: dict, result_rows) -> float:
    got: dict[int, set] = {}
    for r in result_rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return sum(
        len(got.get(qid, set()) & t) / len(t) for qid, t in truth.items()
    ) / len(truth)


def recall_ann_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> dict:
    """RP-LSH ANN recall@k vs exact numpy cosine truth on BOTH data
    regimes: the deterministic clustered fixture carries the asserted
    floors (locality exists → LSH must find it), the driver's isotropic
    table is reported as the stated worst case (top-k of directionless
    noise has no locality; low recall there is the data, not a defect —
    brute force is the documented operator for that regime)."""
    from .operators.similarity import ann_topk

    out: dict = {
        "guarantee": (
            "recall@k floors vs exact numpy cosine truth on the clustered "
            "fixture; isotropic driver table reported as the no-locality "
            "worst case"
        ),
        "k": k,
    }
    for regime, (ids, mat), planes_list in [
        ("clustered", _clustered_embeddings(), [8]),
        ("isotropic_driver", _driver_embeddings(sf_dir), [4, 8]),
    ]:
        truth = _numpy_truth_topk(ids, mat, k)
        emb = _emb_df(spark, ids, mat).localCheckpoint(eager=True)
        q = emb.where(F.col("vec_id") < 20)
        for planes in planes_list:
            single = _topk_recall(
                truth, ann_topk(emb, q, k=k, planes=planes, multi_probe=False).collect()
            )
            multi = _topk_recall(
                truth, ann_topk(emb, q, k=k, planes=planes, multi_probe=True).collect()
            )
            out[f"{regime}_planes{planes}"] = {
                "recall_single_probe": single,
                "recall_multi_probe": multi,
            }
    # single-probe at 8 planes splits tight clusters across one-bit bucket
    # boundaries by construction (a near-zero hyperplane dot flips sign
    # under noise) — multi-probe is the documented operating mode and
    # carries the meaningful floor
    out["floor_clustered_multi"] = 0.80
    out["floor_clustered_single"] = 0.30
    return out


def recall_ivf_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> dict:
    """IVF ANN recall@k vs exact numpy cosine truth — contract config
    (16 centroids, 2 probes) on the clustered fixture (asserted floor)
    and the isotropic driver table (reported worst case, with the probe
    sweep showing recall is bought back by n_probe where the data has no
    cluster structure)."""
    from .operators.similarity import ivf_topk

    out: dict = {
        "guarantee": (
            "recall@k floor vs exact numpy cosine truth on the clustered "
            "fixture; isotropic driver table reported with probe sweep"
        ),
        "k": k,
        "n_centroids": 16,
    }
    for regime, (ids, mat), configs in [
        # (n_centroids, n_probe, kmeans_iters): the raw contract config
        # (sampled quantizer) plus the Lloyd-refined operating point that
        # carries the floor
        ("clustered", _clustered_embeddings(), [(16, 2, 0), (20, 2, 2)]),
        ("isotropic_driver", _driver_embeddings(sf_dir), [(16, 2, 0), (16, 8, 0)]),
    ]:
        truth = _numpy_truth_topk(ids, mat, k)
        emb = _emb_df(spark, ids, mat).localCheckpoint(eager=True)
        q = emb.where(F.col("vec_id") < 20)
        for nc, np_, it in configs:
            rec = _topk_recall(
                truth,
                ivf_topk(
                    emb, q, k=k, n_centroids=nc, n_probe=np_, kmeans_iters=it
                ).collect(),
            )
            out[f"{regime}_c{nc}_probe{np_}_iters{it}"] = rec
    out["floor_clustered_refined"] = 0.85
    return out


def recall_jaro_channel(
    spark: SparkSession, sf_dir: str, threshold: float = 0.15
) -> dict:
    """Blocking recall of the match_names candidate surface over the
    LABELED fixture corpus (the corpus the F1 gate runs on).

    Two independent ground truths, neither computed through the
    operator's blocking:

    - **jaro truth**: DuckDB all-pairs ``jaro_similarity`` over the
      prepped clean names — an independent engine AND an exhaustive join,
      the reference's own O(n²) semantics (match_names.R:468-490). The
      Jaro-channel union (first-token ∪ double-metaphone ∪ MinHash-LSH,
      ``pipeline.jaro_candidates``) DESIGNEDLY misses jaro-close pairs
      whose every block key differs; the number here states that miss
      rate per key family, and the merged 4-channel master shows how much
      the shared-word/cosine channels buy back.
    - **entity truth**: same-entity pairs from the fixture's
      truth_clusters — the pairs that MUST be candidates for the pipeline
      to cluster them. ``master_recall_vs_entity_truth`` is the
      blocker-miss term behind the unrestricted-F1 number and carries the
      hard floor.
    """
    import os

    import duckdb

    from .datagen import ensure_fixtures
    from .operators.blocking import (
        first_token_key,
        minhash_band_keys,
        pairs_from_index,
    )
    from .operators.phonetic import with_metaphone_key
    from .pipeline import jaro_candidates, match_names, prepare_names

    fx = ensure_fixtures(os.path.basename(sf_dir.rstrip("/")))
    truth_clusters = spark.read.parquet(
        os.path.join(fx, "truth_clusters.parquet")
    ).withColumn("name", F.regexp_replace("name", "É", "E"))
    prepped = prepare_names(truth_clusters.select("name")).localCheckpoint(eager=True)
    nonempty = prepped.where(F.col("clean_name") != "")
    pdf = nonempty.select("name", "clean_name").toPandas()
    # DuckDB jaro_similarity works on UTF-8 BYTES, the kernel on
    # codepoints — identical only on ASCII, which prepped clean names are
    # (É is normalized away); count any exceptions instead of assuming
    non_ascii = int((~pdf["clean_name"].map(lambda s: s.isascii())).sum())
    con = duckdb.connect()
    con.register("n", pdf)
    jaro_truth = {
        (a, b)
        for a, b in con.execute(
            """
            SELECT a.name, b.name
            FROM n a JOIN n b ON a.name < b.name
            WHERE round(1 - jaro_similarity(a.clean_name, b.clean_name), 6) <= ?
            """,
            [threshold],
        ).fetchall()
    }
    con.close()
    ent = truth_clusters.collect()
    by_entity: dict[int, list[str]] = {}
    for r in ent:
        by_entity.setdefault(r["entity_id"], []).append(r["name"])
    entity_truth = {
        (a, b)
        for names_ in by_entity.values()
        for i, a in enumerate(sorted(names_))
        for b in sorted(names_)[i + 1 :]
    }

    def family_pairs(index: DataFrame) -> set:
        p = pairs_from_index(index, "bkey", max_block=1_000_000)
        return {(r["name"], r["match"]) for r in p.select("name", "match").collect()}

    ft = family_pairs(
        first_token_key(nonempty, "bag_clean", out="bkey").select("name", "bkey")
    )
    mp = family_pairs(
        with_metaphone_key(nonempty, "bag_clean", out="bkey").select("name", "bkey")
    )
    lsh = family_pairs(
        minhash_band_keys(nonempty, "bag_clean", num_hashes=16, bands=4).select(
            "name", F.col("band_key").alias("bkey")
        )
    )
    union_pairs = jaro_candidates(nonempty, max_block=1_000_000)
    union = {(r["name"], r["match"]) for r in union_pairs.collect()}
    # the full 4-channel candidate surface (shared-word + cosine + jaro +
    # human), i.e. what downstream scoring/clustering actually sees
    mres = match_names(truth_clusters.select("name").distinct())
    master = {
        _canon(r["name"], r["match"])
        for r in mres.master.select("name", "match").collect()
    }
    # ... plus the address channel the resolve driver adds (shared coded
    # address) — labeled_pairs are EXCLUDED: they are review output over
    # already-surfaced candidates, so counting them as blocking recall
    # would be circular
    from .operators.address import match_addresses

    addr = spark.read.parquet(os.path.join(fx, "addresses.parquet")).withColumn(
        "name", F.regexp_replace("name", "É", "E")
    )
    addr_pairs = {
        _canon(r["name"], r["match"])
        for r in match_addresses(addr).select("name", "match").collect()
    }
    full_surface = master | addr_pairs

    def rec(pairs: set, truth: set) -> float:
        return 1.0 if not truth else len(truth & pairs) / len(truth)

    # transitive-closure recall: a same-entity pair missing from the
    # candidate surface still clusters correctly when a candidate PATH
    # inside the entity connects it (A-B and B-C candidates ⇒ A,B,C one
    # cluster without the A-C edge) — this is the true ceiling on cluster
    # recall and carries the hard floor; the raw pre-closure number is
    # reported beside it
    def closure_recall(edges: set) -> float:
        closed_hits = 0
        for names_ in by_entity.values():
            parent = {n: n for n in names_}

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                if a in parent and b in parent:
                    parent[find(a)] = find(b)
            ns = sorted(names_)
            closed_hits += sum(
                1
                for i, a in enumerate(ns)
                for b in ns[i + 1 :]
                if find(a) == find(b)
            )
        return closed_hits / len(entity_truth) if entity_truth else 1.0

    return {
        "guarantee": (
            "union blocking miss rate stated vs DuckDB all-pairs jaro "
            "truth (independent engine, exhaustive join); hard floor on "
            "the merged candidate surface vs same-entity truth pairs"
        ),
        "jaro_threshold": threshold,
        "names": int(len(pdf)),
        "non_ascii_clean_names": non_ascii,
        "jaro_truth_pairs": len(jaro_truth),
        "vs_jaro_truth": {
            "recall_first_token": rec(ft, jaro_truth),
            "recall_metaphone": rec(mp, jaro_truth),
            "recall_lsh_bands": rec(lsh, jaro_truth),
            "recall_union": rec(union, jaro_truth),
            "recall_master_4ch": rec(master, jaro_truth),
            # with the char-shingle family the union reaches 0.995 on this
            # corpus; the floor guards against a future blocking regression
            "floor_union_regression": 0.95,
        },
        "entity_truth_pairs": len(entity_truth),
        "vs_entity_truth": {
            "recall_jaro_union": rec(union, entity_truth),
            "recall_master_4ch": rec(master, entity_truth),
            "recall_master_4ch_transitive_closure": closure_recall(master),
            "recall_full_surface": rec(full_surface, entity_truth),
            "recall_full_surface_transitive_closure": closure_recall(full_surface),
            "floor_full_surface_closure": 0.99,
        },
        "master_candidates": len(master),
        "address_channel_pairs": len(addr_pairs),
    }


def recall_human_channel(spark: SparkSession, sf_dir: str) -> dict:
    """Human channel (``match_first_name``): EXACT over the last-name
    block, with the cross-surname exclusion quantified.

    The channel's semantics ARE surname-blocked (reference
    match_names.R:498-516 joins on extracted last name), so the
    correctness statement has two parts:

    - **exactness**: the Spark inverted-index self-join over ``last_name``
      must produce exactly the pair set a plain Python double loop over
      the collected, independently-hash-oracled name-part table yields
      ({both human, non-null equal last_name}). This is the blocked-join
      twin of the simhash/jaccard checks — it would catch a key
      normalization bug, a dropped-null bug, or an id-tie dedup bug in
      the join, none of which the mirrored ``human_pairs`` oracle can see.
    - **designed miss**: pairs with the SAME extracted first name but a
      DIFFERENT last name are never candidates, by the reference's own
      design (the pre-screen's cross-surname rule removes such matches
      anyway); the count is reported, not asserted.

    The input universe is synthesized deterministically from the
    operator's own dictionaries (patterns: F L / L, F / initialed /
    middle-named / nickname forms, plus companies that must be filtered
    out) — the driver tables contain no human names (contract_human.py).
    """
    from .constants import FIRST_NAMES, NICKNAMES, SURNAMES
    from .operators.human import match_first_name

    firsts, lasts = list(FIRST_NAMES), list(SURNAMES)
    names: list[str] = []
    for i, last in enumerate(lasts):
        f1 = firsts[i % len(firsts)]
        f2 = firsts[(i * 7 + 3) % len(firsts)]
        names += [
            f"{f1} {last}",
            f"{f2} {last}",
            f"{f1[0]} {last}",
            f"{last}, {f2}",
            f"{f1} {f2[0]} {last}",
        ]
    for i, (std, nick) in enumerate(sorted(NICKNAMES)[:20]):
        last = lasts[(i * 5 + 2) % len(lasts)]
        names += [f"{std} {last}", f"{nick} {last}"]
    names += ["ACME OIL CO", "SMITH DRILLING LLC", "JOHNSON ENERGY INC"]
    names = sorted(set(names))

    df = spark.createDataFrame([(n,) for n in names], ["name"])
    out, parts = match_first_name(df, return_parts=True)
    blocked = {
        _canon(r["name"], r["match"])
        for r in out.select("name", "match").collect()
    }
    rows = parts.select("name", "company", "last_name", "first_name").collect()

    hum = [
        (r["name"], r["last_name"], r["first_name"])
        for r in rows
        if (not r["company"]) and r["last_name"] is not None
    ]
    truth: set = set()
    cross_surname_same_first = 0
    for i in range(len(hum)):
        for j in range(i + 1, len(hum)):
            if hum[i][1] == hum[j][1]:
                truth.add(_canon(hum[i][0], hum[j][0]))
            elif hum[i][2] and hum[i][2] == hum[j][2]:
                cross_surname_same_first += 1
    companies_excluded = sum(1 for r in rows if r["company"])
    return {
        "guarantee": (
            "exact over the surname block (independent Python loop over the "
            "hash-oracled parts table); cross-surname pairs excluded by "
            "reference design, count reported"
        ),
        "universe": len(names),
        "human_rows": len(hum),
        "companies_excluded": companies_excluded,
        "truth_pairs": len(truth),
        "blocked_pairs": len(blocked),
        "missed": len(truth - blocked),
        "extra": len(blocked - truth),
        "recall": round(len(truth & blocked) / max(len(truth), 1), 6),
        "cross_surname_same_first_excluded": cross_surname_same_first,
        "designed_miss_rate": 0.0,
    }


# ---------------------------------------------------------------------------
# artifact
# ---------------------------------------------------------------------------

def run_all(spark: SparkSession, sf_dir: str) -> dict:
    return {
        "sf_dir": sf_dir,
        "simhash_pairs": recall_simhash_pairs(spark, sf_dir),
        "dedup_jaccard": recall_jaccard(spark, sf_dir),
        "dedup_jaccard_maxdf": recall_jaccard_maxdf(spark, sf_dir),
        "dedup_minhash": recall_minhash(spark, sf_dir),
        "ann_topk": recall_ann_topk(spark, sf_dir),
        "ivf_topk": recall_ivf_topk(spark, sf_dir),
        "jaro_channel": recall_jaro_channel(spark, sf_dir),
        "human_channel": recall_human_channel(spark, sf_dir),
    }
