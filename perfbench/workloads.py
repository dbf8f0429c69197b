"""The benchmark's workloads: inputs made from the seed, the timed operation,
and the correctness gates applied to its output.

``cluster``       operators.cc.name_clusters over the same-entity alias
                  pairs of a generated corpus, repeated for the run's
                  measuring time after untimed warm operations. In the
                  traced run one incremental refresh (``refresh_phase``),
                  where the benchmark runs the incremental and io layers,
                  takes the place of the warm operations.
``score_kernel``  operators.pairs.score_pairs with all four string kernels
                  over a materialized table of alias pairs, repeated for the
                  run's measuring time after untimed warm passes. In the
                  traced run one checkpointed batch resolve
                  (``resolve_phase``), where the benchmark runs the extract,
                  address, pre_screen and checkpoint layers, takes the place
                  of the warm passes.

The traced phases replace the warm-up because they warm the JVM and the
Python workers as well, and a traced run has to end within the run deadline
on a slow host.
"""

from __future__ import annotations

import os
import random
import re
import time
from collections import defaultdict

import gates

N_CLUSTER_ENTITIES = 250
CLUSTER_EDGES = 1000
CLUSTER_WARM_OPS = 5
MIN_OPS = 3
N_REFRESH_ENTITIES = 500
REFRESH_BATCHES = 5
N_RESOLVE_ENTITIES = 200
N_KERNEL_ENTITIES = 500
PAIRS_PER_PASS = 150_000
KERNEL_WARM_PASSES = 3
SAME_ENTITY_SHARE = 0.3
KERNEL_PARTITIONS = 8
KERNEL_SAMPLE = 1200
DOCUMENT_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
                   "media_ref:string,offset:int>>")

KERNEL_SPECS = [
    ("jaro_distance", "jaro_distance", "a", "b"),
    ("jaro_winkler", "jaro_winkler_similarity", "a", "b"),
    ("trigram_cos", "trigram_cosine_distance", "a", "b"),
    ("unigram_cos", "unigram_cosine_distance", "a", "b"),
]


# ---------------------------------------------------------------------------
# refresh phase of the traced cluster run
# ---------------------------------------------------------------------------

def _refresh_inputs(seed: int) -> dict:
    """The prior clustering from the generated truth with one alias held out
    of every entity that has at least three. The held-out aliases are split
    into REFRESH_BATCHES batches: the first is the refresh's new names."""
    from name_matching_spark.datagen import generate_corpus

    corpus = generate_corpus(n_entities=N_REFRESH_ENTITIES, seed=seed)
    truth = [(n, int(e)) for n, e in zip(corpus.truth["name"], corpus.truth["entity_id"])]
    by_entity: dict[int, list[str]] = defaultdict(list)
    for name, eid in truth:
        by_entity[eid].append(name)
    rng = random.Random(seed)
    held = sorted(
        rng.choice(sorted(names)) for _, names in sorted(by_entity.items())
        if len(names) >= 3
    )
    rng.shuffle(held)
    held_set = set(held)
    prior = []
    for eid, names in sorted(by_entity.items()):
        kept = sorted(n for n in names if n not in held_set)
        prior.extend((n, eid, kept[0]) for n in kept[1:])
    return {
        "truth": truth,
        "prior": prior,
        "batches": [held[k::REFRESH_BATCHES] for k in range(REFRESH_BATCHES)],
    }


def _generations(store: str) -> list[int]:
    if not os.path.isdir(store):
        return []
    return sorted(int(d[4:]) for d in os.listdir(store) if re.fullmatch(r"gen=\d+", d))


def refresh_phase(h) -> dict:
    """Traced runs only: seed a cluster store with the prior, then one
    incremental refresh (incremental_resolve + merge_into commit, the
    jobs/incremental_job.py path) on a batch of held-out aliases, as a root
    span of its own."""
    from name_matching_spark.io import merge_into, read_merged
    from name_matching_spark.pipeline import incremental_resolve

    spark = h.spark
    store = os.path.join(h.work, "store")
    inputs = _refresh_inputs(h.seed)
    prior = spark.createDataFrame(inputs["prior"], "name string, cluster long, group_name string")
    merge_into(spark, store, prior, keys=["name"])
    gen_before = _generations(store)[-1]
    new = spark.createDataFrame([(n,) for n in inputs["batches"][0]], "name string")
    with h.tracer.root("refresh") as root:
        updated = incremental_resolve(new, read_merged(spark, store))
        gen_after = merge_into(spark, store, updated, keys=["name"],
                               when_matched="overwrite")
    h.extra_roots.append(root)
    on_disk = _generations(store)
    stored = [(r["name"], r["group_name"]) for r in read_merged(spark, store).collect()]
    unseen = set().union(*inputs["batches"][1:])
    truth = [(n, e) for n, e in inputs["truth"] if n not in unseen]
    f1 = gates.pairwise_f1(gates.cluster_pairs(stored), gates.truth_pairs(truth))
    h.gate("refresh_commit", gates.check_commit(gen_before, gen_after, on_disk))
    h.gate("refresh_memberships", gates.check_memberships(stored, inputs["prior"]))
    h.gate("refresh_store_f1", gates.check_store_f1(f1))
    h.detail.update({"refresh_s": root.duration, "refresh_new_names": len(inputs["batches"][0]),
                     "refresh_store_f1": f1.f1, "refresh_precision": f1.precision,
                     "refresh_recall": f1.recall})
    h.layer_values["quality.refresh_store_f1"] = f1.f1
    return {"stored": stored, "prior": inputs["prior"],
            "commit": (gen_before, gen_after, on_disk), "f1": f1}


# ---------------------------------------------------------------------------
# resolve phase of the traced score_kernel run
# ---------------------------------------------------------------------------

def _tree_size(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def resolve_phase(h) -> dict:
    """Traced runs only: one batch resolve of a generated corpus into a
    fresh checkpoint directory (checkpoint.resolve_entities_checkpointed,
    the jobs/resolve_job.py path), as a root span of its own."""
    from name_matching_spark.checkpoint import resolve_entities_checkpointed
    from name_matching_spark.datagen import generate_corpus

    spark = h.spark
    corpus = generate_corpus(n_entities=N_RESOLVE_ENTITIES, seed=h.seed)
    documents = spark.createDataFrame(corpus.documents, DOCUMENT_SCHEMA)
    addresses = spark.createDataFrame(corpus.addresses)
    labels = spark.createDataFrame(corpus.labeled_pairs)
    ckpt = os.path.join(h.work, "checkpoint")
    with h.tracer.root("resolve") as root:
        mgr, clusters = resolve_entities_checkpointed(
            documents, ckpt, addresses=addresses, labels=labels,
            corpus_fingerprint=("perfbench", h.seed),
        )
        stored = [(r["name"], r["group_name"]) for r in clusters.collect()]
    h.extra_roots.append(root)
    surface = gates.canonical(
        (r["name"], r["match"])
        for r in mgr.results["match_names"].df.select("name", "match").collect()
    )
    accepted = [
        (r["name"], r["match"])
        for r in mgr.results["pre_screen"].df.where("keep = 1").select("name", "match").collect()
    ]
    truth = gates.truth_pairs(list(zip(corpus.truth["name"], corpus.truth["entity_id"])))
    predicted = gates.cluster_pairs(stored)
    surf = gates.surface_f1(predicted, truth, surface)
    full = gates.pairwise_f1(predicted, truth)
    h.gate("resolve_surface_f1", gates.check_surface_f1(surf))
    files, size = _tree_size(ckpt)
    h.layer_values.update({
        "checkpoint.files": files, "checkpoint.bytes": size,
        "quality.resolve_surface_f1": surf.f1, "quality.resolve_f1": full.f1,
    })
    h.detail.update({
        "resolve_s": root.duration, "resolve_names": len(set(corpus.truth["name"])),
        "resolve_candidate_pairs": len(surface),
        "resolve_surface_f1": surf.f1, "resolve_precision": surf.precision,
        "resolve_surface_recall": surf.recall, "resolve_f1": full.f1,
        "resolve_component_sizes": gates.component_sizes(accepted),
    })
    return {"stored": stored, "truth": truth, "surface": surface}


# ---------------------------------------------------------------------------
# cluster
# ---------------------------------------------------------------------------

def _cluster_edges(seed: int) -> list[tuple[str, str]]:
    """Every pair of aliases of one generated entity: the accepted edges a
    resolve of the corpus hands name_clusters when it matches each entity
    completely (see README.md for the measured shape of real ones). Whole
    entities are taken in order while the edges stay within CLUSTER_EDGES,
    so every seed gets about the same number of edges."""
    from name_matching_spark.datagen import generate_corpus

    corpus = generate_corpus(n_entities=N_CLUSTER_ENTITIES, seed=seed)
    by_entity: dict[int, list] = defaultdict(list)
    for name, eid in zip(corpus.truth["name"], corpus.truth["entity_id"]):
        by_entity[int(eid)].append((name, int(eid)))
    edges: set[tuple[str, str]] = set()
    for _, rows in sorted(by_entity.items()):
        clique = gates.truth_pairs(rows)
        if len(edges) + len(clique) > CLUSTER_EDGES:
            break
        edges |= clique
    return sorted(edges)


def cluster(h) -> dict:
    """Returns the outputs the gates read (the self-test corrupts them)."""
    # called through the module, where the traced run's wrapper is installed
    from name_matching_spark.operators import cc

    spark = h.spark
    t0 = time.perf_counter()
    edges = _cluster_edges(h.seed)
    df = spark.createDataFrame(edges, "name string, match string").cache()
    df.count()
    h.mark("inputs")
    out = {"edges": edges}
    if h.tracer is None:
        for _ in range(CLUSTER_WARM_OPS):  # JIT warm-up outside the timing
            cc.name_clusters(df).collect()
    else:
        out["refresh"] = refresh_phase(h)
    h.setup_s += time.perf_counter() - t0
    h.mark("warm")

    outputs = []
    deadline = time.perf_counter() + h.seconds
    while True:
        with h.op("cluster"):
            rows = cc.name_clusters(df).collect()
        outputs.append(sorted((r["name"], r["cluster"], r["group_name"]) for r in rows))
        h.items += len(edges)
        if len(h.ops) >= MIN_OPS and time.perf_counter() >= deadline:
            break
    h.mark("measured")
    h.gate("clusters_are_components", gates.check_clusters(outputs[0], edges))
    h.gate("ops_agree", [] if all(o == outputs[0] for o in outputs) else
           ["operations returned different cluster tables"])
    f1 = gates.pairwise_f1(
        gates.cluster_pairs([(n, g) for n, _, g in outputs[0]]),
        gates.cluster_pairs(list(gates.components(edges).items())),
    )
    h.quality = f1.f1
    h.detail.update({"edges": len(edges), "cluster_rows": len(outputs[0])})
    df.unpersist()
    out["clusters"] = outputs[0]
    h.mark("gates")
    return out


# ---------------------------------------------------------------------------
# score_kernel
# ---------------------------------------------------------------------------

def _kernel_pairs(seed: int):
    """PAIRS_PER_PASS alias pairs; SAME_ENTITY_SHARE of them join two
    aliases of one entity, the rest two random aliases."""
    import numpy as np
    import pandas as pd

    from name_matching_spark.datagen import generate_corpus

    corpus = generate_corpus(n_entities=N_KERNEL_ENTITIES, seed=seed)
    truth = corpus.truth.sort_values(["entity_id", "name"], kind="stable")
    names = truth["name"].to_numpy(dtype=object)
    eids = truth["entity_id"].to_numpy()
    starts = np.searchsorted(eids, eids, side="left")
    sizes = np.searchsorted(eids, eids, side="right") - starts
    rng = np.random.default_rng(seed)
    n = PAIRS_PER_PASS
    i = rng.integers(0, len(names), n)
    j = rng.integers(0, len(names), n)
    same = (rng.random(n) < SAME_ENTITY_SHARE) & (sizes[i] > 1)
    offset = rng.integers(1, np.maximum(sizes[i], 2))
    j = np.where(same, starts[i] + (i - starts[i] + offset) % sizes[i], j)
    return pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "a": names[i],
        "b": names[j],
        "same": (eids[i] == eids[j]).astype(np.int32),
    })


def _kernel_pass(df) -> dict:
    from pyspark.sql import functions as F

    from name_matching_spark.constants import COSINE_THRESHOLD, JARO_THRESHOLD
    from name_matching_spark.operators.pairs import score_pairs

    # the pipeline's accept rule shape: Jaro-close or cosine-close
    hit = (F.col("jaro_distance") <= JARO_THRESHOLD) | (
        F.col("trigram_cos") <= 1 - COSINE_THRESHOLD
    )
    same = F.col("same") == 1
    row = score_pairs(df, KERNEL_SPECS).agg(
        *[F.sum(F.nanvl(out, F.lit(0.0))).alias(out) for out, *_ in KERNEL_SPECS],
        F.count(F.when(hit & same, 1)).alias("tp"),
        F.count(F.when(hit & ~same, 1)).alias("fp"),
        F.count(F.when(~hit & same, 1)).alias("fn"),
        F.count("*").alias("rows"),
    ).collect()[0]
    return row.asDict()


def score_kernel(h) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from name_matching_spark.operators.pairs import score_pairs

    spark = h.spark
    t0 = time.perf_counter()
    pdf = _kernel_pairs(h.seed)
    df = spark.createDataFrame(pdf).repartition(KERNEL_PARTITIONS).cache()
    df.count()
    h.mark("inputs")
    out = {}
    if h.tracer is None:
        for _ in range(KERNEL_WARM_PASSES):  # worker start-up and JIT outside the timing
            _kernel_pass(df)
    else:
        out["resolve"] = resolve_phase(h)
    h.setup_s += time.perf_counter() - t0
    h.mark("warm")

    results = []
    deadline = time.perf_counter() + h.seconds
    while True:
        with h.op("score_pass"):
            results.append(_kernel_pass(df))
        h.items += PAIRS_PER_PASS
        if len(h.ops) >= MIN_OPS and time.perf_counter() >= deadline:
            break

    h.mark("measured")
    # every pass must agree with DuckDB on the full-table Jaro sums, and
    # with the first pass on everything else
    con = duckdb.connect()
    try:
        con.register("pairs", pdf)
        jd, jw = con.execute(
            "SELECT sum(1 - jaro_similarity(a, b)), sum(jaro_winkler_similarity(a, b)) "
            "FROM pairs"
        ).fetchone()
    finally:
        con.close()
    for k, r in enumerate(results):
        problems = []
        for col, want in (("jaro_distance", jd), ("jaro_winkler", jw)):
            if abs(r[col] - want) > 1e-9 * max(1.0, abs(want)):
                problems.append(f"pass {k}: sum({col}) {r[col]!r} != DuckDB {want!r}")
        for col in ("trigram_cos", "unigram_cos", "tp", "fp", "fn", "rows"):
            ref = results[0][col]
            if abs(r[col] - ref) > 1e-9 * max(1.0, abs(ref)):
                problems.append(f"pass {k}: {col} {r[col]!r} != first pass {ref!r}")
        h.gate(f"pass_{k}_totals", problems)

    rng = random.Random(h.seed)
    sample_ids = rng.sample(range(PAIRS_PER_PASS), KERNEL_SAMPLE)
    sample = [
        r.asDict() for r in score_pairs(
            df.where(F.col("pid").isin(sample_ids)), KERNEL_SPECS
        ).orderBy("pid").collect()
    ]
    h.gate("kernel_oracle", gates.check_kernel_rows(sample))
    h.mark("gates")

    r = results[0]
    f1 = gates.F1(tp=r["tp"], fp=r["fp"], fn=r["fn"])
    h.quality = f1.f1
    h.detail.update({"pairs_per_pass": PAIRS_PER_PASS, "passes": len(results),
                     "rule_precision": f1.precision,
                     "rule_recall": f1.recall})
    df.unpersist()
    out["sample"] = sample
    return out


WORKLOADS = {"cluster": cluster, "score_kernel": score_kernel}
