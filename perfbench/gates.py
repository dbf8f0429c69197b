"""Correctness gates, written against plain Python data so they do not share
code with the program they check.

Each gate returns a list of problems; an empty list passes. A failed gate
counts as a failed operation in the run's result.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from dataclasses import dataclass

# the refreshed store against the full truth. incremental_resolve matches a
# new name against cluster representatives only (its documented contract),
# so a held-out alias close to a member but not to the representative stays
# a singleton and costs recall; see README.md for the measured values
STORE_F1_FLOOR = 0.9
# the batch resolve against the truth, recall restricted to the blocking
# surface: the project's north rule
SURFACE_F1_FLOOR = 0.99
KERNEL_ATOL = 1e-9


def _canon(a: str, b: str) -> tuple[str, str]:
    return (a, b) if a < b else (b, a)


def truth_pairs(truth: list[tuple[str, int]]) -> set[tuple[str, str]]:
    """Same-entity pairs from (name, entity_id) rows."""
    by_entity: dict[int, list[str]] = defaultdict(list)
    for name, eid in truth:
        by_entity[eid].append(name)
    return {
        _canon(a, b)
        for names in by_entity.values()
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    }


def cluster_pairs(clusters: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """Pairs implied by (name, group_name) member rows, the group's
    representative included."""
    groups: dict[str, set[str]] = defaultdict(set)
    for name, group in clusters:
        groups[group].update((name, group))
    out = set()
    for members in groups.values():
        m = sorted(members)
        out.update((a, b) for i, a in enumerate(m) for b in m[i + 1 :])
    return out


@dataclass
class F1:
    tp: int
    fp: int
    fn: int
    # true positives on the recall side when recall is restricted to a
    # surface (None: the same as tp)
    tp_recall: int | None = None

    @property
    def precision(self) -> float:
        return self.tp / (self.tp + self.fp) if self.tp + self.fp else 1.0

    @property
    def recall(self) -> float:
        tp = self.tp if self.tp_recall is None else self.tp_recall
        return tp / (tp + self.fn) if tp + self.fn else 1.0

    @property
    def f1(self) -> float:
        p, r = self.precision, self.recall
        return 2 * p * r / (p + r) if p + r else 0.0


def pairwise_f1(predicted: set, truth: set) -> F1:
    """Pairwise F1 of predicted same-cluster pairs against truth pairs."""
    return F1(tp=len(predicted & truth), fp=len(predicted - truth),
              fn=len(truth - predicted))


def surface_f1(predicted: set, truth: set, surface: set) -> F1:
    """Pairwise F1 with recall counted only over truth pairs inside
    ``surface`` (the candidate pairs blocking produced); precision counts
    every predicted pair. The definition of ``evaluate.pairwise_f1`` with
    ``blocked=``."""
    t_surf = truth & surface
    return F1(tp=len(predicted & truth), fp=len(predicted - truth),
              fn=len(t_surf - predicted), tp_recall=len(predicted & t_surf))


def canonical(pairs) -> set[tuple[str, str]]:
    return {_canon(a, b) for a, b in pairs if a != b}


def components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """name → smallest name of its connected component (union-find)."""
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def component_sizes(edges: list[tuple[str, str]]) -> dict[int, int]:
    """Component size → number of components of that size."""
    sizes = Counter(components(edges).values())
    return dict(sorted(Counter(sizes.values()).items()))


def check_clusters(
    clusters: list[tuple[str, int, str]], edges: list[tuple[str, str]]
) -> list[str]:
    """The cluster table (name, cluster, group_name) must list exactly the
    non-representative members of the connected components of the edges,
    each under its component's smallest name, with one cluster id per
    group."""
    problems = []
    want = {(n, g) for n, g in components(edges).items() if n != g}
    got = {(n, g) for n, _, g in clusters}
    if len(got) != len(clusters):
        problems.append("cluster table has duplicate rows")
    if got != want:
        problems.append(
            f"clusters differ from the components of the edges: "
            f"{len(got - want)} unexpected rows, {len(want - got)} missing rows"
        )
    ids = defaultdict(set)
    for _, cid, g in clusters:
        ids[g].add(cid)
    if any(len(v) != 1 for v in ids.values()) or len(
        {min(v) for v in ids.values()}
    ) != len(ids):
        problems.append("cluster ids are not one-to-one with group names")
    return problems


def check_commit(gen_before: int, gen_after: int, gens_on_disk: list[int]) -> list[str]:
    """A refresh commits exactly one new store generation, which is then the
    live one."""
    want = gen_before + 1
    if gen_after != want or not gens_on_disk or gens_on_disk[-1] != want:
        return [f"store generation went {gen_before} -> {gen_after} "
                f"(on disk {gens_on_disk}), expected {want}"]
    return []


def check_memberships(stored: list[tuple[str, str]],
                      prior: list[tuple[str, int, str]]) -> list[str]:
    """Every prior member is still in its prior representative's cluster:
    refreshes may merge clusters but never split one. A name without a row
    is its own group (a representative or a singleton)."""
    group = dict(stored)
    split = sum(
        1 for name, _, rep in prior
        if group.get(name, name) != group.get(rep, rep)
    )
    return [f"{split} prior members left their cluster"] if split else []


def check_store_f1(f1: F1) -> list[str]:
    if f1.f1 < STORE_F1_FLOOR:
        return [f"store pairwise F1 {f1.f1:.4f} < {STORE_F1_FLOOR}"]
    return []


def check_surface_f1(f1: F1) -> list[str]:
    if f1.f1 < SURFACE_F1_FLOOR:
        return [f"surface pairwise F1 {f1.f1:.4f} < {SURFACE_F1_FLOOR} "
                f"(precision {f1.precision:.4f}, recall {f1.recall:.4f})"]
    return []


def qgram_cosine_distance(a: str, b: str, q: int) -> float:
    """Scalar q-gram cosine distance; NaN when either side has no q-gram."""
    ca = Counter(a[i : i + q] for i in range(len(a) - q + 1))
    cb = Counter(b[i : i + q] for i in range(len(b) - q + 1))
    if not ca or not cb:
        return math.nan
    dot = sum(v * cb[k] for k, v in ca.items())
    na = math.sqrt(sum(v * v for v in ca.values()))
    nb = math.sqrt(sum(v * v for v in cb.values()))
    return 1.0 - dot / (na * nb)


def check_kernel_rows(rows: list[dict]) -> list[str]:
    """Rows of (a, b, jaro_distance, jaro_winkler, trigram_cos, unigram_cos)
    against DuckDB's jaro_similarity / jaro_winkler_similarity and the
    scalar q-gram cosine above."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE p(i INTEGER, a VARCHAR, b VARCHAR)")
        con.executemany(
            "INSERT INTO p VALUES (?, ?, ?)",
            [(i, r["a"], r["b"]) for i, r in enumerate(rows)],
        )
        oracle = con.execute(
            "SELECT jaro_similarity(a, b), jaro_winkler_similarity(a, b) "
            "FROM p ORDER BY i"
        ).fetchall()
    finally:
        con.close()

    def differs(x, y):
        if math.isnan(x) or math.isnan(y):
            return not (math.isnan(x) and math.isnan(y))
        return abs(x - y) > KERNEL_ATOL

    bad = Counter()
    for r, (js, jw) in zip(rows, oracle):
        bad["jaro_distance"] += differs(r["jaro_distance"], 1.0 - js)
        bad["jaro_winkler"] += differs(r["jaro_winkler"], jw)
        bad["trigram_cos"] += differs(
            r["trigram_cos"], qgram_cosine_distance(r["a"], r["b"], 3)
        )
        bad["unigram_cos"] += differs(
            r["unigram_cos"], qgram_cosine_distance(r["a"], r["b"], 1)
        )
    return [f"{k}: {v} of {len(rows)} rows differ from the oracle"
            for k, v in sorted(bad.items()) if v]
