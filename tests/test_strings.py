"""String-kernel correctness: hand-known Jaro values + DuckDB as an oracle
(jaro_similarity / jaro_winkler_similarity), plus unigram-cosine checks."""

from __future__ import annotations

import math
import random
import string

import duckdb
import numpy as np
import pytest

from name_matching_spark.functions.strings import (
    jaro_distance,
    jaro_similarity,
    jaro_winkler_similarity,
    qgram_cosine_distance,
)


KNOWN = [
    ("MARTHA", "MARHTA", 0.944444444),
    ("DIXON", "DICKSONX", 0.766666667),
    ("JELLYFISH", "SMELLYFISH", 0.896296296),
    ("ABC", "ABC", 1.0),
    ("ABC", "XYZ", 0.0),
    ("", "", 1.0),
    ("A", "", 0.0),
]


def test_jaro_known_values():
    a = [x for x, _, _ in KNOWN]
    b = [y for _, y, _ in KNOWN]
    got = jaro_similarity(a, b)
    want = np.array([v for _, _, v in KNOWN])
    assert np.allclose(got, want, atol=1e-8)


def test_jaro_against_duckdb_random():
    rng = random.Random(42)
    alphabet = string.ascii_uppercase + " -"
    pairs = []
    for _ in range(500):
        la = rng.randint(0, 24)
        lb = rng.randint(0, 24)
        a = "".join(rng.choice(alphabet) for _ in range(la))
        b_mut = list(a)
        for _ in range(rng.randint(0, 6)):
            if b_mut and rng.random() < 0.5:
                b_mut[rng.randrange(len(b_mut))] = rng.choice(alphabet)
            else:
                b_mut.insert(rng.randint(0, len(b_mut)), rng.choice(alphabet))
        b = "".join(b_mut) if rng.random() < 0.7 else "".join(
            rng.choice(alphabet) for _ in range(lb)
        )
        pairs.append((a, b))
    con = duckdb.connect()
    con.execute("CREATE TABLE p(a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    oracle = np.array(
        [r[0] for r in con.execute("SELECT jaro_similarity(a, b) FROM p").fetchall()]
    )
    got = jaro_similarity([p[0] for p in pairs], [p[1] for p in pairs])
    # duckdb returns 0.0 for one-empty and 1.0 for both-empty, same as us
    assert np.allclose(got, oracle, atol=1e-9), np.abs(got - oracle).max()


def test_jaro_winkler_against_duckdb():
    pairs = [
        ("MARTHA", "MARHTA"),
        ("DWAYNE", "DUANE"),
        ("DIXON", "DICKSONX"),
        ("ACME OIL", "ACME OIL CO"),
        ("SMITH", "SMYTH"),
    ]
    con = duckdb.connect()
    oracle = np.array(
        [
            con.execute("SELECT jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
            for a, b in pairs
        ]
    )
    got = jaro_winkler_similarity([a for a, _ in pairs], [b for _, b in pairs])
    assert np.allclose(got, oracle, atol=1e-9)


def test_jaro_symmetry():
    rng = random.Random(7)
    words = ["".join(rng.choice("ABCDE") for _ in range(rng.randint(1, 10))) for _ in range(200)]
    a = words[:100]
    b = words[100:]
    assert np.allclose(jaro_similarity(a, b), jaro_similarity(b, a))


def _cos1(a: str, b: str) -> float:
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    if not ca or not cb:
        return math.nan
    dot = sum(ca[k] * cb[k] for k in ca)
    na = math.sqrt(sum(v * v for v in ca.values()))
    nb = math.sqrt(sum(v * v for v in cb.values()))
    return 1.0 - dot / (na * nb)


def test_unigram_cosine_matches_bruteforce():
    pairs = [
        ("JOHN", "JON"),
        ("ROBERT", "BOB"),
        ("AAAB", "AB"),
        ("XYZ", "XYZ"),
        ("JAMES", "ZZZZ"),
    ]
    got = qgram_cosine_distance([a for a, _ in pairs], [b for _, b in pairs], q=1)
    want = np.array([_cos1(a, b) for a, b in pairs])
    assert np.allclose(got, want, atol=1e-12)


def test_unigram_cosine_empty_is_nan():
    got = qgram_cosine_distance(["", "A"], ["A", ""], q=1)
    assert np.isnan(got).all()


def test_trigram_cosine_identical_zero():
    got = qgram_cosine_distance(["HELLO WORLD"], ["HELLO WORLD"], q=3)
    assert abs(got[0]) < 1e-12


def test_jaro_distance_is_one_minus_similarity():
    a, b = ["MARTHA"], ["MARHTA"]
    assert np.allclose(jaro_distance(a, b), 1.0 - jaro_similarity(a, b))


def test_uint8_and_int32_paths_agree():
    # the uint8 fast path (latin-1-clean batches) must agree exactly with the
    # int32 fallback; non-latin-1 or 0xFE/0xFF chars force the fallback for
    # BOTH sides of the batch (mixed dtypes could alias pads to real chars)
    from name_matching_spark.functions.strings import _encode_pair

    clean = (["MARTHA", "ACME OIL", "ÉLAN", ""], ["MARHTA", "ACME OIL CO", "ELAN", "X"])
    dirty = (["MARTHA", "ÿSMITH", "AþB", "日本"], ["MARHTA", "SMITHÿ", "AB", "日本語"])
    A, la, B, lb = _encode_pair(
        np.array(clean[0], dtype=object), np.array(clean[1], dtype=object)
    )
    assert A.dtype == np.uint8 and B.dtype == np.uint8  # É is latin-1
    A2, _, B2, _ = _encode_pair(
        np.array(dirty[0], dtype=object), np.array(dirty[1], dtype=object)
    )
    assert A2.dtype == np.int32 and B2.dtype == np.int32
    # DuckDB oracles only the ASCII rows (it scores UTF-8 *bytes*, we score
    # codepoints — they diverge on any multi-byte char, by design)
    con = duckdb.connect()
    ascii_pairs = [("MARTHA", "MARHTA"), ("ACME OIL", "ACME OIL CO"), ("", "X")]
    oracle = np.array(
        [con.execute("SELECT jaro_similarity(?, ?)", [x, y]).fetchone()[0]
         for x, y in ascii_pairs]
    )
    got = jaro_similarity([x for x, _ in ascii_pairs], [y for _, y in ascii_pairs])
    assert np.allclose(got, oracle, atol=1e-9)
    # path agreement: the same ASCII pairs, scored in a uint8-clean batch vs
    # in a batch forced to int32 by one dirty row, must agree exactly
    forced_a = [x for x, _ in ascii_pairs] + ["日本"]
    forced_b = [y for _, y in ascii_pairs] + ["日本語"]
    forced = jaro_similarity(forced_a, forced_b)
    assert np.array_equal(got, forced[:3])
    for a, b in (clean, dirty):
        assert np.allclose(jaro_similarity(b, a), jaro_similarity(a, b))


def test_packed_and_bool_assignment_paths_agree():
    # the bit-packed match-assignment path (Lb <= 64, the hot path) must
    # agree exactly with the dense-bool fallback (Lb > 64), including
    # across the length-bucketed chunk scatter (small chunk forces both
    # multiple buckets and out-of-order writes back into the output).
    import name_matching_spark.functions.strings as S

    rng = random.Random(11)
    alph = string.ascii_uppercase + " -0123456789"
    pairs = []
    for _ in range(3000):
        la = rng.choice([1, 2, 5, 12, 30, 63, 64, 65, 80, 120])
        a = "".join(rng.choice(alph) for _ in range(la))
        if rng.random() < 0.6:
            b = list(a)
            for _ in range(rng.randint(0, 8)):
                if b and rng.random() < 0.5:
                    b[rng.randrange(len(b))] = rng.choice(alph)
                else:
                    b.insert(rng.randint(0, len(b)), rng.choice(alph))
            b = "".join(b)
        else:
            b = "".join(rng.choice(alph) for _ in range(rng.randint(0, 90)))
        pairs.append((a, b))
    a = np.array([x for x, _ in pairs], dtype=object)
    b = np.array([y for _, y in pairs], dtype=object)
    got = S.jaro_similarity(a, b, chunk=256)  # bucketed, scattered
    orig = S._assign_matches_packed
    S._assign_matches_packed = S._assign_matches_bool  # force fallback
    try:
        want = S.jaro_similarity(a, b, chunk=1 << 20)  # single chunk
    finally:
        S._assign_matches_packed = orig
    assert np.array_equal(got, want)


def test_jaro_winkler_boost_threshold():
    # standard Winkler rule: no prefix bonus unless base jaro > 0.7 —
    # matches DuckDB bit-for-bit (divergent pre-round-4: the bonus was
    # unconditional)
    got = jaro_winkler_similarity(["FY", "DWAYNE"], ["FFN", "DUANE"])
    base = jaro_similarity(["FY", "DWAYNE"], ["FFN", "DUANE"])
    assert got[0] == base[0]  # jaro 0.611 < 0.7 → untouched
    assert got[1] > base[1]   # jaro 0.822 → bonus applied
    import duckdb

    con = duckdb.connect()
    want = [
        con.execute("SELECT jaro_winkler_similarity(?, ?)", [x, y]).fetchone()[0]
        for x, y in [("FY", "FFN"), ("DWAYNE", "DUANE")]
    ]
    assert np.allclose(got, want, atol=1e-9)
