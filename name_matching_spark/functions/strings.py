"""Batch-vectorized string similarity kernels (numpy, no per-row Python).

These back the pandas/Arrow UDF scorers. Each function takes two aligned
sequences of strings (the two sides of a candidate-pair batch) and returns a
float64 numpy array. The Jaro inner loop is vectorized across the *batch*
dimension: the per-position scan runs O(Lmax) python iterations of O(B·Lmax)
numpy work, so cost is independent of batch size in python-interpreter terms.

Semantics parity targets:
- ``jaro_distance``: R stringdist(method='jw', p=0) — *pure Jaro distance*
  (reference calls it jw_distance but sets p=0: code/functions/match_names.R:482-483).
- ``qgram_cosine_distance`` with q=1: R stringdist(method='cosine') default
  q=1 — character-unigram cosine distance (used for
  human_cosine_similarity = 1 - distance, match_names.R:446-450).
- ``jaro_winkler_similarity``: standard Winkler prefix bonus (p=0.1, max
  prefix 4) — an *additional* scorer channel beyond the reference.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np

# Per-batch shared-encoding cache (see shared_encoding): when several
# kernels score the same string columns (score_pairs runs 4 specs per
# batch), the str-normalization and codepoint-matrix encodes are ~20% of
# total kernel time and identical across kernels. Keys are (data pointer,
# length, tag): numpy slices of the same base array at the same offset
# share a pointer, so chunked kernels hit the cache across kernel types.
# Each cache value retains a reference to the keyed input array: a pointer
# key alone would allow a freed array's address to be reused by a new
# same-sized allocation inside the scope, silently serving a stale encode
# (ADVICE r2). The cache only lives inside a `with shared_encoding()` scope.
_ENC_CACHE: dict | None = None


@contextmanager
def shared_encoding():
    global _ENC_CACHE
    prev = _ENC_CACHE
    _ENC_CACHE = {}
    try:
        yield
    finally:
        _ENC_CACHE = prev


def _cache_key(arr, tag):
    if _ENC_CACHE is None:
        return None
    try:
        ptr = arr.__array_interface__["data"][0]
    except (AttributeError, TypeError, KeyError):
        return None
    return (ptr, len(arr), tag)


def _cache_get(key):
    if key is None:
        return None
    hit = _ENC_CACHE.get(key)
    return None if hit is None else hit[1]


def _cache_put(key, arr, res):
    # keep `arr` alive for the cache's lifetime so its address can't be
    # recycled by a same-sized allocation while the key still maps to it
    if key is not None:
        _ENC_CACHE[key] = (arr, res)


def _scatter_rows_cols(lengths: np.ndarray, total: int):
    """(rows, cols) fancy indices that place a flat concatenated buffer of
    per-string bytes/codepoints into a (B, Lmax) matrix."""
    n = len(lengths)
    rows = np.repeat(np.arange(n), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    cols = np.arange(total) - starts
    return rows, cols


def _encode(strings: np.ndarray, pad: int) -> tuple[np.ndarray, np.ndarray]:
    """Encode an object array of strings into a (B, Lmax) int32 codepoint
    matrix padded with ``pad``; returns (matrix, lengths).

    Batch-vectorized: ONE join + ONE utf-32 encode + ONE scatter — the
    per-string encode loop was ~half of total kernel time at 100k-pair
    batches (round-4 profile)."""
    key = _cache_key(strings, pad)
    cached = _cache_get(key)
    if cached is not None:
        return cached
    n = len(strings)
    lengths = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    lmax = int(lengths.max()) if n else 0
    if lmax == 0:
        res = np.full((n, 1), pad, dtype=np.int32), lengths
        _cache_put(key, strings, res)
        return res
    buf = np.frombuffer("".join(strings).encode("utf-32-le"), dtype=np.uint32)
    mat = np.full((n, lmax), pad, dtype=np.int32)
    rows, cols = _scatter_rows_cols(lengths, len(buf))
    mat[rows, cols] = buf
    res = mat, lengths
    _cache_put(key, strings, res)
    return res


# uint8 pad bytes for the two sides; real chars are required < 0xFE so the
# pads can never equal a real codepoint on either side
_U8_PAD = {-1: 255, -2: 254}


def _encode_u8(strings: np.ndarray, pad: int):
    """uint8 fast-path encode: (B, Lmax) byte matrix via latin-1, or None
    when any string carries non-latin-1 chars or bytes ≥ 0xFE (reserved for
    pads). Normalized names are uppercase ASCII, so this is the hot path —
    a byte matrix quarters the Jaro kernel's memory traffic vs int32
    codepoints, which is the measured DRAM-bandwidth wall of the
    local[8]→local[32] scaling run (VERDICT r2 item 3)."""
    key = _cache_key(strings, ("u8", pad))
    cached = _cache_get(key)
    if cached is not None:
        return None if cached == "fail" else cached
    n = len(strings)
    lengths = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    lmax = int(lengths.max()) if n else 0
    mat = np.full((n, max(lmax, 1)), _U8_PAD[pad], dtype=np.uint8)
    # batch-vectorized encode (ONE join + ONE latin-1 encode + ONE
    # scatter): any non-latin-1 string fails the whole batch to the int32
    # path, exactly like the old per-string loop did
    try:
        buf = np.frombuffer("".join(strings).encode("latin-1"), dtype=np.uint8)
    except UnicodeEncodeError:
        _cache_put(key, strings, "fail")
        return None
    if len(buf) and int(buf.max()) >= 0xFE:  # reserved for pads
        _cache_put(key, strings, "fail")
        return None
    if lmax:
        rows, cols = _scatter_rows_cols(lengths, len(buf))
        mat[rows, cols] = buf
    res = (mat, lengths)
    _cache_put(key, strings, res)
    return res


def _encode_pair(a: np.ndarray, b: np.ndarray):
    """Encode both sides of a pair batch jointly: uint8 when BOTH sides are
    byte-clean, else int32 for both. The mode must be joint — with mixed
    dtypes one side's pad byte (0xFF) could equal the other side's real
    codepoint 255 ('ÿ') and fabricate a character match."""
    ra = _encode_u8(a, -1)
    if ra is not None:
        rb = _encode_u8(b, -2)
        if rb is not None:
            return (*ra, *rb)
    A, la = _encode(a, -1)
    B, lb = _encode(b, -2)
    return A, la, B, lb


def _as_str_array(xs) -> np.ndarray:
    arr = np.asarray(xs, dtype=object)
    key = _cache_key(arr, "str")
    cached = _cache_get(key)
    if cached is not None:
        return cached
    out = np.empty(len(arr), dtype=object)
    for i, v in enumerate(arr):
        out[i] = "" if v is None or (isinstance(v, float) and np.isnan(v)) else str(v)
    _cache_put(key, arr, out)
    # ALSO self-key the converted array: jaro_winkler passes its already-
    # converted arrays back into jaro_similarity, and without this entry
    # that inner call re-copies them — new pointer, so the jarosim result
    # cache missed and Winkler silently re-ran the whole matching pass
    # (found in the round-4 profile: jaro_similarity ran twice per batch)
    _cache_put(_cache_key(out, "str"), out, out)
    return out


# pairs per kernel chunk: 8192 measured best (smaller chunks push the
# per-position scan into Python-interpreter overhead, larger ones exceed
# the Arrow batch anyway)
_KERNEL_CHUNK = 8192


import sys as _sys

_LITTLE_ENDIAN = _sys.byteorder == "little"


def _pair_chunks(a: np.ndarray, b: np.ndarray, chunk: int):
    """Length-bucketed chunking of a pair batch (VERDICT r3 item 1).

    Pairs are processed in ascending max(len_a, len_b) order, so a chunk's
    (chunk, La, Lb) match tensors are sized by the chunk's OWN longest
    string, not the batch maximum — short pairs stop paying the full-width
    tensor for one long outlier in the Arrow batch. Returns
    [(scatter_idx | None, a_chunk, b_chunk)]; ``None`` means the whole
    batch (single chunk — no reorder needed).

    Cached per (a, b) inside a shared_encoding scope: all four kernels in a
    score_pairs pass iterate the SAME chunk arrays, so the per-chunk encode
    caches keep hitting across kernels exactly as with contiguous slices.
    """
    n = len(a)
    if n <= chunk:
        return [(None, a, b)]
    ka, kb = _cache_key(a, "chunks"), _cache_key(b, "chunks")
    skey = ("chunks", ka, kb, chunk) if ka is not None and kb is not None else None
    if skey is not None:
        hit = _ENC_CACHE.get(skey)
        if hit is not None:
            return hit[1]
    la = np.fromiter((len(s) for s in a), dtype=np.int64, count=n)
    lb = np.fromiter((len(s) for s in b), dtype=np.int64, count=n)
    order = np.argsort(np.maximum(la, lb), kind="stable")
    chunks = []
    for s in range(0, n, chunk):
        idx = order[s : s + chunk]
        chunks.append((idx, a[idx], b[idx]))
    if skey is not None:
        _ENC_CACHE[skey] = ((a, b), chunks)
    return chunks


def jaro_similarity(a, b, chunk: int | None = None) -> np.ndarray:
    """Vectorized Jaro similarity over paired string batches.

    ``chunk`` bounds the (chunk, La, Lb) match tensors; default
    ``_KERNEL_CHUNK``."""
    chunk = chunk or _KERNEL_CHUNK
    a = _as_str_array(a)
    b = _as_str_array(b)
    # batch-level similarity cache: score_pairs runs BOTH jaro_distance and
    # jaro_winkler_similarity per batch, and Winkler = Jaro + prefix bonus —
    # the second call reuses the first's O(n·La·Lb) matching pass. Keyed by
    # both sides' (pointer, length); the value retains both arrays. Callers
    # must not mutate the returned array in place (none do — every consumer
    # derives a new array).
    ka, kb = _cache_key(a, "sim"), _cache_key(b, "sim")
    skey = ("jarosim", ka, kb) if ka is not None and kb is not None else None
    if skey is not None:
        hit = _ENC_CACHE.get(skey)
        if hit is not None:
            return hit[1]
    n = len(a)
    out = np.empty(n, dtype=np.float64)
    for idx, ac, bc in _pair_chunks(a, b, chunk):
        r = _jaro_chunk(ac, bc)
        if idx is None:
            out[:] = r
        else:
            out[idx] = r
    if skey is not None:
        _ENC_CACHE[skey] = ((a, b), out)
    return out


def _jaro_chunk(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    n = len(a)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    A, la, B, lb = _encode_pair(a, b)
    La, Lb = A.shape[1], B.shape[1]

    sim = np.zeros(n, dtype=np.float64)
    both_empty = (la == 0) & (lb == 0)
    sim[both_empty] = 1.0
    active = ~both_empty & (la > 0) & (lb > 0)
    if not active.any():
        return sim

    # match window: floor(max(la,lb)/2) - 1, clamped at 0
    win = np.maximum(np.maximum(la, lb) // 2 - 1, 0)  # (n,)
    if Lb <= 64 and _LITTLE_ENDIAN:
        eq = A[:, :, None] == B[:, None, :]  # (n, La, Lb)
        match_a, used_b = _assign_matches_packed(eq, win)
    else:
        eq = A[:, :, None] == B[:, None, :]
        match_a, used_b = _assign_matches_bool(eq, win)

    m = match_a.sum(axis=1).astype(np.float64)
    matched = m > 0

    # transpositions: a-side matched chars in i order vs b-side matched
    # chars in j order. np.nonzero returns row-major order, which IS rank
    # order within each row, and both sides have the same per-row match
    # count — so the flat gathers are already aligned element-for-element
    # and the mismatch count is one bincount (the former rank-cumsum +
    # (n, mmax) scatter buffers redid that alignment at 2.5× the cost).
    ai, aj = np.nonzero(match_a)
    bi, bj = np.nonzero(used_b)
    if len(ai):
        flat_a = A[ai, aj]
        flat_b = B[bi, bj]
        mism = np.bincount(ai[flat_a != flat_b], minlength=n)
        t = (mism // 2).astype(np.float64)
    else:
        t = np.zeros(n, dtype=np.float64)

    with np.errstate(divide="ignore", invalid="ignore"):
        s = (
            m / np.maximum(la, 1)
            + m / np.maximum(lb, 1)
            + np.where(matched, (m - t) / np.maximum(m, 1), 0.0)
        ) / 3.0
    sim[active & matched] = s[active & matched]
    return sim


def _assign_matches_bool(eq: np.ndarray, win: np.ndarray):
    """Greedy Jaro match assignment, dense-bool fallback (Lb > 64 words or
    big-endian host): window tensor + per-position argmax scan."""
    n, La, Lb = eq.shape
    ii = np.arange(La)[:, None]
    jj = np.arange(Lb)[None, :]
    window_ok = np.abs(ii - jj)[None, :, :] <= win[:, None, None]
    # in-place AND: one fewer (n, La, Lb) allocation per chunk
    cand = np.logical_and(eq, window_ok, out=eq)

    used_b = np.zeros((n, Lb), dtype=bool)
    match_a = np.zeros((n, La), dtype=bool)
    rows = np.arange(n)
    for i in range(La):
        avail = cand[:, i, :] & ~used_b
        has = avail.any(axis=1)
        j = avail.argmax(axis=1)
        used_b[rows[has], j[has]] = True
        match_a[:, i] = has
    return match_a, used_b


def _window_table(win: np.ndarray, La: int) -> np.ndarray:
    """(wmax+1, La) uint64 LUT of bit-range window masks |i-j| <= w; gather
    rows with ``wtab[win]``. Masks depend only on (w, i) and w is a small
    integer — the per-row formula materialized six (n, La) uint64
    temporaries and was the hottest stage of the whole kernel."""
    one = np.uint64(1)
    full = np.uint64(0xFFFFFFFFFFFFFFFF)

    def _upto(kk: np.ndarray) -> np.ndarray:  # 2^k - 1 for k in [0, 64]
        res = (one << np.minimum(kk, np.uint64(63))) - one
        return np.where(kk >= np.uint64(64), full, res)

    ii = np.arange(La, dtype=np.int64)[None, :]
    ww = np.arange(int(win.max()) + 1, dtype=np.int64)[:, None]
    lo = np.maximum(ii - ww, 0).astype(np.uint64)
    hi_cnt = np.minimum(ii + ww + 1, 64).astype(np.uint64)
    return _upto(hi_cnt) ^ _upto(lo)


def _greedy_packed(packed: np.ndarray, Lb: int):
    """Greedy Jaro assignment over per-(row, i) uint64 candidate words:
    position i takes the LOWEST available candidate bit. Returns
    (match_a (n, La) bool, used_b (n, Lb) bool)."""
    n, La = packed.shape
    one = np.uint64(1)
    candT = np.ascontiguousarray(packed.T)  # (La, n): contiguous per-i rows
    used = np.zeros(n, dtype=np.uint64)
    match_a = np.zeros((n, La), dtype=bool)
    for i in range(La):
        avail = candT[i] & ~used
        used |= avail & (~avail + one)  # take the lowest available bit
        match_a[:, i] = avail != 0
    # unpack the final used-bit words back to the (n, Lb) bool the
    # transposition pass consumes (one cheap pass, not per-position)
    ub = np.unpackbits(used.view(np.uint8).reshape(n, 8), axis=1, bitorder="little")
    return match_a, ub[:, :Lb].astype(bool)


def _assign_matches_packed(eq: np.ndarray, win: np.ndarray):
    """Greedy Jaro match assignment with the candidate mask BIT-PACKED into
    one uint64 word per (row, a-position) — the hot path whenever the
    b-side fits 64 chars (every cleaned company name does).

    Versus the dense-bool path this removes the (n, La, Lb) window tensor
    and its big AND pass entirely (the window becomes one (n, La) uint64
    mask computed from bit ranges) and shrinks the scan's per-position
    traffic from (n, Lb) bool slabs to (n,) uint64 words — ~Lb/8× fewer
    bytes. The greedy rule is unchanged: position i takes the LOWEST
    available candidate j (lowest set bit ≡ argmax of the bool row).

    This is the memory-bandwidth fix behind the 8→32 scaling gate
    (VERDICT r3 item 1): the kernel was DRAM-bound on the match tensors."""
    n, La, Lb = eq.shape
    # pack the Lb axis into a single little-endian uint64 per (row, i)
    p8 = np.packbits(eq, axis=2, bitorder="little")  # (n, La, ceil(Lb/8))
    if p8.shape[2] < 8:
        padded = np.zeros((n, La, 8), dtype=np.uint8)
        padded[:, :, : p8.shape[2]] = p8
        p8 = padded
    packed = p8.view(np.uint64)[:, :, 0]  # (n, La)
    # window |i-j| <= win as a bit-range mask (7.0 → 1.5 ms/chunk via the
    # LUT: the per-row formula was the kernel's hottest stage, pure DRAM
    # traffic — exactly what the 8→32 scaling gate pays)
    packed &= _window_table(win, La)[win]
    return _greedy_packed(packed, Lb)


def jaro_distance(a, b) -> np.ndarray:
    """Pure Jaro distance = 1 - similarity (stringdist 'jw' with p=0)."""
    return 1.0 - jaro_similarity(a, b)


def jaro_winkler_similarity(
    a, b, p: float = 0.1, max_prefix: int = 4, boost_threshold: float = 0.7
) -> np.ndarray:
    """Standard Jaro-Winkler: the common-prefix bonus applies only when the
    base Jaro similarity exceeds ``boost_threshold`` (Winkler's original
    rule; also DuckDB's jaro_winkler_similarity, which the kernel now
    matches bit-for-bit on ASCII — verified in tests/test_strings.py)."""
    a_arr = _as_str_array(a)
    b_arr = _as_str_array(b)
    sim = jaro_similarity(a_arr, b_arr)
    # common-prefix length up to max_prefix: encode only the first
    # max_prefix chars (a full-width batch encode here would be the one
    # remaining batch-max-length cost after the chunked Jaro pass) +
    # cumulative AND, fully vectorized across the batch (no per-row Python)
    n = len(a_arr)
    a4 = np.empty(n, dtype=object)
    b4 = np.empty(n, dtype=object)
    for i in range(n):
        a4[i] = a_arr[i][:max_prefix]
        b4[i] = b_arr[i][:max_prefix]
    A, la, B, lb = _encode_pair(a4, b4)
    k = min(max_prefix, A.shape[1], B.shape[1])
    if k > 0:
        eq = A[:, :k] == B[:, :k]  # pads differ → False past either length
        prefix = np.cumprod(eq, axis=1).sum(axis=1).astype(np.float64)
    else:
        prefix = np.zeros(len(a_arr), dtype=np.float64)
    return np.where(sim > boost_threshold, sim + prefix * p * (1.0 - sim), sim)


def qgram_cosine_distance(a, b, q: int = 1, chunk: int | None = None) -> np.ndarray:
    """q-gram cosine distance (stringdist method='cosine', default q=1).

    distance = 1 - cos(counts_a, counts_b) over q-gram count vectors.
    Strings shorter than q (incl. empty) yield NaN like stringdist.
    """
    chunk = chunk or _KERNEL_CHUNK
    a = _as_str_array(a)
    b = _as_str_array(b)
    n = len(a)
    out = np.empty(n, dtype=np.float64)
    for idx, ac, bc in _pair_chunks(a, b, chunk):
        r = _qgram_cosine_chunk(ac, bc, q)
        if idx is None:
            out[:] = r
        else:
            out[idx] = r
    return out


def _qgram_cosine_u8(A, la, B, lb, q: int) -> np.ndarray:
    """Packed-key q-gram cosine for uint8 batches. Pads (0xFF / 0xFE) never
    appear at valid gram positions, so raw bytes ARE the gram alphabet:
    code = big-endian base-256 fold of q bytes < 2^(8q)."""
    n = A.shape[0]
    shift = np.int64(8 * q + 1)

    def _codes(mat: np.ndarray, lengths: np.ndarray) -> np.ndarray:
        L = mat.shape[1]
        if L < q:
            return np.full((n, 1), -1, dtype=np.int64)
        m = mat.astype(np.int64)
        code = m[:, : L - q + 1].copy()
        for k in range(1, q):
            code = (code << 8) | m[:, k : L - q + 1 + k]
        pos = np.arange(L - q + 1)[None, :]
        return np.where(pos <= lengths[:, None] - q, code, -1)

    def _keys(codes: np.ndarray, side: int) -> np.ndarray:
        rows = np.repeat(np.arange(n, dtype=np.int64), codes.shape[1])
        flat = codes.ravel()
        ok = flat >= 0
        return (rows[ok] << shift) | (flat[ok] << np.int64(1)) | np.int64(side)

    k = np.concatenate([_keys(_codes(A, la), 0), _keys(_codes(B, lb), 1)])
    k.sort()
    dot = np.zeros(n, dtype=np.float64)
    na2 = np.zeros(n, dtype=np.float64)
    nb2 = np.zeros(n, dtype=np.float64)
    if len(k):
        seg_key = k >> np.int64(1)  # (row, code) — side stripped
        new_seg = np.empty(len(k), dtype=bool)
        new_seg[0] = True
        new_seg[1:] = seg_key[1:] != seg_key[:-1]
        seg = np.cumsum(new_seg) - 1
        nseg = int(seg[-1]) + 1
        side = (k & np.int64(1)).astype(bool)
        cnt_a = np.bincount(seg[~side], minlength=nseg).astype(np.float64)
        cnt_b = np.bincount(seg[side], minlength=nseg).astype(np.float64)
        seg_row = seg_key[new_seg] >> np.int64(shift - 1)
        dot = np.bincount(seg_row, weights=cnt_a * cnt_b, minlength=n)
        na2 = np.bincount(seg_row, weights=cnt_a * cnt_a, minlength=n)
        nb2 = np.bincount(seg_row, weights=cnt_b * cnt_b, minlength=n)
    na = np.sqrt(na2)
    nb = np.sqrt(nb2)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / (na * nb)
    out = 1.0 - cos
    out[(na == 0) | (nb == 0)] = np.nan
    return out


def _qgram_codes(mat: np.ndarray, lengths: np.ndarray, q: int) -> np.ndarray:
    """(B, L) codepoints → (B, L-q+1) int64 rolling q-gram codes; invalid
    positions get unique negative sentinels per side via the pad values."""
    B, L = mat.shape
    if L < q:
        return np.full((B, 1), -1, dtype=np.int64)
    m = mat.astype(np.int64) + 2  # shift pads (-1/-2) to 1/0, chars ≥ 2
    code = m[:, : L - q + 1].copy()
    for k in range(1, q):
        code = code * 1114112 + m[:, k : L - q + 1 + k]
    # mask positions beyond len-q
    pos = np.arange(L - q + 1)[None, :]
    valid = pos <= (lengths[:, None] - q)
    return np.where(valid, code, -1)


def _qgram_cosine_chunk(a: np.ndarray, b: np.ndarray, q: int) -> np.ndarray:
    """Sparse sort-based cosine: O(total q-grams · log) time and memory.

    (The obvious dense (chunk × vocab) histogram is O(chunk² · len) memory —
    at 10k-row Arrow batches that is gigabytes per worker and collapses
    under 32 concurrent executors; this version is flat.)

    uint8-encoded batches (the hot path) take ``_qgram_cosine_u8``: gram
    codes are base-256 (≤ 8q bits), so (row, code, side) packs into ONE
    int64 sort key — a single in-place sort + bincounts instead of the
    3-key lexsort + gather passes (~2× the q-gram kernel, round-4
    profile). int32 codepoint batches keep the lexsort (base-1114112
    codes don't fit a packed key).
    """
    n = len(a)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    A, la, B, lb = _encode_pair(a, b)
    if A.dtype == np.uint8:
        shift = 8 * q + 1
        if n << shift < (1 << 62):
            return _qgram_cosine_u8(A, la, B, lb, q)
    ca = _qgram_codes(A, la, q)
    cb = _qgram_codes(B, lb, q)

    def _flat(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        rows = np.repeat(np.arange(n), codes.shape[1])
        flat = codes.ravel()
        ok = flat != -1
        return rows[ok], flat[ok]

    ra, fa = _flat(ca)
    rb, fb = _flat(cb)
    rows_all = np.concatenate([ra, rb])
    codes_all = np.concatenate([fa, fb])
    side = np.concatenate(
        [np.zeros(len(ra), dtype=np.int8), np.ones(len(rb), dtype=np.int8)]
    )
    order = np.lexsort((side, codes_all, rows_all))
    r, c, s = rows_all[order], codes_all[order], side[order]
    # segment = run of equal (row, code)
    if len(r):
        new_seg = np.empty(len(r), dtype=bool)
        new_seg[0] = True
        new_seg[1:] = (r[1:] != r[:-1]) | (c[1:] != c[:-1])
        seg = np.cumsum(new_seg) - 1
        nseg = seg[-1] + 1
        cnt_a = np.zeros(nseg, dtype=np.float64)
        cnt_b = np.zeros(nseg, dtype=np.float64)
        np.add.at(cnt_a, seg[s == 0], 1.0)
        np.add.at(cnt_b, seg[s == 1], 1.0)
        seg_row = r[new_seg]
        dot = np.zeros(n, dtype=np.float64)
        na2 = np.zeros(n, dtype=np.float64)
        nb2 = np.zeros(n, dtype=np.float64)
        np.add.at(dot, seg_row, cnt_a * cnt_b)
        np.add.at(na2, seg_row, cnt_a * cnt_a)
        np.add.at(nb2, seg_row, cnt_b * cnt_b)
    else:
        dot = np.zeros(n)
        na2 = np.zeros(n)
        nb2 = np.zeros(n)
    na = np.sqrt(na2)
    nb = np.sqrt(nb2)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / (na * nb)
    out = 1.0 - cos
    out[(na == 0) | (nb == 0)] = np.nan
    return out
