"""String-similarity kernels for pairwise scoring.

The reference delegates these to dedupe 3.0.3's C comparators
(call site /root/reference/backend/dedupe_script.py:266-290 — String =
normalized affine-gap edit distance, Text = corpus-weighted token cosine;
SURVEY.md §2.6 M1). Here they are pure-Python/numpy kernels designed to run
inside Arrow-batched pandas UDFs: one Python call per ~10k-row batch, no
per-row Spark UDF overhead. Jaro-Winkler and Levenshtein are verified
against DuckDB's built-ins in tests/test_strings.py so the same math can be
used in DuckDB oracle SQL.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# Jaro / Jaro-Winkler (DuckDB-compatible: boost threshold 0.7, prefix<=4)
# ---------------------------------------------------------------------------


def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0  # incl. both-empty — matches DuckDB jaro_winkler_similarity
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    a_flags = [False] * la
    b_flags = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not b_flags[j] and b[j] == ca:
                a_flags[i] = True
                b_flags[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(la):
        if a_flags[i]:
            while not b_flags[j]:
                j += 1
            if a[i] != b[j]:
                transpositions += 1
            j += 1
    t = transpositions // 2
    m = float(matches)
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, prefix_weight: float = 0.1, boost_threshold: float = 0.7) -> float:
    """Jaro-Winkler similarity; prefix boost applied only above the
    threshold, common prefix capped at 4 (matches DuckDB / classic Winkler).
    """
    j = jaro(a, b)
    if j <= boost_threshold:
        return j
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca == cb:
            prefix += 1
        else:
            break
    return j + prefix * prefix_weight * (1.0 - j)


# ---------------------------------------------------------------------------
# Levenshtein (unit costs — matches DuckDB levenshtein())
# ---------------------------------------------------------------------------


def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    if la > lb:  # ensure b is the longer (smaller row)
        a, b, la, lb = b, a, lb, la
    prev = list(range(la + 1))
    cur = [0] * (la + 1)
    for j in range(1, lb + 1):
        cur[0] = j
        cb = b[j - 1]
        for i in range(1, la + 1):
            cost = 0 if a[i - 1] == cb else 1
            x = prev[i] + 1
            y = cur[i - 1] + 1
            z = prev[i - 1] + cost
            cur[i] = x if x < y else y
            if z < cur[i]:
                cur[i] = z
        prev, cur = cur, prev
    return prev[la]


def levenshtein_sim(a: str, b: str) -> float:
    """1 - lev/max(len); 1.0 for two empty strings."""
    m = max(len(a), len(b))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein(a, b) / m


def _encode_batch(strs: "np.ndarray") -> tuple[np.ndarray, np.ndarray]:
    """(N, Lmax) int32 codepoint matrix (pad -1) + (N,) lengths."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    lmax = int(lens.max()) if n else 0
    out = np.full((n, max(lmax, 1)), -1, dtype=np.int32)
    for i, s in enumerate(strs):
        if s:
            out[i, : len(s)] = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.int32
            )
    return out, lens


# Cache-blocking chunk for the DP kernels: a chunk's working set
# (~CHUNK x Lmax x a few int32/bool arrays) must stay L2-resident, or the
# kernels go DRAM-bandwidth-bound and stop scaling across cores (measured:
# per-core throughput halves from 8 to 32 workers without blocking).
_DP_CHUNK = 512


def _encode_unique_pairs(
    a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Encode the DISTINCT strings of a pair batch once.

    In pairwise scoring the same record value recurs across many candidate
    pairs (a record in a block of size s appears in ~s pairs), so encoding
    per pair-occurrence redoes the same utf-32 conversion ~s times and the
    redundant (rows x Lmax) writes become pure DRAM traffic — the resource
    the width-32 scaling runs saturate first (BENCH.md). Factorize both
    sides together, encode each unique string once, and let the chunk
    kernels gather codepoint rows by code.

    Returns (ENC, lens, codes_a, codes_b): ENC is the (U, Lmax) codepoint
    matrix over uniques, lens its (U,) lengths.
    """
    n = len(a)
    codes, uniq = pd.factorize(np.concatenate([a, b]))
    enc, lens = _encode_batch(np.asarray(uniq, dtype=object))
    return enc, lens, codes[:n], codes[n:]


def _gather_enc(
    enc: np.ndarray, lens: np.ndarray, codes: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(chunk, Lchunk) codepoint rows for one chunk's codes, trimmed to the
    chunk's own max length so the DP working set stays cache-blocked at the
    chunk level (global Lmax would inflate every row of every chunk)."""
    ls = lens[codes]
    lmax = int(ls.max()) if len(ls) else 0
    return enc[codes, : max(lmax, 1)], ls


def levenshtein_batch_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized-across-pairs Levenshtein distance.

    DP rows iterate over the shorter-side max length in Python; the column
    dependency cur[i] = min(..., cur[i-1]+1) is resolved with the classic
    prefix-min identity cur[i] = min_{k<=i}(m[k] + (i-k)) computed by
    ``minimum.accumulate`` on m[k]-k — so each DP row is pure numpy over a
    cache-blocked chunk of the batch. ~100x faster than per-pair Python on
    ~50-char strings, and chunked to stay compute-bound across many cores.
    """
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    enc, lens, ca, cb = _encode_unique_pairs(a, b)
    out = np.empty(n, dtype=np.int64)
    for s in range(0, n, _DP_CHUNK):
        e = min(s + _DP_CHUNK, n)
        out[s:e] = _lev_chunk(
            *_gather_enc(enc, lens, ca[s:e]), *_gather_enc(enc, lens, cb[s:e])
        )
    return out


def _lev_chunk(
    A: np.ndarray, la: np.ndarray, B: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    n = len(A)
    # iterate over the globally shorter side for fewer Python iterations
    if A.shape[1] > B.shape[1]:
        A, B, la, lb = B, A, lb, la
    l1max, l2max = A.shape[1], B.shape[1]
    idx = np.arange(l1max + 1, dtype=np.int32)
    prev = np.broadcast_to(idx, (n, l1max + 1)).copy()
    res = np.where(lb == 0, la, 0)
    done = lb == 0
    m = np.empty((n, l1max + 1), dtype=np.int32)
    for j in range(1, l2max + 1):
        cost = (A != B[:, j - 1 : j]).astype(np.int32)  # (n, l1max)
        m[:, 0] = j
        np.minimum(prev[:, 1:] + 1, prev[:, :-1] + cost, out=m[:, 1:])
        m -= idx
        cur = np.minimum.accumulate(m, axis=1)
        cur += idx
        hit = lb == j
        if hit.any():
            res = np.where(hit, cur[np.arange(n), la], res)
            done |= hit
        prev = cur
        if done.all():
            break
    return res


# ---------------------------------------------------------------------------
# Affine-gap alignment (dedupe's 'String' comparator — Gotoh 1982)
# ---------------------------------------------------------------------------

# Default weights of the public dedupeio/affinegap library: aligning a
# matching char costs MATCH, a mismatch MISMATCH, opening a gap GAP_OPEN
# plus SPACE per gapped char. dedupe feeds the length-normalized distance
# dist/(len_a+len_b) to its logistic regression; we do the same (the
# learner absorbs the scale).
AG_MATCH = 1.0
AG_MISMATCH = 11.0
AG_OPEN = 10.0
AG_SPACE = 7.0


def affine_gap_distance(
    a: str,
    b: str,
    match: float = AG_MATCH,
    mismatch: float = AG_MISMATCH,
    open_: float = AG_OPEN,
    space: float = AG_SPACE,
) -> float:
    """Scalar Gotoh affine-gap alignment cost (golden truth for the batch
    kernel)."""
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 0.0
    if la == 0:
        return open_ + space * lb
    if lb == 0:
        return open_ + space * la
    inf = float("inf")
    # D best, A gap-in-progress consuming a, B gap-in-progress consuming b
    d_prev = [0.0] + [open_ + space * i for i in range(1, la + 1)]
    ga_prev = [inf] * (la + 1)
    gb_prev = [inf] * (la + 1)
    for j in range(1, lb + 1):
        d_cur = [open_ + space * j] + [0.0] * la
        ga_cur = [inf] * (la + 1)
        gb_cur = [inf] * (la + 1)
        for i in range(1, la + 1):
            m = d_prev[i - 1] + (match if a[i - 1] == b[j - 1] else mismatch)
            gb_cur[i] = min(d_prev[i] + open_ + space, gb_prev[i] + space)
            ga_cur[i] = min(d_cur[i - 1] + open_ + space, ga_cur[i - 1] + space)
            d_cur[i] = min(m, ga_cur[i], gb_cur[i])
        d_prev, ga_prev, gb_prev = d_cur, ga_cur, gb_cur
    return d_prev[la]


def normalized_affine_gap(a: str, b: str) -> float:
    """dedupe's normalized affine-gap field distance: cost / (la + lb)."""
    la, lb = len(a), len(b)
    if la + lb == 0:
        return 0.0
    return affine_gap_distance(a, b) / (la + lb)


def affine_gap_batch_np(
    a: np.ndarray,
    b: np.ndarray,
    match: float = AG_MATCH,
    mismatch: float = AG_MISMATCH,
    open_: float = AG_OPEN,
    space: float = AG_SPACE,
) -> np.ndarray:
    """Vectorized-across-pairs normalized affine-gap distance.

    Same structure as levenshtein_batch_np: j-rows in Python, i-columns
    whole-batch numpy. The within-row dependency ga[i] = min(D[i-1]+open+
    space, ga[i-1]+space) resolves with the prefix-min identity over
    E[k] = min(M, gb)[k] (substituting D's definition), since the
    per-step increment is the constant ``space``. Cache-blocked via
    _DP_CHUNK. Output = cost / (la + lb).
    """
    n = len(a)
    if n == 0:
        return np.zeros(0)
    enc, lens, ca, cb = _encode_unique_pairs(a, b)
    out = np.empty(n, dtype=np.float64)
    for s in range(0, n, _DP_CHUNK):
        e = min(s + _DP_CHUNK, n)
        out[s:e] = _ag_chunk(
            *_gather_enc(enc, lens, ca[s:e]),
            *_gather_enc(enc, lens, cb[s:e]),
            match,
            mismatch,
            open_,
            space,
        )
    return out


def _ag_chunk(A, la, B, lb, match, mismatch, open_, space):
    n = len(A)
    if A.shape[1] > B.shape[1]:
        A, B, la, lb = B, A, lb, la
    l1max, l2max = A.shape[1], B.shape[1]
    big = 1e18
    i_idx = np.arange(l1max + 1, dtype=np.float64)
    # row j=0: D[i] = open + space*i (i>=1), D[0]=0
    d_prev = np.broadcast_to(open_ + space * i_idx, (n, l1max + 1)).copy()
    d_prev[:, 0] = 0.0
    gb_prev = np.full((n, l1max + 1), big)
    res = np.where(lb == 0, np.where(la == 0, 0.0, open_ + space * la), 0.0)
    done = lb == 0
    step = space * i_idx
    for j in range(1, l2max + 1):
        sub = np.where(A == B[:, j - 1 : j], match, mismatch)
        m = np.empty((n, l1max + 1))
        m[:, 0] = big
        m[:, 1:] = d_prev[:, :-1] + sub
        gb = np.empty((n, l1max + 1))
        gb[:, 0] = big
        np.minimum(
            d_prev[:, 1:] + (open_ + space), gb_prev[:, 1:] + space, out=gb[:, 1:]
        )
        # within-row gap (consume a chars): prefix-min over E = min(m, gb)
        e_row = np.minimum(m, gb)
        e_row[:, 0] = open_ + space * j  # D[0, j] boundary opens from col 0
        t = e_row + open_ + space - step  # E[k] + open + space - k*space
        run = np.minimum.accumulate(t, axis=1)
        ga = np.full((n, l1max + 1), big)
        # ga[i] = min_{k<=i-1}(E[k]+open+space+(i-1-k)*space)
        #       = run[i-1] + (i-1)*space   (t already holds +open+space-k*space)
        ga[:, 1:] = run[:, :-1] + (step[1:] - space)
        d_cur = np.minimum(np.minimum(m, gb), ga)
        d_cur[:, 0] = open_ + space * j
        hit = lb == j
        if hit.any():
            res = np.where(hit, d_cur[np.arange(n), la], res)
            done |= hit
        d_prev, gb_prev = d_cur, gb
        if done.all():
            break
    denom = np.maximum(la + lb, 1)
    return res / denom


def token_cosine(a: str, b: str) -> float:
    """Cosine over token count vectors (unweighted; corpus-free)."""
    ta, tb = a.split(), b.split()
    if not ta or not tb:
        return 0.0
    ca: dict[str, int] = {}
    cb: dict[str, int] = {}
    for t in ta:
        ca[t] = ca.get(t, 0) + 1
    for t in tb:
        cb[t] = cb.get(t, 0) + 1
    dot = sum(v * cb.get(k, 0) for k, v in ca.items())
    if dot == 0:
        return 0.0
    na = sum(v * v for v in ca.values()) ** 0.5
    nb = sum(v * v for v in cb.values()) ** 0.5
    return dot / (na * nb)


def tfidf_cosine(a: str, b: str, idf: dict[str, float], default_idf: float) -> float:
    """Scalar TF-IDF-weighted token cosine (golden truth for the batch
    kernel). Unknown tokens take ``default_idf`` (rare ⇒ max weight)."""
    ta, tb = a.split(), b.split()
    if not ta or not tb:
        return 0.0
    ca: dict[str, float] = {}
    cb: dict[str, float] = {}
    for t in ta:
        ca[t] = ca.get(t, 0.0) + idf.get(t, default_idf)
    for t in tb:
        cb[t] = cb.get(t, 0.0) + idf.get(t, default_idf)
    dot = sum(v * cb.get(k, 0.0) for k, v in ca.items())
    if dot == 0:
        return 0.0
    na = sum(v * v for v in ca.values()) ** 0.5
    nb = sum(v * v for v in cb.values()) ** 0.5
    return dot / (na * nb)


def tfidf_cosine_batch_np(
    a: np.ndarray, b: np.ndarray, idf: dict[str, float], default_idf: float
) -> np.ndarray:
    """Unique-string-cached batch TF-IDF cosine (dedupe's corpus-weighted
    Text comparator; the IDF dict is bounded to the corpus' top-K tokens
    and ships broadcast in the UDF closure — rare tokens share one default
    weight, so the dict stays executor-memory-safe at any corpus size)."""
    return _cosine_batch_impl(a, b, idf, default_idf)


def ngram_set(s: str, n: int = 3) -> set[str]:
    if len(s) < n:
        return {s} if s else set()
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def ngram_jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = ngram_set(a, n), ngram_set(b, n)
    if not sa and not sb:
        return 1.0
    if not sa or not sb:
        return 0.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def jaro_winkler_batch_np(
    a: np.ndarray, b: np.ndarray, prefix_weight: float = 0.1,
    boost_threshold: float = 0.7,
) -> np.ndarray:
    """Vectorized-across-pairs Jaro-Winkler.

    The greedy window matching loops over character positions of the left
    string (<= l1max Python iterations); flag updates, ordered matched-
    sequence extraction (via cumsum-rank scatter), transposition counting,
    and the Winkler prefix boost are all whole-batch numpy. Matches the
    scalar :func:`jaro_winkler` (DuckDB-compatible) bit-for-bit.
    """
    n = len(a)
    if n == 0:
        return np.zeros(0)
    enc, lens, ca, cb = _encode_unique_pairs(a, b)
    out = np.empty(n, dtype=np.float64)
    for s in range(0, n, _DP_CHUNK):
        e = min(s + _DP_CHUNK, n)
        out[s:e] = _jw_chunk(
            *_gather_enc(enc, lens, ca[s:e]),
            *_gather_enc(enc, lens, cb[s:e]),
            prefix_weight,
            boost_threshold,
        )
    return out


def _jw_chunk(
    A: np.ndarray,
    la: np.ndarray,
    B: np.ndarray,
    lb: np.ndarray,
    prefix_weight: float,
    boost_threshold: float,
) -> np.ndarray:
    n = len(A)
    l1max, l2max = A.shape[1], B.shape[1]
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    aflag = np.zeros((n, l1max), dtype=bool)
    bflag = np.zeros((n, l2max), dtype=bool)
    cols = np.arange(l2max)
    for i in range(l1max):
        lo = np.maximum(0, i - window)[:, None]
        hi = np.minimum(lb, i + window + 1)[:, None]
        cand = (
            (B == A[:, i : i + 1])
            & ~bflag
            & (cols >= lo)
            & (cols < hi)
            & (i < la)[:, None]
        )
        has = cand.any(axis=1)
        j = cand.argmax(axis=1)
        aflag[has, i] = True
        bflag[has, j[has]] = True
    matches = aflag.sum(axis=1)
    # ordered matched sequences: scatter by per-row match rank
    ra = np.cumsum(aflag, axis=1) - 1
    rb = np.cumsum(bflag, axis=1) - 1
    seq_a = np.full((n, l1max), -1, dtype=np.int32)
    seq_b = np.full((n, max(l1max, l2max)), -2, dtype=np.int32)
    rows_a, cols_a = np.nonzero(aflag)
    seq_a[rows_a, ra[aflag]] = A[rows_a, cols_a]
    rows_b, cols_b = np.nonzero(bflag)
    seq_b[rows_b, rb[bflag]] = B[rows_b, cols_b]
    t = ((seq_a != seq_b[:, :l1max]) & (seq_a != -1)).sum(axis=1) // 2
    m = matches.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        j3 = (
            m / np.maximum(la, 1)
            + m / np.maximum(lb, 1)
            + (m - t) / np.maximum(m, 1)
        ) / 3.0
    jv = np.where((matches == 0) | (la == 0) | (lb == 0), 0.0, j3)
    # Winkler prefix boost (common prefix capped at 4, only above threshold)
    pmax = min(4, l1max, l2max)
    if pmax > 0:
        eq = (A[:, :pmax] == B[:, :pmax]) & (A[:, :pmax] != -1)
        prefix = np.minimum(
            eq.cumprod(axis=1).sum(axis=1), 4
        ).astype(np.float64)
    else:
        prefix = np.zeros(n)
    boosted = jv + prefix * prefix_weight * (1.0 - jv)
    return np.where(jv > boost_threshold, boosted, jv)


def _token_vectors(
    tcodes: np.ndarray, offs: np.ndarray, V: int, w: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-unique sorted sparse token vectors from a token-code stream.

    ``tcodes``: concatenated token codes of all uniques; ``offs``: (U+1,)
    segment boundaries. ``w``: optional per-vocab-code weight (IDF); None
    means unit weights (plain counts). Returns CSR-ish arrays
    (codes, vals, starts, lens, norms) with codes sorted within each
    unique — the sort order the pairwise merge below relies on.
    """
    U = len(offs) - 1
    seg_lens = np.diff(offs)
    u_ids = np.repeat(np.arange(U, dtype=np.int64), seg_lens)
    uk, cnt = np.unique(u_ids * V + tcodes, return_counts=True)  # sorted
    urow = uk // V
    ucode = uk % V
    val = cnt.astype(np.float64)
    if w is not None:
        val *= w[ucode]
    lens = np.bincount(urow, minlength=U).astype(np.int64)
    starts = np.zeros(U, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    norms = np.sqrt(np.bincount(urow, weights=val * val, minlength=U))
    return ucode, val, starts, lens, norms


# Pair-chunk for the sparse merge: keeps every per-chunk stream array a few
# MB so the allocator reuses warm pages (this sandbox faults fresh large
# allocations in pathologically slowly — see minhash_bands_batch).
_COS_CHUNK = 4096


def _sparse_pair_dots(
    A: tuple, B: tuple, cA: np.ndarray, cB: np.ndarray, V: int
) -> np.ndarray:
    """Row-wise sparse dot products between gathered unique vectors.

    ``A``/``B`` are :func:`_token_vectors` outputs; ``cA``/``cB`` map each
    pair to its unique index per side. Fully vectorized: each chunk builds
    (pair, code) key streams — sorted by construction since pair ids
    ascend and codes are sorted within a unique — and merges them with one
    searchsorted + bincount. No per-pair Python.
    """
    codesA, valsA, startsA, lensA, _ = A
    codesB, valsB, startsB, lensB, _ = B
    n = len(cA)
    out = np.zeros(n)

    def stream(codes, vals, starts, lens, sel):
        ln = lens[sel]
        tot = int(ln.sum())
        if tot == 0:
            return None, None, None
        offs = np.zeros(len(ln) + 1, dtype=np.int64)
        np.cumsum(ln, out=offs[1:])
        idx = np.arange(tot, dtype=np.int64) - np.repeat(offs[:-1], ln)
        idx += np.repeat(starts[sel], ln)
        pair = np.repeat(np.arange(len(ln), dtype=np.int64), ln)
        return pair * V + np.take(codes, idx), np.take(vals, idx), pair

    for s in range(0, n, _COS_CHUNK):
        e = min(s + _COS_CHUNK, n)
        keyA, vA, pairA = stream(codesA, valsA, startsA, lensA, cA[s:e])
        keyB, vB, _ = stream(codesB, valsB, startsB, lensB, cB[s:e])
        if keyA is None or keyB is None:
            continue
        pos = np.searchsorted(keyB, keyA)
        pos_c = np.minimum(pos, len(keyB) - 1)
        hit = keyB[pos_c] == keyA
        out[s:e] = np.bincount(
            pairA[hit], weights=vA[hit] * np.take(vB, pos_c[hit]), minlength=e - s
        )
    return out


def _cosine_batch_impl(
    a: np.ndarray, b: np.ndarray, idf: dict | None, default_idf: float
) -> np.ndarray:
    n = len(a)
    if n == 0:
        return np.zeros(0)
    ca, uniq_a = pd.factorize(a)
    cb, uniq_b = pd.factorize(b)
    toks_a = [u.split() for u in uniq_a]
    toks_b = [u.split() for u in uniq_b]
    flat = [t for lst in toks_a for t in lst] + [t for lst in toks_b for t in lst]
    if not flat:
        return np.zeros(n)
    tcodes, vocab = pd.factorize(np.asarray(flat, dtype=object))
    V = len(vocab)
    w = None
    if idf is not None:
        w = np.fromiter(
            (idf.get(t, default_idf) for t in vocab), np.float64, count=V
        )
    la = np.fromiter((len(x) for x in toks_a), np.int64, count=len(toks_a))
    lb = np.fromiter((len(x) for x in toks_b), np.int64, count=len(toks_b))
    offs_a = np.zeros(len(la) + 1, dtype=np.int64)
    np.cumsum(la, out=offs_a[1:])
    offs_b = np.zeros(len(lb) + 1, dtype=np.int64)
    np.cumsum(lb, out=offs_b[1:])
    split = int(offs_a[-1])
    A = _token_vectors(tcodes[:split], offs_a, V, w)
    B = _token_vectors(tcodes[split:], offs_b, V, w)
    dots = _sparse_pair_dots(A, B, ca, cb, V)
    denom = A[4][ca] * B[4][cb]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where((dots > 0) & (denom > 0), dots / denom, 0.0)


def token_cosine_batch_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Batch token-count cosine — unique-string-cached AND pair-vectorized.

    Each side is factorized and tokenized/counted once per unique string
    (a record in a block of size s appears in ~s pairs); the pairwise dot
    is the sort-merge of :func:`_sparse_pair_dots`, so there is no
    per-pair Python anywhere. Counts are integers, so the dot and norms
    are bit-exact regardless of summation order — same values as the
    scalar :func:`token_cosine`.
    """
    return _cosine_batch_impl(a, b, None, 1.0)


# ---------------------------------------------------------------------------
# Batch wrappers (pandas Series in -> float64 ndarray out)
# ---------------------------------------------------------------------------


def _pairs(s1: pd.Series, s2: pd.Series):
    a = s1.fillna("").to_numpy(dtype=object)
    b = s2.fillna("").to_numpy(dtype=object)
    return a, b


def jw_batch(s1: pd.Series, s2: pd.Series) -> np.ndarray:
    a, b = _pairs(s1, s2)
    return jaro_winkler_batch_np(a, b)


def lev_sim_batch(s1: pd.Series, s2: pd.Series) -> np.ndarray:
    a, b = _pairs(s1, s2)
    la = np.fromiter((len(x) for x in a), dtype=np.int64, count=len(a))
    lb = np.fromiter((len(x) for x in b), dtype=np.int64, count=len(b))
    mx = np.maximum(np.maximum(la, lb), 1)
    d = levenshtein_batch_np(a, b)
    out = 1.0 - d / mx
    return np.where((la == 0) & (lb == 0), 1.0, out)


def token_cosine_batch(s1: pd.Series, s2: pd.Series) -> np.ndarray:
    a, b = _pairs(s1, s2)
    return token_cosine_batch_np(a, b)


def ngram_jaccard_batch(s1: pd.Series, s2: pd.Series, n: int = 3) -> np.ndarray:
    """Unique-string-cached n-gram Jaccard: shingle sets built once per
    distinct text (candidate pairs repeat records ~block-size times).

    The per-pair intersection deliberately stays a C ``set & set`` loop:
    shingle sets here are large (~|text| entries), and the sort-merge
    stream machinery the cosine kernels use measured ~25% SLOWER on this
    shape (1.12s vs 0.90s per 10k pairs of 300-char texts) — the stream
    gather/sort cost exceeds hashed set intersection at these set sizes.
    """
    a, b = _pairs(s1, s2)
    codes_a, uniq_a = pd.factorize(a)
    codes_b, uniq_b = pd.factorize(b)
    sets_a = [ngram_set(u, n) for u in uniq_a]
    sets_b = [ngram_set(u, n) for u in uniq_b]
    out = np.empty(len(a), dtype=np.float64)
    for i in range(len(a)):
        sa, sb = sets_a[codes_a[i]], sets_b[codes_b[i]]
        if not sa and not sb:
            out[i] = 1.0
        elif not sa or not sb:
            out[i] = 0.0
        else:
            inter = len(sa & sb)
            out[i] = inter / (len(sa) + len(sb) - inter)
    return out


# ---------------------------------------------------------------------------
# Hashing kernels: shingles, minhash, simhash (deterministic across workers)
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime universe: signature values fit uint32, halving the
# memory traffic of the batch kernel's (num_perm, n_shingles) sweep — the
# dominant cost at scale. 2^31 hash space is ample for MinHash-LSH banding
# (collisions only perturb the Jaccard estimate by ~1e-9).
_MERSENNE = (1 << 31) - 1

# Token/shingle hashing is md5-prefix based — not for speed (CRC32 was
# faster) but because md5 is the one high-quality hash BOTH this engine and
# DuckDB compute bit-identically on UTF-8 strings, which is what lets the
# MinHash-LSH and SimHash pipelines carry full DuckDB value oracles
# (queries.SQL_MINHASH_PAIRS / SQL_SIMHASH_PAIRS re-derive these exact
# hashes in SQL). Hashes are computed once per UNIQUE token/shingle per
# Arrow batch (factorize), so the C hashlib call is off the hot path.


def _hash32(s: str) -> int:
    """Deterministic 31-bit hash: top 8 hex chars of md5, masked to 31 bits
    (the mask keeps a*h+b inside signed-64 range for SQL twins)."""
    return (
        int(hashlib.md5(s.encode("utf-8", "surrogatepass")).hexdigest()[:8], 16)
        & 0x7FFFFFFF
    )


def _hash64(s: str) -> int:
    """Deterministic 64-bit hash: first 16 hex chars of md5."""
    return int(hashlib.md5(s.encode("utf-8", "surrogatepass")).hexdigest()[:16], 16)


def char_shingles(s: str, k: int = 5) -> list[str]:
    if len(s) <= k:
        return [s] if s else []
    return [s[i : i + k] for i in range(len(s) - k + 1)]


def word_shingles(s: str, k: int = 3) -> list[str]:
    toks = s.split()
    if len(toks) <= k:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature(
    shingles: list[str], a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """num_perm-length signature via (a*h + b) mod mersenne31.

    Vectorized: (num_perm, n_shingles) broadcast, min along shingle axis.
    Empty shingle set -> all-max sentinel signature.
    """
    if not shingles:
        return np.full(len(a), np.uint64(_MERSENNE), dtype=np.uint64)
    h = np.fromiter(
        (_hash32(s) for s in shingles), dtype=np.uint64, count=len(shingles)
    )
    # (num_perm, 1) * (n,) mod p — python-int free, stays in uint64 with mod
    prod = (a[:, None] * h[None, :] + b[:, None]) % np.uint64(_MERSENNE)
    return prod.min(axis=1)


def band_keys(sig: np.ndarray, bands: int, rows: int) -> list[int]:
    """LSH band bucket keys: hash each (band of `rows` sig values) to int64."""
    assert bands * rows <= len(sig)
    out = []
    for bi in range(bands):
        chunk = sig[bi * rows : (bi + 1) * rows]
        acc = np.uint64(1469598103934665603)  # FNV offset
        for v in chunk:
            acc = np.uint64((int(acc) ^ int(v)) * 1099511628211 & ((1 << 64) - 1))
        # fold band index in so bands never collide across band positions
        out.append(int((int(acc) ^ (bi << 56)) & ((1 << 63) - 1)))
    return out


def minhash_bands_batch(
    texts: "pd.Series",
    a: np.ndarray,
    b: np.ndarray,
    bands: int,
    rows: int,
    shingle_k: int = 5,
) -> list[list[int]]:
    """Whole-batch MinHash-LSH band keys.

    One pass: factorize all shingles of the batch (each unique shingle is
    CRC-hashed once — massive win since shingle vocab << total shingles),
    compute the (num_perm, U) permutation table for unique shingles, then
    per-document signature minima via ``np.minimum.reduceat`` over the
    document-sorted shingle stream, and vectorized FNV band folding.
    Produces exactly ``band_keys(minhash_signature(...))`` per non-empty
    text. Intentional divergence from the scalar path for EMPTY texts:
    they emit no band keys at all (the scalar composition would emit
    sentinel-signature keys, colliding every empty document into shared
    LSH buckets — a mega-block of definitionally-unrelated rows).
    """
    if len(texts) == 0:
        return []
    sh_lists = [
        char_shingles(t, shingle_k) if isinstance(t, str) else [] for t in texts
    ]
    return _band_keys_batch(sh_lists, a, b, bands, rows)


def weighted_minhash_bands_batch(
    texts: "pd.Series",
    a: np.ndarray,
    b: np.ndarray,
    bands: int,
    rows: int,
    cap: int = 3,
) -> list[list[int]]:
    """Whole-batch WEIGHTED MinHash-LSH band keys over word tokens.

    Replication construction (Chum, Philbin & Zisserman 2008, "Near
    duplicate image detection: min-hash and tf-idf weighting" — integer
    weights as element replication): token ``t`` with occurrence count
    ``c`` expands into elements ``t#1 .. t#min(c, cap)``, then the standard
    MinHash machinery runs on the expanded multiset — the band collision
    probability tracks the CAPPED BAG Jaccard
    ``Σ min(ĉA, ĉB) / Σ max(ĉA, ĉB)`` instead of the set Jaccard, so a
    page that repeats its boilerplate 3× and one that states it once stop
    looking identical. ``#``-joined element strings are hashed with the
    same md5-u31 as the unweighted kernel, so the SQL twin re-derives the
    exact buckets (a token that itself ends in ``#k`` could in principle
    alias another token's replica — both engines compute the identical
    aliased estimate, so the oracle is unaffected)."""
    if len(texts) == 0:
        return []
    return _band_keys_batch(_weighted_el_lists(texts, cap), a, b, bands, rows)


def _weighted_el_lists(texts, cap: int) -> list[list[str]]:
    """Replicated-token element lists t#1..t#min(c, cap) per text."""
    from collections import Counter

    el_lists: list[list[str]] = []
    for t in texts:
        toks = t.split() if isinstance(t, str) else []
        if not toks:
            el_lists.append([])
            continue
        cnt = Counter(toks)
        el_lists.append(
            [
                f"{w}#{i}"
                for w, c in cnt.items()
                for i in range(1, min(c, cap) + 1)
            ]
        )
    return el_lists


def weighted_minhash_sigs_batch(
    texts: "pd.Series", a: np.ndarray, b: np.ndarray, cap: int = 3
) -> np.ndarray:
    """(n, num_perm) uint32 weighted signature matrix (rows of empty
    texts keep the all-MERSENNE sentinel — such docs emit no band keys
    and never reach a candidate pair). The per-pair fraction of equal
    positions is an unbiased estimate of the capped bag Jaccard — the
    vectorizable prefilter the two-stage verify runs before exact bag
    intersection."""
    if len(texts) == 0:
        return np.zeros((0, len(a)), dtype=np.uint32)
    sigs, _lens = _sigs_from_lists(_weighted_el_lists(texts, cap), a, b)
    return sigs.T.astype(np.uint32)


def minhash_sigs_batch(
    texts: "pd.Series", a: np.ndarray, b: np.ndarray, shingle_k: int = 5
) -> list[list[int]]:
    """Per-text FULL signature values (num_perm int64 list; empty text →
    []) — the raw (a·h+b) mod M minima the band kernels fold, exposed
    for consumers that materialize the signature RELATION itself (index
    maintenance, where the values must be SQL-re-derivable — band keys
    are FNV folds whose int64 values a SQL twin can't cheaply mirror)."""
    if len(texts) == 0:
        return []
    sh_lists = [
        char_shingles(t, shingle_k) if isinstance(t, str) else [] for t in texts
    ]
    sigs, lens = _sigs_from_lists(sh_lists, a, b)
    empty: list[int] = []
    return [
        sigs[:, i].astype(np.int64).tolist() if lens[i] else empty
        for i in range(len(sh_lists))
    ]


def _band_keys_batch(
    sh_lists: list[list[str]],
    a: np.ndarray,
    b: np.ndarray,
    bands: int,
    rows: int,
) -> list[list[int]]:
    """Shared factorize → perm-table → reduceat core + FNV band folding
    of the unweighted (shingle) and weighted (replicated-token) band
    kernels."""
    n = len(sh_lists)
    sigs, lens = _sigs_from_lists(sh_lists, a, b)
    # vectorized FNV band folding: (bands, n)
    out_keys = np.empty((bands, n), dtype=np.uint64)
    fnv = np.uint64(1099511628211)
    mask64 = np.uint64(0xFFFFFFFFFFFFFFFF)
    for bi in range(bands):
        acc = np.full(n, np.uint64(1469598103934665603), dtype=np.uint64)
        for r in range(rows):
            acc = ((acc ^ sigs[bi * rows + r]) * fnv) & mask64
        out_keys[bi] = (acc ^ np.uint64(bi << 56)) & np.uint64((1 << 63) - 1)
    cols = out_keys.T.astype(np.int64)
    empty: list[int] = []
    return [cols[i].tolist() if lens[i] else empty for i in range(n)]


def _sigs_from_lists(
    sh_lists: list[list[str]], a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(num_perm, n) uint64 signature matrix + per-doc element counts."""
    n = len(sh_lists)
    raw_lens = np.fromiter((len(s) for s in sh_lists), dtype=np.int64, count=n)
    flat = [s for lst in sh_lists for s in lst]
    num_perm = len(a)
    sigs = np.full((num_perm, n), np.uint64(_MERSENNE), dtype=np.uint64)
    if flat:
        codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
        uh = np.fromiter(
            (_hash32(s) for s in uniq), dtype=np.uint64, count=len(uniq)
        )
        # duplicate shingles inside a doc can't change a min — dedupe
        # (doc, code) pairs, which also doc-sorts the stream for reduceat
        u = len(uniq)
        row_idx = np.repeat(np.arange(n, dtype=np.int64), raw_lens)
        keys = np.unique(row_idx * u + codes)
        d_rows = keys // u
        d_codes = (keys % u).astype(np.int64)
        lens = np.bincount(d_rows, minlength=n)
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        nonempty = lens > 0
        packed_starts = starts[nonempty]
        # (num_perm, U) permutation table over UNIQUES is small; the T-sized
        # work runs per-perm into one reused buffer. Two deliberate choices:
        # np.take with out=, NOT table[:, d_codes] (the slice+advanced-index
        # form falls off numpy's fast gather path into the generic iterator,
        # ~80x slower on this shape), and a per-perm T-sized buffer, NOT a
        # (num_perm, T) matrix — this sandbox faults fresh large allocations
        # in at ~25 MB/s, so a worker's first call paid ~3s just mapping the
        # big intermediate (and every new worker makes a first call); the
        # small reused buffer is warm after perm 0.
        table = (
            (a[:, None] * uh[None, :] + b[:, None]) % np.uint64(_MERSENNE)
        ).astype(np.uint32)
        vals = np.empty(len(d_codes), dtype=np.uint32)
        for p in range(num_perm):
            np.take(table[p], d_codes, out=vals)
            sigs[p, nonempty] = np.minimum.reduceat(vals, packed_starts)
    return sigs, raw_lens


def simhash64_batch(texts: "pd.Series") -> np.ndarray:
    """Whole-batch SimHash64 over whitespace tokens (signed int64 output).

    Unique tokens are hashed once (factorize); bit contributions accumulate
    per document with a single ``np.add.at`` scatter. Equals
    ``simhash64(t.split())`` per text (cast to signed i64).
    """
    n = len(texts)
    tok_lists = [t.split() if isinstance(t, str) else [] for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
    out = np.zeros(n, dtype=np.int64)
    flat = [w for lst in tok_lists for w in lst]
    if not flat:
        return out
    codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
    uh = np.fromiter((_hash64(s) for s in uniq), dtype=np.uint64, count=len(uniq))
    shifts = np.arange(64, dtype=np.uint64)
    ubits = ((uh[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
    contrib = (ubits * 2 - 1)[codes]  # (T, 64) in doc order
    acc = np.zeros((n, 64), dtype=np.int64)
    np.add.at(acc, np.repeat(np.arange(n), lens), contrib)
    bits = (acc > 0).astype(np.uint64)
    vals = (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)
    signed = vals.astype(np.int64)
    return np.where(lens > 0, signed, 0)


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over tokens (unit weights)."""
    if not tokens:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        h = _hash64(t)
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits.astype(bool), 1, -1)
    bits = (acc > 0).astype(np.uint64)
    return int((bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))


def hamming64(x: int, y: int) -> int:
    return bin(x ^ y).count("1")


def capped_bag_overlap_batch(
    s1: "pd.Series", s2: "pd.Series", cap: int = 3
) -> tuple[np.ndarray, np.ndarray]:
    """Exact capped-bag (intersection, union) per pair, int64 — the
    verify kernel behind the weighted-MinHash gather verify. Bags
    are built once per DISTINCT text (factorize: candidate pairs repeat
    records ~block-size times); the per-pair loop is dict gets over the
    smaller bag. inter = Σ min(ĉ1, ĉ2); union = |A| + |B| − inter by
    the min/max identity — the same integers the relational verify
    aggregates, so the cross-multiply keep decision is identical."""
    from collections import Counter

    a, b = _pairs(s1, s2)
    codes_a, uniq_a = pd.factorize(a)
    codes_b, uniq_b = pd.factorize(b)

    def _bag(t):
        if not isinstance(t, str) or not t:
            return {}, 0
        c = {w: min(n, cap) for w, n in Counter(t.split()).items()}
        return c, sum(c.values())

    bags_a = [_bag(u) for u in uniq_a]
    bags_b = [_bag(u) for u in uniq_b]
    inter = np.zeros(len(a), dtype=np.int64)
    union = np.zeros(len(a), dtype=np.int64)
    for i in range(len(a)):
        (ba, sa), (bb, sb) = bags_a[codes_a[i]], bags_b[codes_b[i]]
        if len(bb) < len(ba):
            ba, bb = bb, ba
        s = 0
        for w, c in ba.items():
            cb = bb.get(w)
            if cb is not None:
                s += c if c < cb else cb
        inter[i] = s
        union[i] = sa + sb - s
    return inter, union
