"""Vectorized similarity kernels (Arrow-batched pandas UDFs + numpy).

Design rule (input_hint / SURVEY.md §7): NO row-at-a-time Python UDFs. Every
Python kernel here consumes Arrow batches and computes with numpy array ops —
the Spark-native equivalent of the reference's vectorized numpy scoring
(/root/reference/takco/cluster/matchers/lsh.py:242-247,
 /root/reference/takco/cluster/matchers/embedding.py:241-246).

Kernels:
- MinHash signatures + banded LSH keys (reference: num_perm=128 datasketch
  MinHash, /root/reference/takco/cluster/matchers/lsh.py:107-144); fully
  batch-vectorized: odd-multiplier 64-bit permutations (fused multiply-add,
  no modulo) + minimum.reduceat over concatenated token runs.
- Jaro-Winkler similarity, batch-vectorized over padded codepoint matrices
  (the north-star scorer; the reference itself ships Levenshtein,
  /root/reference/takco/link/types.py:195-201, which we take from the JVM
  built-in instead).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

# --------------------------------------------------------------------------
# MinHash
# --------------------------------------------------------------------------

_FNV_OFFSET = np.uint64(14695981039346656037)
_FNV_PRIME = np.uint64(1099511628211)
# cap the (num_perm × total_tokens) scratch matrix at ~64 MB per chunk
_MINHASH_CHUNK_CELLS = 8_000_000


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) permutation parameters — pure function of seed.

    ``a`` is forced ODD so x → a·x + b (mod 2⁶⁴) is a BIJECTION of the
    64-bit space — a true permutation family, evaluated with plain uint64
    wraparound arithmetic. This replaced the classic (a·x+b) mod M61 family:
    numpy has no vectorized 64-bit modulo, and the mod + unique/gather
    pipeline measured 17× slower than the direct multiply-add (the minhash
    UDF is the pipeline's hottest kernel)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 63, size=num_perm, dtype=np.uint64) * 2 + 1
    b = rng.randint(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def _minhash_matrix(
    hashes: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Signatures for concatenated token-hash runs.

    hashes: uint64[total_tokens] (per-doc runs, concatenated)
    offsets: int64[n_docs] start index of each doc's run (np.minimum.reduceat
             convention); every run non-empty.
    returns: uint64[n_docs, num_perm]

    One fused multiply-add over the (num_perm × tokens) block + one
    minimum.reduceat along the token axis — no modulo, no unique/gather
    (both measured as pure overhead at realistic token-duplication rates).
    """
    with np.errstate(over="ignore"):
        perm = a[:, None] * hashes[None, :] + b[:, None]
    sigs = np.minimum.reduceat(perm, offsets, axis=1)  # (num_perm, n_docs)
    return sigs.T


def _band_keys(sigs: np.ndarray, bands: int) -> np.ndarray:
    """FNV-1a fold of each band's rows → int64[n_docs, bands]."""
    n, num_perm = sigs.shape
    r = num_perm // bands
    banded = sigs.reshape(n, bands, r)
    acc = np.full((n, bands), _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in range(r):
            acc = (acc ^ banded[:, :, k]) * _FNV_PRIME
    return acc.view(np.int64)


def _signature_chunks(token_hashes: pd.Series, num_perm: int,
                      a: np.ndarray, b: np.ndarray):
    """Yield (batch_indices, uint64 signature matrix) for all non-empty rows,
    chunked so the (num_perm × total_tokens) scratch matrix stays bounded.
    Whole chunks go through ONE _minhash_matrix call (minimum.reduceat over
    concatenated runs) — no per-row Python in the hot path."""
    vals = token_hashes.to_numpy()  # object array of per-row int64 ndarrays
    lens = np.fromiter(
        (0 if h is None else len(h) for h in vals), dtype=np.int64,
        count=len(vals),
    )
    nonempty = np.nonzero(lens > 0)[0]
    if len(nonempty) == 0:
        return
    max_tokens = max(1, _MINHASH_CHUNK_CELLS // num_perm)
    start = 0
    while start < len(nonempty):
        end = start
        total = 0
        while end < len(nonempty) and (total == 0 or total + lens[nonempty[end]] <= max_tokens):
            total += lens[nonempty[end]]
            end += 1
        idxs = nonempty[start:end]
        # int64 → uint64 via VIEW, not astype: bit-reinterpretation equals
        # the modulo-2⁶⁴ wrap astype performs on negative hashes (two's
        # complement), with no per-row copy. np.asarray is a no-op on the
        # Arrow-delivered int64 ndarrays and only materializes for plain
        # lists (tests).
        runs = [np.asarray(vals[i], dtype=np.int64).view(np.uint64)
                for i in idxs]
        hashes = np.concatenate(runs)
        offsets = np.zeros(len(runs), dtype=np.int64)
        np.cumsum([len(x) for x in runs[:-1]], out=offsets[1:])
        yield idxs, _minhash_matrix(hashes, offsets, a, b)
        start = end


def make_lsh_band_udf(num_perm: int, bands: int, seed: int):
    """pandas UDF: array<long> token xxhashes → array<long> of `bands` band
    keys (None for empty docs, which therefore produce no LSH blocks).
    Raises ``ValueError`` at plan time unless ``bands`` divides
    ``num_perm``."""
    if bands <= 0 or num_perm % bands:
        raise ValueError(
            f"lsh_bands={bands} must divide num_perm={num_perm} into bands "
            "of equal rows")
    a, b = minhash_params(num_perm, seed)

    @pandas_udf(ArrayType(LongType()))
    def lsh_bands(token_hashes: pd.Series) -> pd.Series:
        out: list[list[int] | None] = [None] * len(token_hashes)
        for idxs, sigs in _signature_chunks(token_hashes, num_perm, a, b):
            # one C-level tolist for the whole chunk instead of per row
            keys = _band_keys(sigs, bands).tolist()
            for row, i in enumerate(idxs):
                out[i] = keys[row]
        return pd.Series(out)

    return lsh_bands


def make_minhash_signature_udf(num_perm: int, seed: int):
    """pandas UDF: array<long> token xxhashes → array<long> full signature
    (for Jaccard-estimate scoring, reference digest-equality mean
    /root/reference/takco/cluster/matchers/lsh.py:244). Batch-vectorized via
    the same concatenated-runs reduceat kernel as the band UDF."""
    a, b = minhash_params(num_perm, seed)

    @pandas_udf(ArrayType(LongType()))
    def minhash_sig(token_hashes: pd.Series) -> pd.Series:
        out: list[list[int] | None] = [None] * len(token_hashes)
        for idxs, sigs in _signature_chunks(token_hashes, num_perm, a, b):
            s64 = sigs.view(np.int64).tolist()  # one C-level tolist per chunk
            for row, i in enumerate(idxs):
                out[i] = s64[row]
        return pd.Series(out)

    return minhash_sig


def minhash_estimate(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = mean elementwise signature equality (JVM-side).

    Reference arithmetic: ``(digests1 == digests2).mean()``,
    /root/reference/takco/cluster/matchers/lsh.py:244.
    """
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return F.when(
        sig_a.isNotNull() & sig_b.isNotNull(),
        F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.size(eq),
    ).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# Jaro-Winkler (batch-vectorized)
# --------------------------------------------------------------------------

#: document "names" are compared on their first MAX_JW_LEN codepoints — JW is
#: a short-string measure; capping also bounds the O(B·L²) match tensor.
MAX_JW_LEN = 64
_JW_CHUNK_CELLS = 40_000_000  # bound B·L1·L2 per chunk


def jaro_winkler_np(s1: list[str], s2: list[str],
                    prefix_weight: float = 0.1,
                    boost_threshold: float = 0.7,
                    max_len: int = MAX_JW_LEN) -> np.ndarray:
    """Vectorized Jaro-Winkler over two equal-length string lists.

    Classic Jaro with half-max-length match window and transposition count,
    plus the Winkler common-prefix (≤4) boost applied when jaro >
    boost_threshold. Strings truncated to ``max_len`` codepoints.
    """
    n = len(s1)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    t1 = [("" if x is None else x)[:max_len] for x in s1]
    t2 = [("" if x is None else x)[:max_len] for x in s2]
    l1 = np.fromiter((len(x) for x in t1), dtype=np.int64, count=n)
    l2 = np.fromiter((len(x) for x in t2), dtype=np.int64, count=n)
    L1, L2 = max(int(l1.max()), 1), max(int(l2.max()), 1)
    # codepoint matrices, 0-padded
    a1 = np.zeros((n, L1), dtype=np.uint32)
    a2 = np.zeros((n, L2), dtype=np.uint32)
    u1 = np.array(t1, dtype=f"U{L1}")
    u2 = np.array(t2, dtype=f"U{L2}")
    a1[:, :] = u1.view(np.uint32).reshape(n, L1)
    a2[:, :] = u2.view(np.uint32).reshape(n, L2)

    out = np.zeros(n, dtype=np.float64)
    chunk = max(1, _JW_CHUNK_CELLS // (L1 * L2))
    for s in range(0, n, chunk):
        e = min(n, s + chunk)
        out[s:e] = _jaro_chunk(a1[s:e], a2[s:e], l1[s:e], l2[s:e])
    # Winkler prefix boost
    pmax = min(4, L1, L2)
    if pmax > 0:
        eqp = (a1[:, :pmax] == a2[:, :pmax]) & (a1[:, :pmax] != 0)
        prefix = np.cumprod(eqp, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n)
    boost = np.where(out > boost_threshold, prefix * prefix_weight * (1.0 - out), 0.0)
    res = out + boost
    both_empty = (l1 == 0) & (l2 == 0)
    res[both_empty] = 1.0
    return res


def _jaro_chunk(a1: np.ndarray, a2: np.ndarray, l1: np.ndarray, l2: np.ndarray) -> np.ndarray:
    b, L1 = a1.shape
    L2 = a2.shape[1]
    win = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    i_idx = np.arange(L1)[None, :, None]
    j_idx = np.arange(L2)[None, None, :]
    in_window = np.abs(i_idx - j_idx) <= win[:, None, None]
    valid = (i_idx < l1[:, None, None]) & (j_idx < l2[:, None, None])
    cand = (a1[:, :, None] == a2[:, None, :]) & in_window & valid

    used2 = np.zeros((b, L2), dtype=bool)
    match1 = np.full((b, L1), -1, dtype=np.int64)
    rows = np.arange(b)
    for i in range(L1):
        c = cand[:, i, :] & ~used2
        has = c.any(axis=1)
        j = c.argmax(axis=1)
        match1[has, i] = j[has]
        used2[rows[has], j[has]] = True

    matched = match1 >= 0
    m = matched.sum(axis=1)

    # ordered matched sequences via cumsum scatter
    seq1 = np.zeros((b, L1), dtype=np.uint32)
    seq2 = np.zeros((b, L2), dtype=np.uint32)
    slot1 = np.cumsum(matched, axis=1) - 1
    bi, ii = np.nonzero(matched)
    seq1[bi, slot1[bi, ii]] = a1[bi, ii]
    slot2 = np.cumsum(used2, axis=1) - 1
    bj, jj = np.nonzero(used2)
    seq2[bj, slot2[bj, jj]] = a2[bj, jj]

    L = min(L1, L2)
    k = np.arange(L)[None, :]
    diff = (seq1[:, :L] != seq2[:, :L]) & (k < m[:, None])
    t = diff.sum(axis=1) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (
            m / np.maximum(l1, 1) + m / np.maximum(l2, 1) + (m - t) / np.maximum(m, 1)
        ) / 3.0
    jaro[m == 0] = 0.0
    return jaro


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(jaro_winkler_np(s1.tolist(), s2.tolist()))


def jaro_winkler_py(s1: str, s2: str, prefix_weight: float = 0.1,
                    boost_threshold: float = 0.7, max_len: int = MAX_JW_LEN) -> float:
    """Scalar reference implementation (tests only — never in a Spark plan)."""
    s1, s2 = (s1 or "")[:max_len], (s2 or "")[:max_len]
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    l1, l2 = len(s1), len(s2)
    win = max(max(l1, l2) // 2 - 1, 0)
    used = [False] * l2
    match1 = []
    for i in range(l1):
        lo, hi = max(0, i - win), min(l2, i + win + 1)
        for j in range(lo, hi):
            if not used[j] and s1[i] == s2[j]:
                used[j] = True
                match1.append((i, j))
                break
    m = len(match1)
    if m == 0:
        return 0.0
    seq1 = [s1[i] for i, _ in match1]
    seq2 = [s2[j] for j in sorted(j for _, j in match1)]
    t = sum(c1 != c2 for c1, c2 in zip(seq1, seq2)) // 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    prefix = 0
    for c1, c2 in zip(s1[:4], s2[:4]):
        if c1 != c2:
            break
        prefix += 1
    if jaro > boost_threshold:
        jaro += prefix * prefix_weight * (1.0 - jaro)
    return jaro


# --------------------------------------------------------------------------
# Dense-vector cosine (JVM-side; used by similarity search + embedding ops)
# --------------------------------------------------------------------------

def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))
