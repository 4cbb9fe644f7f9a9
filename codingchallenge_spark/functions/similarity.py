"""Similarity kernels — V1-V3 (SURVEY.md §2.8).

Spec: BASELINE.json:6 — "pairwise scoring with vectorized pandas/Arrow UDFs
computing batched Jaro-Winkler/Levenshtein and token-Jaccard similarities";
BASELINE.json:15 — "no per-row Python". No string-similarity library exists in
this environment (SURVEY.md §0), so the jw/lev kernels are implemented in
numpy, vectorized across the *batch* dimension: every loop below is over
string POSITIONS (bounded by MAX_LEN), never over rows. Each iteration is one
numpy op over the whole Arrow batch.

Token Jaccard needs no Python: over distinct-element arrays it is one
``array_intersect`` count and one division, exact in the JVM
(:func:`token_jaccard`). So the only scoring crossing into Python is jw/lev
over name keys; the token arrays never leave the JVM.
:func:`token_jaccard_udf` is its pandas twin, tested equal.

Kernels operate on the normalized name keys (short strings); inputs are
truncated to MAX_LEN (=64) chars — name keys beyond that contribute no
discriminative signal for linkage.

Conventions (strcmp95, verified equal to DuckDB's jaro_winkler_similarity —
DuckDB is the external test oracle):
- jaro_winkler: Winkler prefix boost (p=0.1, prefix ≤ 4) applied only when
  jaro > 0.7 (strcmp95 boost threshold); any empty input → 0.0.
- levenshtein_ratio = 1 − dist/max(len1, len2, 1); both-empty → 1.0.
- token_jaccard: |A∩B| / |A∪B|; both-empty → 1.0.

The Levenshtein inner recurrence is linearized so the j-dependency becomes a
prefix-min scan (np.minimum.accumulate): cur[j] = min(tmp[j], cur[j-1]+1)
⇔ cur[j] = j + min_{k≤j}(tmp[k]−k), making each DP row one vectorized pass.
Cross-check oracle in tests: Spark's JVM ``F.levenshtein``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

MAX_LEN = 64
WINKLER_PREFIX_WEIGHT = 0.1
WINKLER_MAX_PREFIX = 4
WINKLER_BOOST_THRESHOLD = 0.7


def _encode(strs, max_len: int = MAX_LEN) -> tuple[np.ndarray, np.ndarray]:
    """Pad/truncate a string sequence into a (N, max_len) uint32 codepoint
    matrix + int32 length vector. 0 is the pad sentinel (never a real char)."""
    s = pd.Series(strs, dtype=object).fillna("").astype(str).str.slice(0, max_len)
    lens = s.str.len().to_numpy(dtype=np.int32)
    n = len(s)
    if n == 0:
        return np.zeros((0, max_len), dtype=np.uint32), lens
    joined = s.str.pad(max_len, side="right", fillchar="\x00").str.cat()
    codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    return codes.reshape(n, max_len), lens


def _encode_pair(
    s1, s2, max_len: int = MAX_LEN
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Joint encode of both sides, optimized for memory traffic — both kernels
    are DRAM-bandwidth-bound, not FLOP-bound, so the matrices are (a) trimmed
    to the batch's true max length instead of the MAX_LEN pad, and (b)
    relabeled to uint8 through a joint alphabet rank map when the two sides
    use ≤255 distinct codepoints (the common case: normalized name keys are
    lowercase a-z0-9 + space). Safe because both kernels consume codes only
    through length-masked EQUALITY comparisons — any injective relabeling
    shared by the two sides preserves every comparison."""
    a, la = _encode(s1, max_len)
    b, lb = _encode(s2, max_len)
    trim = int(max(la.max(initial=0), lb.max(initial=0), 1))
    a, b = a[:, :trim], b[:, :trim]
    alphabet = np.unique(np.concatenate([a.ravel(), b.ravel()]))
    if alphabet.size <= 255:
        a = np.searchsorted(alphabet, a).astype(np.uint8)
        b = np.searchsorted(alphabet, b).astype(np.uint8)
    return a, la, b, lb


# Kernel-internal chunk size: temporaries for a 2048-row slice stay L2/L3
# resident, which is what lets 32 concurrent Python workers scale — full
# 10k-row Arrow batches thrash DRAM bandwidth at high core counts.
_KERNEL_CHUNK = 2048


def _chunked(kernel, s1, s2, dtype, max_len: int = MAX_LEN) -> np.ndarray:
    n = len(s1)
    if n <= _KERNEL_CHUNK:
        return kernel(s1, s2, max_len)
    s1 = pd.Series(s1, dtype=object).reset_index(drop=True)
    s2 = pd.Series(s2, dtype=object).reset_index(drop=True)
    out = np.empty(n, dtype=dtype)
    for i in range(0, n, _KERNEL_CHUNK):
        out[i : i + _KERNEL_CHUNK] = kernel(
            s1.iloc[i : i + _KERNEL_CHUNK], s2.iloc[i : i + _KERNEL_CHUNK], max_len
        )
    return out


def _lev_dist_core(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """Levenshtein distances (int32) from jointly-encoded matrices."""
    n = a.shape[0]
    la_max = int(la.max(initial=0))
    lb_max = int(lb.max(initial=0))
    res = np.zeros(n, dtype=np.int32)
    res[la == 0] = lb[la == 0]
    if la_max == 0:
        return res
    jidx = np.arange(1, lb_max + 1, dtype=np.int32)
    prev = np.tile(np.arange(lb_max + 1, dtype=np.int32), (n, 1))
    bm = b[:, :lb_max]
    for i in range(1, la_max + 1):
        cost = (a[:, i - 1 : i] != bm).astype(np.int32)
        tmp = np.minimum(prev[:, :-1] + cost, prev[:, 1:] + 1)
        np.minimum(tmp, i + jidx, out=tmp)  # path through column 0 (= i)
        tmp -= jidx
        np.minimum.accumulate(tmp, axis=1, out=tmp)
        tmp += jidx
        cur = np.empty_like(prev)
        cur[:, 0] = i
        cur[:, 1:] = tmp
        prev = cur
        hit = la == i
        if hit.any():
            res[hit] = prev[hit, lb[hit]]
    return res


def _levenshtein_block(s1, s2, max_len: int = MAX_LEN) -> np.ndarray:
    a, la, b, lb = _encode_pair(s1, s2, max_len)
    if a.shape[0] == 0:
        return np.zeros(0, dtype=np.int32)
    return _lev_dist_core(a, la, b, lb)


def levenshtein_batch(s1, s2, max_len: int = MAX_LEN) -> np.ndarray:
    """Batched Levenshtein distance (int32), vectorized across the batch."""
    return _chunked(_levenshtein_block, s1, s2, np.int32, max_len)


def _levenshtein_ratio_block(s1, s2, max_len: int = MAX_LEN) -> np.ndarray:
    a, la, b, lb = _encode_pair(s1, s2, max_len)
    if a.shape[0] == 0:
        return np.zeros(0, dtype=np.float64)
    dist = _lev_dist_core(a, la, b, lb).astype(np.float64)
    denom = np.maximum(np.maximum(la, lb), 1).astype(np.float64)
    out = 1.0 - dist / denom
    out[(la == 0) & (lb == 0)] = 1.0
    return out


def levenshtein_ratio_batch(s1, s2, max_len: int = MAX_LEN) -> np.ndarray:
    return _chunked(_levenshtein_ratio_block, s1, s2, np.float64, max_len)


def _jaro_winkler_block(s1, s2, max_len: int = MAX_LEN) -> np.ndarray:
    """Jaro-Winkler similarity (float64 in [0,1]) for one kernel chunk."""
    a, la, b, lb = _encode_pair(s1, s2, max_len)
    n, L = a.shape
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    la_max = int(la.max(initial=0))
    w = np.maximum(np.maximum(la, lb) // 2 - 1, 0)[:, None]  # match window
    jpos = np.arange(L, dtype=np.int32)[None, :]
    in_b = jpos < lb[:, None]
    used_b = np.zeros((n, L), dtype=bool)
    match_a = np.zeros((n, L), dtype=bool)
    rows = np.arange(n)
    for i in range(la_max):
        cand = (
            (b == a[:, i : i + 1])
            & ~used_b
            & in_b
            & (jpos >= i - w)
            & (jpos <= i + w)
            & (i < la)[:, None]
        )
        has = cand.any(axis=1)
        j = cand.argmax(axis=1)
        used_b[rows[has], j[has]] = True
        match_a[rows[has], i] = True
    m = match_a.sum(axis=1)

    # Transpositions: compare the two matched-char sequences in order.
    ra = np.cumsum(match_a, axis=1) - 1
    rb = np.cumsum(used_b, axis=1) - 1
    seq_a = np.zeros((n, L), dtype=a.dtype)
    seq_b = np.zeros((n, L), dtype=a.dtype)
    r, c = np.nonzero(match_a)
    seq_a[r, ra[r, c]] = a[r, c]
    r, c = np.nonzero(used_b)
    seq_b[r, rb[r, c]] = b[r, c]
    t = ((seq_a != seq_b) & (jpos < m[:, None])).sum(axis=1) // 2

    la_f = np.maximum(la, 1).astype(np.float64)
    lb_f = np.maximum(lb, 1).astype(np.float64)
    m_f = m.astype(np.float64)
    m_safe = np.maximum(m_f, 1.0)
    jaro = np.where(
        m > 0, (m_f / la_f + m_f / lb_f + (m_f - t) / m_safe) / 3.0, 0.0
    )
    # Winkler boost: common prefix (≤4), positions valid in both strings.
    k = min(WINKLER_MAX_PREFIX, L)  # matrices are trimmed to the batch max len
    eq = (a[:, :k] == b[:, :k]) & (np.arange(k)[None, :] < np.minimum(la, lb)[:, None])
    pl = np.cumprod(eq, axis=1).sum(axis=1).astype(np.float64)
    boost = jaro > WINKLER_BOOST_THRESHOLD  # strcmp95 / DuckDB convention
    jw = jaro + boost * pl * WINKLER_PREFIX_WEIGHT * (1.0 - jaro)
    return jw


def jaro_winkler_batch(s1, s2, max_len: int = MAX_LEN) -> np.ndarray:
    """Batched Jaro-Winkler similarity (float64 in [0,1])."""
    return _chunked(_jaro_winkler_block, s1, s2, np.float64, max_len)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def array_size(c: Column | str) -> Column:
    """Element count of an array column, 0 for a null array. ``size(null)``
    is −1 with ANSI mode off and null with it on; neither may reach a
    Jaccard count."""
    c = _col(c)
    return F.when(c.isNotNull(), F.size(c)).otherwise(F.lit(0))


def intersect_size(c1: Column | str, c2: Column | str) -> Column:
    """|A∩B| of two distinct-element arrays; a null side counts as empty."""
    a, b = _col(c1), _col(c2)
    return F.when(
        a.isNotNull() & b.isNotNull(), F.size(F.array_intersect(a, b))
    ).otherwise(F.lit(0))


def jaccard_from_counts(i: Column, n1: Column, n2: Column) -> Column:
    """|A∩B| / |A∪B| from the three counts, both-empty → 1.0. For
    distinct arrays |A∪B| = n1 + n2 − i exactly, so this is the same
    integer division (one IEEE double divide) as any set-based Jaccard."""
    u = n1 + n2 - i
    return F.when(u > 0, i / u).otherwise(F.lit(1.0))


def token_jaccard(c1: Column | str, c2: Column | str) -> Column:
    """V3 native form — JVM-side, codegen'd Jaccard over two distinct-element
    arrays (token strings or their hashes); a null array counts as empty,
    with ANSI mode on or off. No Python crossing."""
    return jaccard_from_counts(
        intersect_size(c1, c2), array_size(c1), array_size(c2)
    )


def token_hashes(col: Column | str = "tokens") -> Column:
    """Per-record sorted xxhash64 fingerprints of a distinct token array:
    the matcher's one token identity. Token blocking, the postings, the
    delta document frequencies and the Jaccard all key on these longs.
    Precomputed once per record (NOT per pair); deterministic (seeded).

    Collision bound, the one every hash-keyed step relies on: a vocabulary
    of 10⁶ tokens holds a colliding pair with probability about
    (10⁶)²/2 · 2⁻⁶⁴ ≈ 3·10⁻⁸; a collision would merge two tokens' blocks
    and document frequencies.
    """
    return F.array_sort(F.transform(_col(col), lambda t: F.xxhash64(t)))


# ---------------------------------------------------------------------------
# Arrow-batched pandas UDFs (scalar): adjacent UDFs in one projection are
# evaluated in a single ArrowEvalPython pass (one JVM↔Python crossing).
# ---------------------------------------------------------------------------


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(jaro_winkler_batch(s1, s2))


@pandas_udf(DoubleType())
def levenshtein_ratio_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(levenshtein_ratio_batch(s1, s2))


@pandas_udf(DoubleType())
def token_jaccard_udf(t1: pd.Series, t2: pd.Series) -> pd.Series:
    """Parity twin of :func:`token_jaccard` (tested equal). The native
    expression is the production path; this exists because the spec names
    token-Jaccard among the pandas/Arrow UDF kernels."""
    out = np.empty(len(t1), dtype=np.float64)
    for i, (x, y) in enumerate(zip(t1, t2)):
        sx = set(x) if x is not None else set()
        sy = set(y) if y is not None else set()
        u = len(sx | sy)
        out[i] = (len(sx & sy) / u) if u else 1.0
    return pd.Series(out)
