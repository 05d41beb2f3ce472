"""Reference kernels for the JVM UDFs in ``jvm/Signatures.java``.

The signature, n-gram, winnowing and IVF oracles are the numpy kernels the
package ran as pandas UDFs before those kernels moved into the JVM. The
pair-verify oracles are the ``zip_with``/``aggregate`` lambda folds the
package ran before the dot product and the equal-slot count did. The tests
hold the Java UDFs equal to them bit for bit; the IVF cell equals
``nearest_centroid``, a sequential replay of its dots, and the numpy
matmul's cell wherever the matmul's rounding cannot move the argmax.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.operators.dedup import _MERSENNE
from llm_tab_cleaner_spark.operators.fingerprint import WINNOW_BASE, WINNOW_MOD

_POLY_P = np.uint64(1099511628211)  # FNV prime as the polynomial base
_FMIX1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX2 = np.uint64(0xC4CEB9FE1A85EC53)


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    data = np.frombuffer(text.encode("utf-8", "replace"), dtype=np.uint8)
    if data.size < k:
        return np.zeros(0, dtype=np.int64)  # no shingles → degenerate doc
    x = data.astype(np.int64)
    h = np.zeros(data.size - k + 1, dtype=np.int64)
    for j in range(k):
        h = (h * 257 + x[j : data.size - k + 1 + j]) % _MERSENNE
    return np.unique(h)


def minhash_batch(
    texts, num_hashes: int = 64, shingle_k: int = 5, seed: int = 42
) -> list[list[int] | None]:
    """MinHash signatures of ``texts`` (None for a doc with no shingle): all
    shingle hashes concatenated, per-row min over each permutation with
    np.minimum.reduceat."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    per_row = [_shingle_hashes(t if isinstance(t, str) else "", shingle_k) for t in texts]
    empty = [p.size == 0 for p in per_row]
    # sentinel segment for reduceat; nulled out below
    per_row = [p if p.size else np.zeros(1, dtype=np.int64) for p in per_row]
    lens = np.fromiter((p.size for p in per_row), dtype=np.int64, count=len(per_row))
    blob = np.concatenate(per_row) if per_row else np.zeros(0, dtype=np.int64)
    starts = np.zeros(len(per_row), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    sigs = np.empty((len(per_row), num_hashes), dtype=np.int64)
    for j in range(num_hashes):
        mj = (blob * a[j] + b[j]) % _MERSENNE
        sigs[:, j] = np.minimum.reduceat(mj, starts)
    return [None if e else [int(v) for v in s] for e, s in zip(empty, sigs)]


def _fmix64(h: np.ndarray) -> np.ndarray:
    h ^= h >> np.uint64(33)
    h *= _FMIX1
    h ^= h >> np.uint64(33)
    h *= _FMIX2
    h ^= h >> np.uint64(33)
    return h


def batch_token_hashes(texts) -> tuple[np.ndarray, np.ndarray, int]:
    """Per-token 64-bit hashes for a whole batch, zero per-row Python.

    All texts concatenate into one uint8 blob; token boundaries come from an
    ASCII-whitespace mask (UTF-8 bytes — continuation bytes never match),
    per-token hashes from a polynomial accumulation mod 2^64 (weight
    P^offset-in-token, one np.add.reduceat) finalized with murmur3's fmix64.
    Returns ``(h, tok_row, n_rows)``: hash and owning row index per token,
    in document order.
    """
    raw = [t.encode("utf-8", "replace") if isinstance(t, str) else b"" for t in texts]
    n = len(raw)
    lens = np.fromiter((len(b) for b in raw), dtype=np.int64, count=n)
    blob = np.frombuffer(b"".join(raw), dtype=np.uint8)
    empty = (np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64), n)
    if blob.size == 0:
        return empty

    ws = (
        (blob == 32) | (blob == 9) | (blob == 10)
        | (blob == 13) | (blob == 11) | (blob == 12)
    )
    row_starts = (np.cumsum(lens) - lens)[lens > 0]
    prev_ws = np.empty(blob.size, dtype=bool)
    prev_ws[0] = True
    prev_ws[1:] = ws[:-1]
    is_start = ~ws & prev_ws
    # a row's first byte always starts a fresh token (tokens never span rows)
    is_start[row_starts] = ~ws[row_starts]
    tok_starts = np.nonzero(is_start)[0]
    if tok_starts.size == 0:
        return empty

    # bytes before the first token start have tok_id -1 — they are
    # whitespace by construction (their weights get zeroed), but the index
    # must be clamped so the pows gather can't wrap or go out of bounds
    tok_id = np.maximum(np.cumsum(is_start) - 1, 0)
    off = np.maximum(np.arange(blob.size, dtype=np.int64) - tok_starts[tok_id], 0)
    pows = np.ones(int(off.max()) + 1, dtype=np.uint64)
    if pows.size > 1:
        np.cumprod(np.full(pows.size - 1, _POLY_P, dtype=np.uint64), out=pows[1:])
    w = blob.astype(np.uint64) * pows[off]
    w[ws] = 0  # gap whitespace inside a reduceat segment contributes nothing
    h = _fmix64(np.add.reduceat(w, tok_starts))  # uint64 wrap = mod 2^64

    byte_row = np.repeat(np.arange(n, dtype=np.int64), lens)
    return h, byte_row[tok_starts], n


def ngrams_from_tokens(
    h: np.ndarray, tok_row: np.ndarray, rows: int, n: int, distinct: bool
) -> list[np.ndarray]:
    """Per-row token-n-gram hashes from ``batch_token_hashes``' output: gram
    hash = polynomial combination of ``n`` consecutive token hashes within
    one row + fmix64. With ``distinct``, per-row np.unique (sorted signed);
    otherwise multiplicity in document order."""
    empty = np.zeros(0, dtype=np.int64)
    if h.size < n:
        return [empty] * rows
    m = h.size - n + 1
    gh = np.zeros(m, dtype=np.uint64)
    for j in range(n):
        gh = gh * _POLY_P + h[j : m + j]  # uint64 wrap = mod 2^64
    gh = _fmix64(gh)
    valid = tok_row[:m] == tok_row[n - 1 :]  # all n tokens in the same row
    vg = gh[valid].view(np.int64)
    vr = tok_row[:m][valid]  # nondecreasing → searchsorted row slicing
    starts = np.searchsorted(vr, np.arange(rows))
    ends = np.searchsorted(vr, np.arange(rows), side="right")
    per_row = [vg[starts[r] : ends[r]] for r in range(rows)]
    return [np.unique(g) if distinct else g for g in per_row]


def batch_multi_ngram_hashes(texts, n_values, distinct: bool) -> list[list[int]]:
    """Every row's grams for each ``n`` in ``n_values``, concatenated in
    ``n_values`` order, from one token-hash pass."""
    h, tok_row, rows = batch_token_hashes(texts)
    per_n = [ngrams_from_tokens(h, tok_row, rows, n, distinct) for n in n_values]
    return [[int(g) for grams in per_n for g in grams[r]] for r in range(rows)]


def winnow_hashes(text, k: int, w: int) -> list[int]:
    """Sorted distinct winnowing fingerprint hashes of ``text``: code-point
    k-gram hashes, the rightmost minimum of every window of ``w`` grams (one
    window when there are at most ``w``); none below ``k`` characters."""
    if not isinstance(text, str) or len(text) < k:
        return []
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = codes.size - k + 1
    h = np.zeros(n, dtype=np.int64)
    for j in range(k):
        h = (h * WINNOW_BASE + codes[j : n + j]) % WINNOW_MOD
    if n <= w:
        sel = np.array([n - 1 - int(np.argmin(h[::-1]))])
    else:
        # argmin over the REVERSED window gives the first min from the right
        idx = w - 1 - np.argmin(sliding_window_view(h, w)[:, ::-1], axis=1)
        sel = np.unique(np.arange(n - w + 1, dtype=np.int64) + idx)
    return [int(v) for v in np.unique(h[sel])]


def batch_simhash(texts: pd.Series) -> np.ndarray:
    """SimHash for every row: token hashes from ``batch_token_hashes``,
    per-row bit votes from 64 weighted bincounts; 0 for a row with no
    token."""
    h, tok_row, n = batch_token_hashes(texts)
    out = np.zeros(n, dtype=np.int64)
    if h.size == 0:
        return out
    tok_count = np.bincount(tok_row, minlength=n)
    ones = np.empty((n, 64), dtype=np.float64)
    for j in range(64):
        ones[:, j] = np.bincount(
            tok_row, weights=((h >> np.uint64(j)) & np.uint64(1)).astype(np.float64),
            minlength=n,
        )
    bit_set = ones * 2 > tok_count[:, None]  # majority vote (ties → 0)
    packed = (
        bit_set.astype(np.uint64) << np.arange(64, dtype=np.uint64)[None, :]
    ).sum(axis=1, dtype=np.uint64)
    out = packed.view(np.int64).copy()
    out[tok_count == 0] = 0
    return out


def hyperplane_keys(
    m: np.ndarray, bands: int, planes_per_band: int, seed: int, dtype
) -> np.ndarray:
    """(n, bands) int32 bucket keys of the rows of ``m`` from one matmul
    against the seed-``seed`` float32 plane matrix, in ``dtype``: float32
    was ``banded_buckets``' arithmetic, float64 ``hyperplane_buckets'``."""
    total = bands * planes_per_band
    planes = np.random.default_rng(seed).standard_normal((m.shape[1], total))
    planes = planes.astype(np.float32).astype(dtype)
    bits = (m.astype(dtype) @ planes) > 0
    keys = np.zeros((len(m), bands), dtype=np.int32)
    for b in range(bands):
        for j in range(planes_per_band):
            keys[:, b] |= bits[:, b * planes_per_band + j].astype(np.int32) << j
    return keys


def nearest_centroid(vec, cents) -> int | None:
    """Index of the first row of ``cents`` with the largest sequential
    double dot with ``vec`` (the hyperplane keys' sum); None for None."""
    if vec is None:
        return None
    best, best_dot = 0, None
    for c, row in enumerate(cents):
        dot = 0.0
        for x, y in zip(vec, row):
            dot += float(x) * float(y)
        if best_dot is None or dot > best_dot:
            best, best_dot = c, dot
    return best


def ivf_cells(m: np.ndarray, cents: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The numpy IVF assignment ``ivf_assign`` ran per Arrow batch: argmax
    of the row-normalized f64 matmul with the codebook (two or more rows).
    Returns the cells and each row's gap between its best and second-best
    similarity."""
    m = m.astype(np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    sims = (m / norms) @ np.asarray(cents, dtype=np.float64).T
    top2 = np.sort(sims, axis=1)[:, -2:]
    return np.argmax(sims, axis=1), top2[:, 1] - top2[:, 0]


def dot_fold(a, b):
    """``((0.0 + a0*b0) + a1*b1) + ...`` as a Spark lambda fold."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def norm_fold(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def equal_slots_fold(a, b):
    eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)


def sequential_dot(a, b) -> float | None:
    """numpy's sequential (``cumsum``, not pairwise) sum of the products,
    started at 0.0; None where the fold gives NULL."""
    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    prods = np.asarray(a, dtype=np.float64) * np.asarray(b, dtype=np.float64)
    return float(np.cumsum(np.concatenate([[0.0], prods]))[-1])
