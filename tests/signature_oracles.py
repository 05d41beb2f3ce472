"""numpy reference kernels for the JVM signature UDFs (``jvm/Signatures.java``).

These are the batch-vectorized kernels the package ran as pandas UDFs
before the signatures moved into the JVM; the tests hold the Java UDFs
equal to them bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from llm_tab_cleaner_spark.operators.dedup import _MERSENNE, _batch_token_hashes


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


def batch_simhash(texts: pd.Series) -> np.ndarray:
    """SimHash for every row: token hashes from ``_batch_token_hashes``,
    per-row bit votes from 64 weighted bincounts; 0 for a row with no
    token."""
    h, tok_row, n = _batch_token_hashes(texts)
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
