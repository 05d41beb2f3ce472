"""Seeded input generators for the benchmark, cached per (kind, size, seed).

Generation is pure Python and slow (the code-files fixture costs about
0.35 ms per row), so every input is written once under the work directory
and reused by later runs with the same seed. Nothing here runs inside a
timed region.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

#: rows per parquet part file of the code-files corpus; several parts let
#: the scan split into at least one task per core
CORPUS_PART_ROWS = 1000
#: share of near-dup ids that copy another (documents and vectors)
PLANTED_SHARE = 0.1
#: near-dup document vocabulary: size and Zipf exponent; at these values
#: unrelated documents share few 5-shingles (Jaccard about 0.05), so LSH
#: candidates stay near-linear in the corpus
VOCAB_SIZE, ZIPF_S = 50_000, 1.0
#: embedding width
DIM = 64


def cached(path: str, build) -> str:
    """Run ``build(tmp_dir)`` once; the directory appears atomically."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path


def code_corpus(work: str, n_rows: int, seed: int) -> str:
    """The seeded code-files fixture (``fixtures.code_files``) as parquet
    parts under ``<dir>/files`` plus its golden labels in
    ``<dir>/labels.parquet``."""
    from llm_tab_cleaner_spark.fixtures.code_files import generate_code_files

    def build(tmp: str) -> None:
        files, labels = generate_code_files(n_rows, seed=seed)
        os.makedirs(os.path.join(tmp, "files"))
        for i, lo in enumerate(range(0, n_rows, CORPUS_PART_ROWS)):
            part = files.iloc[lo : lo + CORPUS_PART_ROWS]
            part.to_parquet(
                os.path.join(tmp, "files", f"part-{i:04d}.parquet"), index=False
            )
        labels.to_parquet(os.path.join(tmp, "labels.parquet"), index=False)

    return cached(os.path.join(work, "inputs", f"code-{n_rows}-s{seed}"), build)


def stream_files(corpus: str, n_rows: int, rows_per_file: int) -> str:
    """The first ``n_rows`` corpus rows re-cut into files of
    ``rows_per_file`` rows each: one file per micro-batch at
    ``max_files_per_trigger=1``."""
    def build(tmp: str) -> None:
        src = pd.read_parquet(os.path.join(corpus, "files"))
        for i, lo in enumerate(range(0, n_rows, rows_per_file)):
            src.iloc[lo : lo + rows_per_file].to_parquet(
                os.path.join(tmp, f"part-{i:04d}.parquet"), index=False
            )

    return cached(os.path.join(corpus, f"stream-{n_rows}x{rows_per_file}"), build)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    lens = rng.integers(3, 11, size=size)
    letters = rng.integers(97, 123, size=int(lens.sum())).astype(np.uint8)
    text = letters.tobytes().decode("ascii")
    ends = np.cumsum(lens)
    return np.array([text[e - n : e] for e, n in zip(ends, lens)], dtype=object)


def near_dup_docs(n_docs: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Documents with planted near-duplicates.

    Documents draw 40-119 tokens from a Zipf(``ZIPF_S``) vocabulary, so
    unrelated documents share frequent words but few character shingles.
    ``PLANTED_SHARE`` of the ids copy a base document: half are re-wrapped (same tokens, other line
    breaks, so SimHash distance 0), half have 2-4 tokens replaced
    (5-shingle Jaccard about 0.8-0.9).

    Returns ``(docs[doc_id, text], planted[id, source_id, kind])``.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, VOCAB_SIZE)
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
    weights /= weights.sum()

    n_planted = int(round(PLANTED_SHARE * n_docs))
    n_base = n_docs - n_planted
    lens = rng.integers(40, 120, size=n_base)
    draws = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=weights)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    tokens = [vocab[draws[bounds[i] : bounds[i + 1]]] for i in range(n_base)]
    texts = [" ".join(t) for t in tokens]

    sources = rng.integers(0, n_base, size=n_planted)
    kinds = np.where(rng.random(n_planted) < 0.5, "rewrap", "edit")
    for src, kind in zip(sources, kinds):
        toks = tokens[src]
        if kind == "rewrap":
            width = int(rng.integers(5, 15))
            texts.append(
                "\n".join(" ".join(toks[i : i + width]) for i in range(0, len(toks), width))
            )
        else:
            toks = toks.copy()
            pos = rng.choice(len(toks), size=int(rng.integers(2, 5)), replace=False)
            toks[pos] = vocab[rng.integers(0, VOCAB_SIZE, size=pos.size)]
            texts.append(" ".join(toks))

    # ids are a seeded permutation, so planted copies spread over the files
    ids = rng.permutation(n_docs).astype(np.int64)
    docs = pd.DataFrame({"doc_id": ids, "text": texts})
    planted = pd.DataFrame({"id": ids[n_base:], "source_id": ids[sources], "kind": kinds})
    return docs, planted


def near_dup_vectors(n_vecs: int, seed: int) -> pd.DataFrame:
    """Standard Gaussian vectors; ``PLANTED_SHARE`` of them are a base
    vector plus noise (cosine about 0.95 to it, 0.90 between two copies of
    one base). Unrelated vectors in 64 dimensions sit near cosine 0
    (sd 0.125). Returns ``vecs[vec_id, embedding]``."""
    rng = np.random.default_rng([seed, 2])
    n_planted = int(round(PLANTED_SHARE * n_vecs))
    n_base = n_vecs - n_planted
    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    sources = rng.integers(0, n_base, size=n_planted)
    vecs[n_base:] = vecs[sources] + np.float32(0.33) * vecs[n_base:]
    ids = rng.permutation(n_vecs).astype(np.int64)
    return pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})


def cosine_pairs_brute(vectors: pd.DataFrame, min_cosine: float) -> pd.DataFrame:
    """Exact all-pairs cosine in numpy (blocked): every (id_a < id_b) pair
    at or above ``min_cosine`` — the oracle for the embedding LSH."""
    ids = vectors["vec_id"].to_numpy()
    m = np.stack(vectors["embedding"].to_numpy()).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    found = []
    for lo in range(0, len(m), 1024):
        sims = m[lo : lo + 1024] @ m.T
        rows, cols = np.nonzero(sims >= min_cosine)
        a, b = ids[lo + rows], ids[cols]
        keep = a < b
        found.append(np.stack([a[keep], b[keep]], axis=1))
    pairs = np.concatenate(found) if found else np.zeros((0, 2), dtype=np.int64)
    return pd.DataFrame(pairs, columns=["id_a", "id_b"])


def near_dup_inputs(
    work: str, n_docs: int, n_vecs: int, seed: int, parts: int, min_cosine: float
) -> str:
    """Cached parquet form of the near-dup inputs: ``docs/``, ``vectors/``,
    ``planted.parquet`` and the brute-force ``cosine_pairs.parquet``."""

    def build(tmp: str) -> None:
        docs, planted = near_dup_docs(n_docs, seed)
        vectors = near_dup_vectors(n_vecs, seed)
        for name, frame in (("docs", docs), ("vectors", vectors)):
            os.makedirs(os.path.join(tmp, name))
            for i, part in enumerate(np.array_split(np.arange(len(frame)), parts)):
                frame.iloc[part].to_parquet(
                    os.path.join(tmp, name, f"part-{i:04d}.parquet"), index=False
                )
        planted.to_parquet(os.path.join(tmp, "planted.parquet"), index=False)
        cosine_pairs_brute(vectors, min_cosine).to_parquet(
            os.path.join(tmp, "cosine_pairs.parquet"), index=False
        )

    return cached(
        os.path.join(work, "inputs", f"neardup-{n_docs}x{n_vecs}-s{seed}"), build
    )
