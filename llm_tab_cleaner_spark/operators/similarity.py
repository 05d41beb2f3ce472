"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k; every dot product and norm is one Java
UDF, ``Signatures.Dot`` (JVM-side, no Python, no lambda fold), and a norm is
computed once per vector (``vec_side``) or, for a literal query, once on
the driver. Scale path:
random-hyperplane LSH bucketing so the candidate set shrinks from N to a
bucket; at 100 TB the bucket table is the only thing that shuffles, and the
plane matrix travels inside the Java UDF that computes the keys
(``Signatures.Hyperplanes``). An IVF-style variant (seeded or trained
centroids, assigned by the Java UDF ``Signatures.NearestCentroid``) gives
probe-style search without MLlib dependencies, and the blocked kNN join
ranks with a Java top-k aggregator (``Signatures.TopK``). No operator here
starts a Python worker.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_tab_cleaner_spark import jvm as J


def _lit_array(vec: Sequence[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def _pair_kernel(prefix: str, method: str) -> str:
    """Session function name of a pair-verify kernel in ``jvm/Signatures.java``,
    registered in the active session on first use."""
    return J.session_udf(SparkSession.active(), prefix, b"", J.SIGNATURES_CLASS, method)


def dot_expr(a, b):
    """Dot product of two array<double> columns (``Signatures.Dot``): the
    sequential double fold ``((0.0 + a0*b0) + a1*b1) + ...``. NULL on a
    NULL array, a NULL element or unequal widths; 0.0 on empty arrays."""
    return F.call_function(_pair_kernel("llm_tab_cleaner_dot", "registerDot"), a, b)


def norm_expr(a):
    return F.sqrt(dot_expr(a, a))


def equal_slots_expr(a, b):
    """Number of equal slots of two array<bigint> columns
    (``Signatures.EqualSlots``), with ``dot_expr``'s NULL and empty rules."""
    return F.call_function(
        _pair_kernel("llm_tab_cleaner_equal_slots", "registerEqualSlots"), a, b
    )


def vec_side(df: DataFrame, id_col, vec_col: str, id_out: str, v_out: str, n_out: str) -> DataFrame:
    """One side of a cosine join: (id, vector cast to double once, its
    norm). The cast and the norm run once per vector, not once per pair;
    the pair's cosine is then ``dot(v_a, v_b) / (n_a * n_b)``. ``id_col`` is
    a column name or a Column."""
    ident = F.col(id_col) if isinstance(id_col, str) else id_col
    return df.select(
        ident.alias(id_out), F.col(vec_col).cast("array<double>").alias(v_out)
    ).withColumn(n_out, norm_expr(F.col(v_out)))


def pair_cosine(va: str, vb: str, na: str, nb: str):
    """Cosine of two ``vec_side`` sides' vectors ``va``, ``vb`` with norms
    ``na``, ``nb``, rounded to 4 places: one dot kernel per pair. A zero
    vector has no cosine: NULL (``try_divide``), under ANSI mode or not."""
    return F.round(F.try_divide(dot_expr(F.col(va), F.col(vb)), F.col(na) * F.col(nb)), 4)


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query: Sequence[float], k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k vs a literal query vector, ties by id. Per
    row the Java dot kernel runs twice (the dot with the query and the
    row's norm); the query's norm is a literal, the kernel's sequential
    double sum replayed on the driver. A zero vector's cosine is NULL and
    ranks last. The top-k is TakeOrderedAndProject (no full sort, no shuffle
    of vectors)."""
    q = [float(x) for x in query]
    qq = 0.0
    for x in q:
        qq += x * x
    v = F.col(vec_col).cast("array<double>")
    sim = F.round(
        F.try_divide(dot_expr(v, _lit_array(q)), norm_expr(v) * F.lit(math.sqrt(qq))), 4
    )
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
    planes = _planes(dim, total, seed).T.astype("<f8").tobytes()  # plane-major
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
    return cosine_topk(
        bucketed.filter(F.col("bucket").isin(*sorted(keys))), id_col, vec_col, query, k
    )


def knn_join_brute(
    left: DataFrame, right: DataFrame, id_left: str, id_right: str, vec_col: str, k: int = 5
) -> DataFrame:
    """k nearest right-rows per left-row, brute force (cross join + window).
    Correct at any scale but O(N·M) — use lsh/ivf variants beyond ~10^5×10^5;
    kept as the oracle-comparable baseline."""
    from pyspark.sql import Window

    l = vec_side(left, id_left, vec_col, "qid", "_ql", "_nl")
    r = vec_side(right, id_right, vec_col, "nid", "_qr", "_nr")
    cos = pair_cosine("_ql", "_qr", "_nl", "_nr").alias("cosine")
    scored = l.crossJoin(r).select("qid", "nid", cos)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join_blocked(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    id_right: str,
    vec_col: str,
    k: int = 5,
    max_probe_rows: int = 100_000,
) -> DataFrame:
    """EXACT k nearest right-rows per left-row without a cartesian shuffle —
    the scale path for kNN joins when the query side is small (the usual
    shape: a batch of probe vectors against a 100 TB corpus).

    The probes are broadcast to the right side's scan; each pair gets
    ``knn_join_brute``'s cosine, and a Java top-k aggregator
    (``Signatures.TopK``) keeps per ``qid`` the k first pairs in the brute
    window's order, so the result equals ``knn_join_brute`` row for row.
    Spark aggregates it partially, so only one k-row buffer per partition
    and probe crosses the shuffle; the vectors never do.

    Guard: more than ``max_probe_rows`` probe rows raises instead of
    silently OOMing the driver with the broadcast; batch the probes or use
    lsh_topk / ivf_assign. The check is one job bounded by
    limit(max_probe_rows + 1).
    """
    if left.limit(max_probe_rows + 1).count() > max_probe_rows:
        raise ValueError(
            f"knn_join_blocked broadcasts the probe (left) side; "
            f"got > {max_probe_rows} probe rows. Batch the probes, raise "
            f"max_probe_rows explicitly, or use lsh_topk/ivf_assign for "
            f"large probe sets."
        )
    lv = vec_side(left, F.col(id_left).cast("long"), vec_col, "qid", "_ql", "_nl")
    rv = vec_side(right, F.col(id_right).cast("long"), vec_col, "nid", "_qr", "_nr")
    topk = J.session_udf(
        left.sparkSession, "llm_tab_cleaner_topk", repr(k).encode(),
        J.SIGNATURES_CLASS, "registerTopK", k,
    )
    best = (
        rv.crossJoin(F.broadcast(lv))
        .select("qid", "nid", pair_cosine("_ql", "_qr", "_nl", "_nr").alias("cosine"))
        .groupBy("qid")
        .agg(F.call_function(topk, F.col("nid"), F.col("cosine")).alias("best"))
    )
    return best.select("qid", F.posexplode("best.top")).select(
        "qid", "col.nid", "col.cosine", (F.col("pos") + 1).alias("rank")
    )


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
    codebook travels inside one Java UDF (``Signatures.NearestCentroid``):
    each vector gets the cell with the largest sequential double dot, as an
    external twin in double arithmetic (the DuckDB oracle) computes it, the
    lowest cell on ties (np.argmax's first max). A NULL vector gets a NULL
    cell; a vector of another width raises."""
    if codebook is not None:
        cents = np.asarray(codebook, dtype=np.float64)
    else:
        rng = np.random.default_rng(seed)
        cents = rng.standard_normal((n_centroids, dim)).astype(np.float32).astype(np.float64)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    raw = cents.astype("<f8").tobytes()
    name = J.session_udf(
        df.sparkSession, "llm_tab_cleaner_nearest_centroid", repr(cents.shape).encode() + raw,
        J.SIGNATURES_CLASS, "registerNearestCentroid", raw, cents.shape[1],
    )
    return df.select(id_col, vec_col, F.call_function(name, F.col(vec_col)).alias("cell"))
