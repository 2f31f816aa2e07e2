"""Approximate-nearest-neighbor search over embedding columns.

- ``brute_force_topk`` — exact cosine top-k against a literal query vector.
  Fully native (aggregate/zip_with dot product) → one TakeOrdered, no
  full sort, no shuffle of the table. The correctness baseline.
- ``lsh_bucket`` / ``lsh_topk`` — random-hyperplane sign-bit LSH: r
  literal hyperplanes → r native dot-sign bits → bucket id. Query probes
  its own bucket (+ optional multi-probe neighbors at hamming 1), so at
  scale the scan prunes to ~n/2^r candidates before ranking. Hyperplanes
  are seeded numpy constants baked into the plan as literals — no UDF,
  no artifact file.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import cosine, cosine_lit, dot, dot_lit


def brute_force_topk(
    df: DataFrame, vec_col: str, query: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine (ties broken by id for determinism)."""
    return (
        df.select(
            F.col(id_col),
            cosine_lit(vec_col, query).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, r: int = 8, seed: int = 13) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((r, dim))


def bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: Σ (dot(v, pⱼ) > 0) << j — native expressions."""
    b = F.lit(0)
    for j, p in enumerate(planes):
        b = b + F.when(dot_lit(vec_col, [float(x) for x in p]) > 0, F.lit(1 << j)).otherwise(0)
    return b


def lsh_bucket(df: DataFrame, vec_col: str, planes: np.ndarray, out_col: str = "bucket") -> DataFrame:
    return df.withColumn(out_col, bucket_expr(vec_col, planes))


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 16,
    sample_rows: int = 2000,
    iters: int = 10,
    seed: int = 29,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a driver-side SAMPLE (the
    standard IVF recipe — the quantizer is tiny and trained once; only
    assignment is distributed). Deterministic given the seed."""
    sample = np.array(
        [r[0] for r in df.select(vec_col).limit(sample_rows).collect()],
        dtype=np.float64,
    )
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for k in range(n_centroids):
            pts = sample[assign == k]
            if len(pts):
                cent[k] = pts.mean(axis=0)
    return cent


def ivf_assign_expr(vec_col: str, centroids: np.ndarray) -> Column:
    """argmin-distance centroid id as a native expression (distance via
    dot products against literal centroid arrays — no UDF). For writing
    an IVF-clustered table: partition/bucket by this column and ANN scans
    prune to probed lists."""
    # argmin ||v - c||² == argmax (v·c - ||c||²/2)
    best_id = F.lit(0)
    best_score = dot_lit(vec_col, [float(x) for x in centroids[0]]) - float(
        (centroids[0] ** 2).sum() / 2
    )
    for k in range(1, len(centroids)):
        s = dot_lit(vec_col, [float(x) for x in centroids[k]]) - float(
            (centroids[k] ** 2).sum() / 2
        )
        take = s > best_score
        best_id = F.when(take, F.lit(k)).otherwise(best_id)
        best_score = F.when(take, s).otherwise(best_score)
    return best_id


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: scan only the ``n_probe`` centroid lists nearest to the
    query, exact-rank the survivors. With the table written clustered by
    ivf_assign_expr, the probe filter is partition-prunable."""
    q = np.asarray(query, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d)[:n_probe]]
    cand = df.withColumn("_list", ivf_assign_expr(vec_col, centroids)).filter(
        F.col("_list").isin(probes)
    )
    return (
        cand.select(F.col(id_col), cosine_lit(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    planes: np.ndarray | None = None,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: filter to the query's LSH bucket (± hamming-1 probes),
    then exact-rank the survivors. At 100 TB the bucket filter is a
    partition-prunable predicate if the table is written bucketed by it."""
    q = np.asarray(query, dtype=np.float64)
    planes = hyperplanes(len(q)) if planes is None else planes
    qb = 0
    for j, p in enumerate(planes):
        if float(q @ p) > 0:
            qb |= 1 << j
    probes = [qb] + ([qb ^ (1 << j) for j in range(len(planes))] if multiprobe else [])
    cand = lsh_bucket(df, vec_col, planes).filter(F.col("bucket").isin(probes))
    return (
        cand.select(F.col(id_col), cosine_lit(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )
