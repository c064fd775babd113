"""Distributed dense linear algebra over embedding columns.

One-pass Gramian/covariance in the shape that survives 100 TB: each
partition folds its vectors into a single d x d partial sum with
Arrow-batched numpy (``X.T @ X`` — BLAS, not per-row Python), emits the
matrix as d^2 ``(i, j, s)`` rows plus the d first-moment sums and the row
count, and one ``groupBy (i, j)`` sum combines partials.  Shuffle volume
is ``partitions * (d^2 + d + 1)`` rows — independent of n — versus the
naive explode-and-self-join form (the DuckDB oracle), which shuffles
``n * d^2`` rows.

PCA then reduces on the driver: the covariance is a bounded d x d
artifact (like k-means centroids), so ``numpy.linalg.eigh`` over the
collected matrix is exact, deterministic, and O(d^3) — never touching the
corpus again.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators._shared import emb_matrix

__all__ = ["gramian_partials", "covariance", "pca_eigh"]

_PARTIAL_SCHEMA = "i int, j int, s double"


def gramian_partials(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """Per-partition second/first-moment partial sums, combined by key.

    Output rows: ``(i, j, sum x_i*x_j)`` for the d x d Gramian,
    ``(i, -1, sum x_i)`` for the first moments, ``(-1, -1, n)`` for the
    count.  All values accumulate in float64 regardless of the column's
    element type, so engines agree bit-for-bit on each product.  Rows
    invalid under :func:`_shared.emb_matrix` (NULL, wrong length, NULL
    element) are skipped and not counted in ``n`` — SQL aggregate
    semantics.
    """
    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        S = np.zeros((d, d))
        m = np.zeros(d)
        n = 0
        for batch in batches:
            X, ok = emb_matrix(batch.column(0), d)
            if not ok.all():
                X = X[ok]
            S += X.T @ X
            m += X.sum(axis=0)
            n += len(X)
        ii, jj = np.indices((d, d))
        yield pa.RecordBatch.from_pydict({
            "i": pa.array(np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                          pa.int32()),
            "j": pa.array(np.concatenate([jj.ravel(), np.full(d, -1), [-1]]),
                          pa.int32()),
            "s": pa.array(np.concatenate([S.ravel(), m, [float(n)]])),
        })

    partials = df.select(vec_col).mapInArrow(fold, _PARTIAL_SCHEMA)
    return partials.groupBy("i", "j").agg(F.sum("s").alias("s"))


def covariance(df: DataFrame, vec_col: str, d: int,
               decimals: int | None = 6) -> DataFrame:
    """Population covariance matrix as ``(i, j, cov)`` rows.

    cov(i,j) = E[x_i x_j] - E[x_i] E[x_j], assembled from the combined
    partials with two broadcast joins against the d-row moment slice and
    the 1-row count — no driver collect.  ``decimals`` rounds for
    cross-engine hash comparison; ``decimals=None`` skips rounding
    entirely (full float64) for numeric consumers like ``pca_eigh``.
    """
    p = gramian_partials(df, vec_col, d)
    xy = p.filter((F.col("i") >= 0) & (F.col("j") >= 0))
    mx = (p.filter((F.col("j") == -1) & (F.col("i") >= 0))
          .select("i", F.col("s").alias("sx")))
    n = (p.filter((F.col("i") == -1) & (F.col("j") == -1))
         .select(F.col("s").alias("n")))
    return (xy
            .join(F.broadcast(mx.select(F.col("i").alias("mi"),
                                        F.col("sx").alias("sxi"))),
                  F.col("i") == F.col("mi"))
            .join(F.broadcast(mx.select(F.col("i").alias("mj"),
                                        F.col("sx").alias("sxj"))),
                  F.col("j") == F.col("mj"))
            .join(F.broadcast(n))
            .select("i", "j",
                    # + 0.0 collapses IEEE negative zero after rounding so
                    # both engines render exact-zero covariances identically
                    ((F.col("s") / F.col("n")
                      - (F.col("sxi") / F.col("n"))
                      * (F.col("sxj") / F.col("n"))).alias("cov")
                     if decimals is None else
                     (F.round(F.col("s") / F.col("n")
                              - (F.col("sxi") / F.col("n"))
                              * (F.col("sxj") / F.col("n")),
                              decimals) + F.lit(0.0)).alias("cov"))))


def pca_eigh(df: DataFrame, vec_col: str, d: int,
             top: int = 8) -> DataFrame:
    """Top eigenvalues / explained-variance ratios of the covariance.

    The d x d covariance (UNROUNDED — full float64 precision) collects to
    the driver (bounded artifact, like centroids) and ``eigh`` reduces it;
    the corpus itself is touched exactly once by the Gramian pass.
    Returns ``(component, eigenvalue, explained_ratio)`` for the ``top``
    largest components, deterministically ordered.
    """
    spark = df.sparkSession
    rows = covariance(df, vec_col, d, decimals=None).collect()
    C = np.zeros((d, d))
    for r in rows:
        C[r.i, r.j] = r.cov
    vals = np.linalg.eigvalsh(C)[::-1]
    total = float(vals.sum())
    out = [(int(c), round(float(v), 6), round(float(v / total), 6))
           for c, v in enumerate(vals[:top])]
    return spark.createDataFrame(
        out, "component int, eigenvalue double, explained_ratio double")
