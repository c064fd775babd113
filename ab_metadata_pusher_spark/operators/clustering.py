"""Distributed k-means (Lloyd iterations) over an embedding column.

The reference has no vector ops at all (SURVEY.md §2.G north star); this
is the Spark-first shape for clustering a 100 TB embedding corpus:

* **Assign** is a pure map: the k centroids are inlined into the plan as
  an array-of-structs literal and each row folds over it with
  ``F.aggregate`` to find its argmin — NO join, NO shuffle, no UDF.  A
  window/groupBy argmin would shuffle the whole corpus once per
  iteration; this shuffles zero rows.
* **Update** is one map-side-combinable shuffle of (corpus x dim)
  scalars: posexplode to (cluster, pos, value), avg, re-assemble.

Centroids are k x dim doubles (a few KiB) — collecting them to the driver
between iterations is the correct distributed design, not a shortcut
(same contract as ml.clustering.KMeans, which this intentionally mirrors
without the MLlib Vector UDT so results stay oracle-checkable).

:func:`fit_centroids` is the one Lloyd trainer (seed, then ``iters`` x
assign + update): k-means, each PQ subspace and the IVF coarse quantizer
of ``operators.similarity`` all train through it.  This module owns the
centroid tier rule (:data:`ASSIGN_CELLS_LITERAL_MAX`) for both the L2
argmin here and the cosine top-nprobe cell assignment there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators._shared import (
    _dbl, double_sql, emb_matrix,
)

__all__ = ["ASSIGN_CELLS_LITERAL_MAX", "seed_centroids", "assign_clusters",
           "update_centroids", "fit_centroids", "kmeans_fit_assign",
           "pq_fit_assign"]


#: Physical-shape crossover for centroid assignment, in centroid DOUBLES
#: (k x dim) — shared by :func:`assign_clusters` and
#: ``similarity._assign_cells``.  The plan-literal shape is bit-exact
#: with the DuckDB oracles and pays zero Python, but its parse/codegen
#: cost grows superlinearly with the literal (measured, SCALE.md — probe
#: script ivf_cells_probe.py, last in commit 3a5bcd2 — at dim 64, 5k
#: rows, warm: k=8 0.65s, k=256 4.0s, k=1024 15.2s, k=4096 minutes at
#: 20k rows), and per-row argmin through Catalyst higher-order functions
#: runs ~30M mul-adds/s however the centroids ship.  Past the threshold
#: the Arrow tier takes over: one numpy matmul per batch (k=256 0.29s,
#: k=4096 0.72s, k=16384 2.2s) — the FAISS-style coarse assignment shape
#: a billion-vector IVF actually needs.  128 cells at dim 64 keeps every
#: oracle-gated query (n_cells=8) on the exact tier.
ASSIGN_CELLS_LITERAL_MAX = 8192


def seed_centroids(corpus: DataFrame, k: int,
                   id_col: str = "vec_id",
                   emb_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic seeding (reproducible everywhere, unlike random
    init): cluster j is seeded from the vector whose ``id_col`` is j, for
    j < k.  A seed id whose embedding is NULL or holds a NULL element
    seeds nothing, just as :func:`update_centroids` drops a cluster with
    no defined mean; the other clusters keep their seeds.  Raises
    ``ValueError`` when no id below k carries a complete embedding."""
    rows = (corpus.filter((F.col(id_col) < k) & F.col(emb_col).isNotNull())
            .select(id_col, _dbl(F.col(emb_col)).alias("v")).collect())
    seeds = [(int(r[id_col]), [float(x) for x in r["v"]]) for r in rows
             if None not in r["v"]]
    if not seeds:
        raise ValueError(
            f"seed_centroids: no {id_col} below k={k} has a non-NULL "
            f"{emb_col} without NULL elements; cluster j is seeded from "
            f"{id_col} j")
    return seeds


def _centroid_literal(centroids: list[tuple[int, list[float]]]) -> Column:
    # One SQL string parsed JVM-side: building k x dim nested F.lit/
    # F.struct trees costs hundreds of py4j round trips PER literal
    # (measured ~0.5s of pure driver time at 8x64 before any job runs).
    # Element rendering is _shared.double_sql: bit-exact with F.lit and
    # safe for non-finite values (a NaN centroid coordinate — possible
    # from a degenerate input — must not become an unparseable 'nanD').
    parts = ", ".join(
        "named_struct('cluster', {c}, 'cvec', array({vs}))".format(
            c=int(c), vs=", ".join(map(double_sql, vec)))
        for c, vec in centroids)
    return F.expr(f"array({parts})")


def assign_clusters(corpus: DataFrame,
                    centroids: list[tuple[int, list[float]]],
                    id_col: str = "vec_id",
                    emb_col: str = "embedding",
                    keep_emb: bool = False) -> DataFrame:
    """Map-only nearest-centroid assignment by Euclidean distance.

    Ties break toward the lower cluster id (strict ``<`` while folding in
    ascending cluster order), matching the oracle's ``ORDER BY dist,
    cluster`` tiebreak.  Output: id, cluster, dist (unrounded double);
    ``keep_emb`` carries the embedding column through (the Lloyd-update
    caller wants it so the update needs no corpus re-join).

    Same two physical tiers as similarity._assign_cells and the same
    crossover constant (:data:`ASSIGN_CELLS_LITERAL_MAX`) — the literal
    tier is O(k x dim) plan text and per-row Catalyst folds, which
    degrade superlinearly past a few hundred centroids (SCALE.md), while
    a SemDeDup-scale k-means wants thousands of clusters.  Every
    oracle-gated query (k <= 8) keeps the bit-exact literal tier; past
    ASSIGN_CELLS_LITERAL_MAX doubles the numpy argmin tier runs.
    """
    centroids = sorted(centroids)
    if not centroids:
        raise ValueError("assign_clusters: empty centroid list")
    if len(centroids) * len(centroids[0][1]) > ASSIGN_CELLS_LITERAL_MAX:
        return _assign_clusters_arrow(corpus, centroids, id_col, emb_col,
                                      keep_emb)
    cents = _centroid_literal(centroids)
    v = _dbl(F.col(emb_col))

    def sq_dist(c: Column) -> Column:
        return F.aggregate(
            F.zip_with(v, c["cvec"], lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)

    # array_min over (d2, cluster) structs is the argmin: struct ordering
    # compares d2 first, then cluster — the lower cluster id wins ties,
    # matching the oracle's ORDER BY dist, cluster.  Each distance is
    # evaluated exactly once (a fold with F.when would inline the
    # distance expression twice per step).
    best = F.array_min(F.transform(
        cents, lambda c: F.struct(sq_dist(c).alias("d2"),
                                  c["cluster"].alias("cluster"))))
    cols = [F.col(id_col),
            best["cluster"].alias("cluster"),
            F.sqrt(best["d2"]).alias("dist")]
    if keep_emb:
        cols.append(F.col(emb_col))
    return corpus.select(*cols)


def _assign_clusters_arrow(corpus: DataFrame,
                           centroids: list[tuple[int, list[float]]],
                           id_col: str, emb_col: str,
                           keep_emb: bool) -> DataFrame:
    """Large-k assignment: numpy squared-distance argmin per Arrow
    batch — still map-only, centroid matrix in the task closure.
    ||e - c||^2 expands to ||e||^2 - 2 e.c + ||c||^2 (one matmul);
    ``dist`` is recomputed exactly for the winning centroid only, so
    the reported distance does not carry the expansion's cancellation
    error.  Same trade as similarity._assign_cells_arrow: BLAS
    accumulation can split near-exact ties differently than the
    literal tier's left fold (argmin still ties to the lower cluster
    id within its own values).

    Embeddings invalid under :func:`_shared.emb_matrix` follow the
    literal tier's contract instead of crashing the batch (r9 ADVICE):
    every distance is NULL, so array_min ties every struct to the
    LOWEST cluster id and sqrt(NULL) is NULL — here the row is masked
    out of the matmul and emitted as (lowest cluster id, NULL dist)
    directly.  A NaN element is a value, not NULL: every distance is
    NaN, argmin takes the first (lowest) cluster and ``dist`` stays
    NaN, as in the literal tier.  A centroid with a NaN coordinate is
    at NaN distance from every row, which ranks after every number
    (array_min's order), so it wins only a row whose distances are all
    NaN."""
    import numpy as np
    import pyarrow as pa

    ids = np.asarray([c for c, _ in centroids], dtype=np.int64)
    mat = np.asarray([v for _, v in centroids], dtype=np.float64)
    c2 = (mat * mat).sum(axis=1)
    degenerate_cluster = int(ids.min())
    in_types = {f.name: f.dataType.simpleString() for f in corpus.schema}
    out_cols = [f"`{id_col}` {in_types[id_col]}", "`cluster` int",
                "`dist` double"]
    if keep_emb:
        out_cols.append(f"`{emb_col}` {in_types[emb_col]}")
    out_schema = ", ".join(out_cols)

    def fn(batches):
        for batch in batches:
            emb, ok = emb_matrix(batch.column(emb_col), mat.shape[1])
            d2 = ((emb * emb).sum(axis=1)[:, None]
                  - 2.0 * (emb @ mat.T) + c2[None, :])
            # NaN ranks last, as in array_min; first (lowest) index on
            # ties.  An all-NaN row keeps column 0.
            nan = np.isnan(d2)
            pick = np.argmin(np.where(nan, np.inf, d2), axis=1)
            at_nan = nan[np.arange(len(pick)), pick]
            pick[at_nan] = np.argmax(~nan[at_nan], axis=1)
            diff = emb - mat[pick]
            dist = np.sqrt((diff * diff).sum(axis=1))
            cluster = ids[pick].astype(np.int32)
            cluster[~ok] = degenerate_cluster
            cols = {id_col: batch.column(id_col),
                    "cluster": pa.array(cluster),
                    "dist": pa.array(dist, mask=~ok)}
            if keep_emb:
                cols[emb_col] = batch.column(emb_col)
            yield pa.RecordBatch.from_pydict(cols)

    return corpus.mapInArrow(fn, out_schema)


def update_centroids(assigned: DataFrame, dim: int,
                     emb_col: str = "embedding"
                     ) -> list[tuple[int, list[float]]]:
    """Lloyd update: per-cluster element-wise mean of ``assigned`` — the
    :func:`assign_clusters` output with ``keep_emb=True`` (assignment is
    a map-only projection OF the corpus, so carrying the embedding is
    free and the update needs no corpus re-join).  posexplode to
    (cluster, pos, val) and aggregate per (cluster, pos): the map side
    inflates to corpus x dim internal rows, but partial aggregation
    combines them to partitions x k x dim scalars BEFORE the exchange,
    and the generated code is constant-size regardless of width.

    The wide form (one cluster-keyed aggregate with ``dim`` avg columns,
    no row inflation) lost at EVERY probed point, dim 8-2048 x rows
    20k-2M (SCALE.md; probe script
    lloyd_dim_probe.py, last in commit 3a5bcd2): past
    ``spark.sql.codegen.maxFields`` it exits whole-stage codegen and
    pays superlinear plan/compile time — e.g. dim 64/2M rows 0.57s vs
    1.33s, dim 2048/20k rows 0.72s vs 20.5s.

    Null handling (r8 ADVICE): rows with a NULL embedding are filtered
    before the groupBy, and each dimension aggregates with ``avg`` —
    rows carrying a NULL *element* at dim i drop out of dim i's mean
    only.  A cluster whose every row is NULL at some dimension has no
    defined mean there and is dropped from the returned list (its
    members re-assign to surviving centroids next pass) instead of
    raising ``float(None)``."""
    per_pos = (assigned.filter(F.col(emb_col).isNotNull())
               .select("cluster", F.posexplode(F.col(emb_col))
                       .alias("_pos", "_val"))
               .groupBy("cluster", "_pos")
               .agg(F.avg(F.col("_val").cast("double")).alias("_m"))
               .collect())
    by_cluster: dict[int, dict[int, float | None]] = {}
    for r in per_pos:
        by_cluster.setdefault(int(r["cluster"]), {})[int(r["_pos"])] = (
            None if r["_m"] is None else float(r["_m"]))
    out = []
    for c, pos_map in sorted(by_cluster.items()):
        vec = [pos_map.get(i) for i in range(dim)]
        if all(v is not None for v in vec):
            out.append((c, vec))
    return out


def fit_centroids(corpus: DataFrame, k: int, iters: int,
                  id_col: str = "vec_id", emb_col: str = "embedding"
                  ) -> list[tuple[int, list[float]]]:
    """The one Lloyd trainer: :func:`seed_centroids`, then ``iters``
    rounds of map-only :func:`assign_clusters` (embedding carried) and
    one :func:`update_centroids` shuffle.  Deterministic end to end
    (seeded from ids, fixed iteration count), so a SQL oracle can replay
    the exact run.  Every round is an action over ``corpus``; callers
    that iterate over expensive lineage pin it themselves.  Raises
    ``ValueError`` naming the seed ids and lengths when the seed
    embeddings differ in length (the centroid width is the seeds')."""
    cents = seed_centroids(corpus, k, id_col, emb_col)
    dim = len(cents[0][1])
    if any(len(v) != dim for _, v in cents):
        lengths = ", ".join(f"{id_col} {c}: {len(v)}"
                            for c, v in sorted(cents))
        raise ValueError(
            f"fit_centroids: seed {emb_col}s differ in length ({lengths})")
    for _ in range(iters):
        cents = update_centroids(
            assign_clusters(corpus, cents, id_col, emb_col, keep_emb=True),
            dim, emb_col)
    return cents


def kmeans_fit_assign(corpus: DataFrame, k: int = 8, iters: int = 1,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding") -> DataFrame:
    """Train ``k`` centroids with :func:`fit_centroids`, return the
    final assignment (id, cluster, dist).  Each iteration costs one map
    pass + one (cluster, pos)-keyed shuffle; cache ``corpus`` upstream
    when iterating more than a couple of times."""
    return assign_clusters(corpus, fit_centroids(corpus, k, iters, id_col,
                                                 emb_col), id_col, emb_col)


def pq_fit_assign(corpus: DataFrame, m: int = 4, k: int = 4,
                  iters: int = 1, id_col: str = "vec_id",
                  emb_col: str = "embedding") -> DataFrame:
    """Product quantization: split the d-dim embedding into ``m``
    contiguous subspaces and run an independent k-means
    (:func:`fit_centroids`) in each, returning one row per (vector,
    subspace) with its assigned code and quantization error.

    PQ is the storage-side half of large-scale ANN (IVF-PQ): m codes of
    log2(k) bits replace d floats per vector.  Scale shape: each
    subspace's assign pass is map-only over a sliced array (no shuffle),
    each update shuffles (code, pos) scalar partials; the m subspace
    plans are independent — they union without any cross-subspace
    exchange, and the codebooks (m x k x d/m doubles) stay driver-sized
    by construction.  ``d`` is read from the first non-NULL embedding."""
    d = (corpus.filter(F.col(emb_col).isNotNull())
         .select(F.size(F.col(emb_col)).alias("d")).first()["d"])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by {m} subspaces")
    w = d // m
    outs = []
    for s in range(m):
        sub = corpus.select(
            F.col(id_col),
            F.slice(F.col(emb_col), s * w + 1, w).alias("_sub"))
        cents = fit_centroids(sub, k, iters, id_col, "_sub")
        outs.append(assign_clusters(sub, cents, id_col, "_sub")
                    .select(id_col, F.lit(s).alias("subspace"),
                            F.col("cluster").alias("code"),
                            F.col("dist").alias("qerr")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
