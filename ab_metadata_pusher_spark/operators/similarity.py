"""Similarity search over embedding columns (SURVEY.md §2.G north star).

Every operator is the same three stages — generate candidates, score
them exactly, cut the top k (the split of distributed top-k similarity
in REPOSE, ICDE 2021) — and each stage is written once:

1. **Candidates**: which (query, neighbor) pairs get scored.
   * Every pair: ``topk_cosine_bruteforce`` (broadcast query set x
     corpus), the exact baseline and recall oracle for the rest.
   * A shared bucket in any of several hyperplane tables
     (``_lsh_keyer``): ``ann_lsh_topk`` (broadcast probe set),
     ``ann_lsh_knn_self`` and ``embedding_near_dup_pairs_lsh`` (corpus
     self-joins).
   * A shared learned IVF cell (``ivf_centroid_list``, trained by
     ``clustering.fit_centroids``; cells attached map-only by
     ``_assign_cells``): ``ann_ivf_topk``, ``ann_ivf_knn_self`` and
     ``semantic_dedup_pairs``.
2. **Score**: exact cosine per candidate over the ``_side`` projections,
   which fold each vector's norm once per row.  Below
   ``CELLPAIRS_MIN_CANDIDATES`` the JVM ``cosine_prenorm`` fold scores
   each joined pair (``_fold_scores``); above it one Arrow cogroup per
   cell scores the same bits.
3. **Rank**: the kNN operators keep each query's top ``k`` by cosine,
   ties to the lower neighbor id (``_rank_topk``); the pair operators
   keep pairs at or above a threshold instead.

Vector math is F.aggregate/F.zip_with over array<float> — JVM-side, no
UDF.  All floats are accumulated as doubles in array order so the DuckDB
oracle (list_cosine_similarity over DOUBLE[]) agrees bit-for-bit in
practice.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ab_metadata_pusher_spark.operators import clustering
from ab_metadata_pusher_spark.operators._shared import (
    _dbl, double_array_lit, double_sql, emb_matrix, materialize_shared,
)

logger = logging.getLogger(__name__)

__all__ = ["dot", "l2_norm", "cosine_prenorm",
           "topk_cosine_bruteforce",
           "hyperplanes", "lsh_planes_for", "ann_lsh_topk",
           "ann_lsh_knn_self", "embedding_near_dup_pairs_lsh",
           "ivf_centroid_list", "ivf_cells_for", "ann_ivf_topk",
           "ann_ivf_knn_self", "semantic_dedup_pairs"]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their PRE-computed norms ``na``,
    ``nb``: each vector's norm fold runs once per ROW in its side's
    projection instead of once per PAIR in the join output — at k
    candidates per vector that deletes 2k of the 3k higher-order-function
    array folds in the scoring stage (measured 3.5s -> 3.1s on the
    bounded 500-vector ANN label screen, where candidate-join/distinct
    shuffles dominate; the fold savings grow linearly with
    candidates-per-vector, i.e. with corpus size).  NULL where a norm is
    zero, with or without ANSI mode (a plain ``/`` raises DIVIDE_BY_ZERO
    under ANSI, the Spark 4 default)."""
    return F.try_divide(dot(a, b), na * nb)


#: Candidate-volume crossover for corpus-scale cosine scoring.  Below
#: it the JVM ``cosine_prenorm`` fold scores each candidate pair, so
#: every oracle-gated query (bounded candidate sets) keeps its audited
#: JVM-only plan.  The fold is CodegenFallback (interpreted, three
#: boxed arrays per pair) and its first execution pays a JIT ramp that
#: measured up to ~50x the hot CPU on the 4M-candidate
#: quality_label_full stream (OPTIMIZATION_r14.md).  Past the crossover
#: the ``cellpairs`` tier replaces the cell join with a per-CELL
#: cogroup: each vector crosses the Python boundary once per (cell,
#: side) instead of once per candidate, and the within-cell score
#: matrix reproduces the fold BIT-FOR-BIT — elementwise products added
#: sequentially per dimension, then divided by the JVM-computed norm
#: product, the same correctly-rounded IEEE-754 ops in the same order.
#: The kNN form also prunes each (query, cell) group to a superset of
#: the pairs that can reach the global top-k (``_cellpair_knn_scores``),
#: so the downstream window rank is unchanged.  Tests force a tier by
#: patching this constant.
CELLPAIRS_MIN_CANDIDATES = 1_000_000


def _seq_dot_matrix(qm, cm, dim: int):
    """(nq x dim) x (nb x dim) -> (nq x nb) dot matrix whose per-pair
    accumulation order is the JVM fold's exactly: sequential per-dim
    adds of the elementwise products (NOT a BLAS matmul, whose
    accumulation order differs and can land 1 ULP away on near-ties)."""
    import numpy as np

    nq, nb = qm.shape[0], cm.shape[0]
    acc = np.zeros((nq, nb), dtype=np.float64)
    tmp = np.empty((nq, nb), dtype=np.float64)
    for i in range(dim):
        np.multiply.outer(qm[:, i], cm[:, i], out=tmp)
        acc += tmp
    return acc


def _cellpair_knn_scores(query: DataFrame, build: DataFrame,
                         dim: int, k: int) -> DataFrame:
    """Guide-§8 kNN candidate scoring: cogroup by cell, ship each
    vector once per (cell, side), score the within-cell (query x build)
    matrix in one vectorized pass (fold-bit-exact, see
    ``_seq_dot_matrix``), and emit only the pairs that can still reach
    the global top-``k``.

    A pair's cosine is NULL where the fold's is: an embedding invalid
    under :func:`_shared.emb_matrix` on either side, or a zero norm
    product (the fold's division by zero — NULL without ANSI mode;
    under ANSI the fold raises DIVIDE_BY_ZERO).  Every other cosine,
    NaN included, crosses the Arrow boundary unchanged.

    Pruning is a SUPERSET filter, so the downstream window rank sees
    every eventual winner: a pair in the query's global top-k has at
    most k-1 pairs above it globally, hence at most k-1 above it inside
    its own cell, hence cosine >= the group's k-th value (ties at the
    boundary are kept, not split).  NaN sorts LARGEST in Spark, so it
    maps to +inf for the cut; NULL cosines sort LAST under ``desc``, so
    their pairs are emitted only when the query has fewer than k
    sortable candidates in the cell (otherwise k sortable pairs already
    outrank every NULL globally).

    Input contracts: ``query`` = (query_id, q_emb, q_norm, cell) with
    at most one row per (query_id, cell) — ``_assign_cells`` explodes
    DISTINCT cells; ``build`` = (neighbor_id, c_emb, c_norm, cell).
    Self-pairs (query_id == neighbor_id) are dropped here, exactly as
    the join tiers' filter does before the window."""
    import numpy as np
    import pyarrow as pa

    qid_t = dict((f.name, f.dataType.simpleString())
                 for f in query.schema)["query_id"]
    nid_t = dict((f.name, f.dataType.simpleString())
                 for f in build.schema)["neighbor_id"]
    out_schema = (f"`query_id` {qid_t}, `neighbor_id` {nid_t}, "
                  "`cosine_sim` double")

    def fn(lt: pa.Table, rt: pa.Table) -> pa.Table:
        qm, okq = emb_matrix(lt.column("q_emb"), dim)
        cm, okb = emb_matrix(rt.column("c_emb"), dim)
        qids = lt.column("query_id").to_numpy()
        bids = rt.column("neighbor_id").to_numpy()
        den = np.multiply.outer(lt.column("q_norm").to_numpy(),
                                rt.column("c_norm").to_numpy())
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _seq_dot_matrix(qm, cm, dim) / den
        not_self = qids[:, None] != bids[None, :]
        sortable = okq[:, None] & okb[None, :] & (den != 0)
        valid = sortable & not_self
        # Spark orders NaN above every double: +inf for the cut.
        filled = np.where(valid, np.where(np.isnan(cos), np.inf, cos),
                          -np.inf)
        nb_ = filled.shape[1]
        if nb_ > k:
            vk = np.partition(filled, nb_ - k, axis=1)[:, nb_ - k]
        else:
            vk = np.full(filled.shape[0], -np.inf)
        keep = valid & (filled >= vk[:, None])
        keep |= (~sortable & not_self) & (valid.sum(axis=1) < k)[:, None]
        qi, bi = np.nonzero(keep)
        return pa.table({
            "query_id": lt.column("query_id").take(qi),
            "neighbor_id": rt.column("neighbor_id").take(bi),
            "cosine_sim": pa.array(cos[qi, bi], mask=~sortable[qi, bi])})

    return (query.groupBy("cell")
            .cogroup(build.groupBy("cell"))
            .applyInArrow(fn, out_schema))


def _cellpair_semantic_scores(assigned: DataFrame, dim: int,
                              threshold: float) -> DataFrame:
    """Guide-§8 SemDeDup within-cell pair scoring: ONE grouped pass per
    cell over (vec_id, embedding, nv, cell) — each vector crosses the
    boundary once, the cell's pair matrix is scored fold-bit-exact in
    numpy, and only pairs passing the threshold leave Python (the same
    ``>=`` on the same doubles as the JVM filter; NaN is kept because
    Spark orders NaN above every double, so the JVM filter keeps it
    too).  Pairs whose cosine the fold makes NULL (see
    ``_cellpair_knn_scores``) are dropped, because a NULL comparison
    filters.  Emits (vec_a < vec_b, cell, cs); the caller applies the
    JVM threshold filter again (a no-op belt) and the output rounding."""
    import numpy as np
    import pyarrow as pa

    types = {f.name: f.dataType.simpleString() for f in assigned.schema}
    out_schema = (f"`vec_a` {types['vec_id']}, `vec_b` {types['vec_id']}, "
                  f"`cell` {types['cell']}, `cs` double")

    def fn(t: pa.Table) -> pa.Table:
        ids = t.column("vec_id").to_numpy()
        em, ok = emb_matrix(t.column("embedding"), dim)
        nv = t.column("nv").to_numpy()
        den = np.multiply.outer(nv, nv)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _seq_dot_matrix(em, em, dim) / den
            keep = ((ids[:, None] < ids[None, :]) & ok[:, None]
                    & ok[None, :] & (den != 0)
                    & ((cos >= threshold) | np.isnan(cos)))
        ai, bi = np.nonzero(keep)
        return pa.table({"vec_a": t.column("vec_id").take(ai),
                         "vec_b": t.column("vec_id").take(bi),
                         "cell": t.column("cell").take(ai),
                         "cs": pa.array(cos[ai, bi])})

    return assigned.groupBy("cell").applyInArrow(fn, out_schema)


def _side(vectors: DataFrame, role: str) -> DataFrame:
    """One side of a candidate pair: ``role`` is ``query`` (columns
    query_id, q_emb, q_norm) or ``neighbor`` (neighbor_id, c_emb,
    c_norm).  The norm fold runs here, once per vector."""
    p = "q" if role == "query" else "c"
    return vectors.select(F.col("vec_id").alias(f"{role}_id"),
                          F.col("embedding").alias(f"{p}_emb"),
                          l2_norm(F.col("embedding")).alias(f"{p}_norm"))


def _fold_scores(pairs: DataFrame) -> DataFrame:
    """``pairs`` (joined ``_side`` columns) plus their ``cosine_sim``
    from the JVM ``cosine_prenorm`` fold."""
    return pairs.withColumn(
        "cosine_sim", cosine_prenorm(F.col("q_emb"), F.col("c_emb"),
                                     F.col("q_norm"), F.col("c_norm")))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Each query's top ``k`` of ``scored`` (query_id, neighbor_id,
    cosine_sim — from the fold or the cellpairs tier alike): cosine
    DESC with NULL last, ties to the lower neighbor_id for cross-engine
    determinism.  Output: query_id, neighbor_id, cosine_sim (rounded
    6), rank."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("cosine_sim", 6).alias("cosine_sim"), "rank"))


def topk_cosine_bruteforce(corpus: DataFrame, queries: DataFrame,
                           k: int = 5) -> DataFrame:
    """Exact top-k neighbors for each query vector: every (query,
    corpus vector) pair is a candidate (broadcast query set, one narrow
    pass over the corpus; WindowGroupLimit keeps k rows per partition
    before the rank's shuffle)."""
    return _rank_topk(_fold_scores(
        F.broadcast(_side(queries, "query"))
        .crossJoin(_side(corpus, "neighbor"))
        .filter(F.col("query_id") != F.col("neighbor_id"))), k)


#: Target expected bucket occupancy for the SELF-join LSH operators.
#: Candidates per table ~ sum over buckets of n_b², so a FIXED plane
#: count is quadratic in corpus size — the r11 multi-decade study
#: caught exactly this: quality_label_full with the fixture constant
#: (3 planes = 8 buckets) ground >12 min at x100 (200k vectors ->
#: ~25k-vector buckets -> ~3e10 candidate pairs across 6 tables).
#: Sizing planes so expected occupancy stays ~constant makes candidate
#: volume ~ n * occupancy — linear.
_LSH_BUCKET_TARGET = 256
#: int bucket ids are bit-packed: 24 planes = 16M buckets, far past any
#: in-container size and safely under the int bit width.
_LSH_PLANES_CAP = 24
#: Build-side members per (table, bucket) for the kNN-self candidate
#: join when planes are data-sized.  Plane sizing fixes the ISOTROPIC
#: part of candidate volume; genuinely dense clusters still pile into
#: shared buckets no matter how many planes cut them (measured on the
#: x100 replicas: 1.77e9 candidates at p=10 fell only to 5.2e8 at p=14
#: — the floor is cluster density, not bucket granularity).  Capping
#: the BUILD side at a deterministic hash-ordered sample per bucket
#: bounds candidates at tables * cap * n — hard-linear under ANY skew —
#: while every query still probes all its buckets.  Inside a dense
#: cluster bucket-mates are interchangeably close, so a 128-sample
#: preserves top-k quality (the recall gates measure it).
_LSH_KNN_BUCKET_CAP = 128


def lsh_planes_for(n_vectors: int | None, floor: int,
                   target: int = _LSH_BUCKET_TARGET) -> int:
    """Data-sized hyperplane count for a bucket SELF-join: enough
    planes that expected occupancy n/2^p stays ~``target``, floored at
    the fixture-calibrated recall A/B's plane count (small corpora keep
    the exact behavior every oracle and recall gate pinned).

    Recall calculus for growing p: a pair at angle θ collides per table
    w.p. (1-θ/π)^p, so close neighbors (the top-k that matter for kNN
    screens and near-dup verify) decay slowly — s=0.95 at p: 3->10
    gives per-table 0.86->0.60, and 6 tables keep union recall > 0.99.
    Distant pairs are what the extra planes shed, which is the point.
    Callers pass ``n_vectors`` from parquet footer counts
    (operators/_shared.parquet_rowcount — no job at construction)."""
    import math

    if not n_vectors or n_vectors <= target:
        return floor
    return min(_LSH_PLANES_CAP,
               max(floor, math.ceil(math.log2(n_vectors / target))))


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed arithmetic on the
    indices — no RNG state, reproducible everywhere)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            # LCG-ish fold into [-0.5, 0.5)
            v = ((p * 73856093 + d * 19349663 + 83492791) % 100003) / 100003.0
            row.append(v - 0.5)
        planes.append(row)
    return planes


def _lsh_keyer(n_tables: int, n_planes: int, dim: int):
    """The LSH key builder: ``keyed(vectors, cols)`` returns ``cols`` of
    ``vectors`` plus one (tbl, bkt) row per hash table — ``n_tables``
    independent tables of ``n_planes`` signed projections of
    ``embedding`` each, from one deterministic plane set.  The key
    expression is built once per keyer and shared by both sides of a
    join: each build is driver time (about 0.2 s for 6 tables x 3
    planes at dim 64, measured on a 4-core host)."""
    planes = hyperplanes(n_tables * n_planes, dim)
    keys = F.array(*[
        F.struct(F.lit(t).alias("tbl"),
                 _bucket(F.col("embedding"),
                         planes[t * n_planes:(t + 1) * n_planes])
                 .alias("bkt"))
        for t in range(n_tables)])

    def keyed(vectors: DataFrame, cols: list) -> DataFrame:
        exploded = vectors.select(*cols, F.explode(keys).alias("b"))
        return exploded.select(*exploded.columns[:-1],
                               F.col("b.tbl").alias("tbl"),
                               F.col("b.bkt").alias("bkt"))
    return keyed


def _bucket(emb: Column, planes: list[list[float]]) -> Column:
    """Signed-projection bucket id: bit p = (emb . plane_p) >= 0."""
    bits = []
    for p, plane in enumerate(planes):
        # plane as ONE SQL-parsed literal (a per-element F.lit array is
        # dim py4j round trips per plane — repr round-trips bit-exact)
        plane_lit = double_array_lit(plane)
        proj = F.aggregate(
            F.zip_with(_dbl(emb), plane_lit, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def ann_lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
                 n_planes: int = 3, n_tables: int = 6,
                 dim: int = 64) -> DataFrame:
    """Approximate top-k for a (small, broadcastable) probe set: hash
    corpus + queries into ``n_tables`` independent hyperplane tables of
    ``n_planes`` signed projections each; a corpus vector is a candidate
    if it shares a bucket with the query in ANY table; only distinct
    candidates pay the exact-cosine rank.

    Multi-table is the recall lever (1-(1-(1-θ/π)^p)^L — round 3's
    single 4-plane table measured 0.12 recall@5 on the fixture, this
    shape 0.7+): more tables union in more near-misses while each
    table's candidate set stays corpus/2^planes.  At scale the bucket
    equi-join replaces the cross join; output schema matches
    topk_cosine_bruteforce so recall is directly measurable
    (similarity_ann_recall).
    """
    keyed = _lsh_keyer(n_tables, n_planes, dim)
    cand = (F.broadcast(keyed(queries, [F.col("vec_id").alias("query_id")]))
            .join(keyed(corpus, [F.col("vec_id").alias("neighbor_id")]),
                  ["tbl", "bkt"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct())
    return _rank_topk(_fold_scores(
        cand.join(F.broadcast(_side(queries, "query")), "query_id")
        .join(_side(corpus, "neighbor"), "neighbor_id")), k)


def ann_lsh_knn_self(corpus: DataFrame, k: int = 5, *,
                     n_planes: int | None = None, n_tables: int = 6,
                     dim: int = 64, n_vectors: int | None = None
                     ) -> DataFrame:
    """Approximate k-NN of EVERY corpus vector against the corpus itself
    (all-vs-all), via multi-table hyperplane-bucket SELF-joins.

    ``ann_lsh_topk`` broadcasts its query side — right when queries are
    a small probe set, wrong when the query set IS the corpus (label-
    noise screening, kNN graphs): broadcasting 100 TB of vectors is not
    a plan.  Here each vector gets ``n_tables`` independent bucket keys
    (``n_planes`` signed projections each); a pair is a candidate if it
    shares a bucket in ANY table (recall 1-(1-(1-θ/π)^p)^L, tunable —
    same blocking as embedding_near_dup_pairs_lsh), and only distinct
    candidates pay the exact-cosine rank.  Everything is bucket
    equi-joins shuffling on (table, bucket): per-bucket work is
    (corpus/2^planes)² per table — which is why ``n_planes`` must NOT
    be a constant at scale.  ``n_planes=None`` (default) sizes it from
    ``n_vectors`` via :func:`lsh_planes_for` (floor 3 = the r4 recall
    A/B, so bounded oracle corpora keep the exact pinned buckets;
    callers pass a parquet footer count — no job at construction).
    Without either, the floor applies — correct only for gate-bounded
    corpora.  Output schema matches ``topk_cosine_bruteforce`` so
    recall is directly measurable.

    Materialization contract: the bucket-keyed stream is referenced by
    BOTH self-join sides (Catalyst shares no subplans — the lazy form
    re-ran the corpus scan + 2·n_tables·n_planes signed projections per
    alias); it goes through the same strategy selector as the dedup
    pair operators: the ``MATERIALIZE_CONF`` session conf alone picks
    lazy persist (default) or eager.
    """
    sized = n_planes is None
    if sized:
        n_planes = lsh_planes_for(n_vectors, floor=3)
    keyed = materialize_shared(
        _lsh_keyer(n_tables, n_planes, dim)(corpus, ["vec_id"]))
    build = keyed
    if sized and n_planes > 3:
        # data-sized (i.e. large-corpus) mode only: dense clusters defeat
        # plane granularity, so bound the candidate join's BUILD side at
        # a deterministic hash-ordered sample per bucket — candidates
        # <= n_tables * cap * n under ANY skew.  Gate-bounded corpora
        # never enter this branch, keeping every pinned oracle exact.
        w = Window.partitionBy("tbl", "bkt").orderBy(
            F.xxhash64("vec_id"), "vec_id")
        build = (keyed.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= _LSH_KNN_BUCKET_CAP).drop("_rn"))
    cand = (keyed.alias("a")
            .join(build.alias("b"), ["tbl", "bkt"])
            .filter(F.col("a.vec_id") != F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("query_id"),
                    F.col("b.vec_id").alias("neighbor_id"))
            .distinct())
    return _rank_topk(_fold_scores(
        cand.join(_side(corpus, "query"), "query_id")
        .join(_side(corpus, "neighbor"), "neighbor_id")), k)


def embedding_near_dup_pairs_lsh(corpus: DataFrame, threshold: float,
                                 n_planes: int | None = None,
                                 n_tables: int = 4,
                                 dim: int = 64,
                                 n_vectors: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by multi-table hyperplane
    LSH — the 100 TB shape (no reliance on a label/partition column).

    ``n_tables`` independent hash tables of ``n_planes`` signed
    projections each; a pair is a candidate if it shares a bucket in ANY
    table (recall 1-(1-(1-θ/π)^p)^L, tunable), and only candidates pay
    the exact-cosine verify.  Plan: explode to (table, bucket) keys ->
    one hash equi-join -> distinct pairs -> verify.  Candidates per
    vector ~ n_tables * corpus / 2^n_planes — linear only if the plane
    count GROWS with the corpus: ``n_planes=None`` (default) sizes it
    from ``n_vectors`` via :func:`lsh_planes_for` (floor 6 = the pinned
    oracle shape for gate-bounded corpora).
    """
    if n_planes is None:
        n_planes = lsh_planes_for(n_vectors, floor=6)
    keyed = _lsh_keyer(n_tables, n_planes, dim)(
        corpus, ["vec_id", "embedding",
                 l2_norm(F.col("embedding")).alias("nrm")])
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
               & (F.col("a.bkt") == F.col("b.bkt"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.col("a.embedding").alias("ea"),
                F.col("b.embedding").alias("eb"),
                F.col("a.nrm").alias("na"), F.col("b.nrm").alias("nb"))
        .distinct())
    return (
        cand.withColumn("cosine_sim",
                        cosine_prenorm(F.col("ea"), F.col("eb"),
                                       F.col("na"), F.col("nb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine_sim", 4).alias("cosine_sim"))
    )


def ivf_centroid_list(corpus: DataFrame, n_cells: int = 8,
                      iters: int = 2) -> list[tuple[int, list[float]]]:
    """IVF coarse quantizer: LEARNED k-means cells over the embedding
    column itself — no dependence on any label/partition column (at
    corpus scale there is none).

    Training is :func:`clustering.fit_centroids`: map-only assignment
    against inlined centroid literals (zero shuffle), one
    map-side-combinable (cluster, pos) shuffle per update.
    Deterministic end-to-end — cell j seeded from vec_id j, fixed
    ``iters`` — so a SQL oracle can replay the exact training run.
    Returns the driver-side (cell, centroid) list sorted by cell (k x
    dim, a few KiB — the ml.clustering.KMeans contract), so the
    downstream cell assignment inlines the centroids as plan literals
    (map-only, zero shuffle) instead of paying a corpus x n_cells
    crossJoin + per-vector window sort."""
    # Training consumes corpus 2*iters+1 times and every consumption is
    # an action (centroids collect between iterations); pin it for the
    # loop's lifetime so upstream lineage (repartition, decode, joins)
    # replays once, then release — all training actions complete here.
    corpus = corpus.persist()
    try:
        return sorted(clustering.fit_centroids(corpus, n_cells, iters))
    finally:
        corpus.unpersist()


def _assign_cells(df: DataFrame, cents: list[tuple[int, list[float]]],
                  id_col: str, emb_col: str, nprobe: int) -> DataFrame:
    """Attach the ``nprobe`` nearest cells to each vector — MAP-ONLY.

    Up to ``clustering.ASSIGN_CELLS_LITERAL_MAX`` centroid doubles (the
    one tier rule for cells and clusters) the centroids are inlined into
    the plan (below); past it a vectorized numpy matmul runs per Arrow
    batch (:func:`_assign_cells_arrow`).  Both
    tiers share the contract: cosine ranking, ties to the lower cell,
    degenerate (zero-norm / non-finite) similarity ranks LAST.

    The centroid table is k x dim doubles (driver-sized by contract), so
    it is inlined into the plan as an array-of-structs literal and each
    row sorts its per-cell (-cosine, cell) structs and keeps the first
    ``nprobe`` — no crossJoin row inflation, no per-vector window sort,
    zero shuffle.  Tie-break matches the previous windowed form
    (cosine DESC, then lower cell).  ``cents`` is the
    :func:`ivf_centroid_list` list.

    Each centroid's norm is computed ONCE driver-side (the identical
    left fold as :func:`l2_norm`, so the double bits match) and inlined
    into the struct literal — the previous form re-folded
    ``l2_norm(cvec)`` per cell per ROW, O(k x dim) wasted adds per
    vector (r8 ADVICE).  Degenerate similarities (zero-norm vector or
    centroid) are normalized explicitly: the division is GUARDED (under
    Spark 4 ANSI mode 0/0 raises DIVIDE_BY_ZERO, it does not NaN) and
    the sort key pinned to +inf so such cells rank LAST
    deterministically — zero similarity evidence never wins a probe
    slot; ``nanvl`` catches any residual non-finite cosine the same
    way.  (The pre-r8 windowed form ranked NaN FIRST, an accident of
    double DESC ordering; fixture corpora and learned k-means centroids
    have no zero-norm vectors, so the green oracles see no
    difference.)"""
    rows = [(int(c), [float(x) for x in vec]) for c, vec in cents]
    if not rows:
        raise ValueError("_assign_cells: empty centroid table")
    if len(rows) * len(rows[0][1]) > clustering.ASSIGN_CELLS_LITERAL_MAX:
        return _assign_cells_arrow(df, rows, emb_col, nprobe)

    def _norm(vec: list[float]) -> float:
        acc = 0.0
        for x in vec:  # same left fold as l2_norm => identical bits
            acc = acc + x * x
        return acc ** 0.5

    # One SQL string parsed JVM-side (see _shared.double_array_lit:
    # nested F.lit trees cost hundreds of py4j round trips); cell is
    # BIGINT, as in the Arrow tier.
    lit = F.expr("array({})".format(", ".join(
        "named_struct('cell', {c}L, 'cvec', array({vs}), 'cnorm', {n})"
        .format(c=c, vs=", ".join(map(double_sql, vec)),
                n=double_sql(_norm(vec)))
        for c, vec in sorted(rows))))
    v, vnorm = F.col(emb_col), l2_norm(F.col(emb_col))
    inf = F.lit(float("inf"))
    ranked = F.transform(lit, lambda c: F.struct(
        F.when(vnorm * c["cnorm"] == 0.0, inf)
        .otherwise(F.nanvl(
            -cosine_prenorm(v, c["cvec"], vnorm, c["cnorm"]), inf))
        .alias("_negcs"),
        c["cell"].alias("cell")))
    picked = F.slice(F.array_sort(ranked), 1, nprobe)
    return (df.withColumn("cell",
                          F.explode(F.transform(picked, lambda s: s["cell"]))))


def _assign_cells_arrow(df: DataFrame, rows: list[tuple[int, list[float]]],
                        emb_col: str, nprobe: int) -> DataFrame:
    """Large-k cell assignment: one numpy matmul per Arrow batch.

    Still MAP-ONLY (mapInArrow adds no exchange; every input column
    passes through the Arrow batch untouched) and still driver-sized
    state: the k x dim centroid matrix rides the task closure.  Per
    batch: ``E @ M.T`` (BLAS — measured ~60x faster than per-row
    Catalyst higher-order folds at k=4096, SCALE.md),
    then a lexsort on (negated cosine, cell id) whose ordering matches
    the literal tier's struct sort: ties to the lower cell, degenerate
    (zero-norm / non-finite) similarity mapped to +inf so it ranks
    last.  Embeddings invalid under :func:`_shared.emb_matrix` take the
    same +inf path instead of crashing the batch (r9 ADVICE): the
    literal tier's NULL fold makes every ``_negcs`` NULL, which sorts
    like the all-NaN case — ties break to the lowest cell ids.  Trade
    vs the literal tier: float accumulation order differs
    (BLAS vs left fold) and even MATHEMATICALLY identical centroids can
    land 1 ULP apart (different matmul output columns take different
    SIMD/remainder paths), so near-exact cosine ties can pick different
    cells — which is why the oracle-gated small-k queries stay on the
    exact tier and the crossover is a constant, not a heuristic."""
    import numpy as np
    import pyarrow as pa

    cents = sorted(rows)
    cell_ids = np.asarray([c for c, _ in cents], dtype=np.int64)
    mat = np.asarray([v for _, v in cents], dtype=np.float64)
    cnorm = np.sqrt((mat * mat).sum(axis=1))
    n_out = min(nprobe, len(cents))
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields) + ", `cell` bigint"

    def fn(batches):
        for batch in batches:
            emb, ok = emb_matrix(batch.column(emb_col), mat.shape[1])
            vnorm = np.sqrt((emb * emb).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                negcs = -(emb @ mat.T) / (vnorm[:, None] * cnorm[None, :])
            negcs = np.where(np.isfinite(negcs), negcs, np.inf)
            negcs[~ok] = np.inf
            order = np.lexsort(
                (np.broadcast_to(cell_ids, negcs.shape), negcs),
                axis=1)[:, :n_out]
            rep = batch.take(np.repeat(np.arange(batch.num_rows), n_out))
            yield rep.append_column("cell", pa.array(cell_ids[order].ravel()))

    return df.mapInArrow(fn, out_schema)


def ann_ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 nprobe: int = 2, n_cells: int = 8,
                 iters: int = 2) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest cell,
    queries probe their ``nprobe`` nearest cells, ranking runs only inside
    probed cells.  Cells are learned (``ivf_centroid_list`` k-means), not
    taken from any data column.

    The 100 TB shape: candidates per query ~= nprobe * corpus / n_cells,
    and the corpus side can be written bucketed by cell so the probe join
    is shuffle-free on re-use.  Output schema matches
    topk_cosine_bruteforce for direct recall measurement."""
    cents = ivf_centroid_list(corpus, n_cells=n_cells, iters=iters)
    c = _assign_cells(_side(corpus, "neighbor"), cents, "neighbor_id",
                      "c_emb", nprobe=1)
    q = F.broadcast(_assign_cells(_side(queries, "query"), cents,
                                  "query_id", "q_emb", nprobe=nprobe))
    return _rank_topk(_fold_scores(
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))), k)


#: Target expected cell occupancy for the corpus-sized kNN-self cell
#: count: candidates per query = nprobe * occupancy — bounded and
#: linear in corpus size when cells grow with the corpus.
_IVF_KNN_CELL_TARGET = 512
#: Learned-cell count ceiling: 4096 x dim doubles is the upper end of
#: what the Arrow assignment tier was probed at (SCALE.md).
_IVF_KNN_CELLS_CAP = 4096


def ivf_cells_for(n_vectors: int | None, floor: int = 8,
                  target: int = _IVF_KNN_CELL_TARGET) -> int:
    """Data-sized IVF cell count: enough learned cells that expected
    occupancy stays ~``target`` (floored at the oracle-gated queries'
    pinned 8, capped at the probed Arrow-tier ceiling)."""
    if not n_vectors or n_vectors <= floor * target:
        return floor
    return min(_IVF_KNN_CELLS_CAP, max(floor, n_vectors // target))


def ann_ivf_knn_self(corpus: DataFrame, k: int = 5, *,
                     n_cells: int | None = None, nprobe: int | None = None,
                     iters: int = 2,
                     n_vectors: int | None = None) -> DataFrame:
    """Approximate k-NN of EVERY corpus vector against the corpus via
    LEARNED IVF cells — the corpus-scale kNN-self shape for embedding
    spaces whose neighbors are geometric clusters, not hyperplane-sign
    patterns.

    Chosen over ``ann_lsh_knn_self`` for the scale path by MEASUREMENT
    (r11, knn_recall_probe.py, last in commit 9bc81c2): this corpus's
    true 5-NN sit at cosine ~0.42 (65°, s=0.64), where hyperplane
    collision probability s^p collapses — the sized+capped LSH self
    measured recall@5 = 0.08 at x10 while IVF probing reached ~4x the
    recall at the same candidate budget (data-learned cells follow the
    actual cluster structure; random hyperplanes cannot).  The
    oracle-gated registry queries keep the pinned LSH form.

    Plan: centroids are learned driver-side (``ivf_centroid_list`` —
    deterministic, k x dim, the ``ml.clustering.KMeans`` contract), the
    build side takes each vector's ONE nearest cell, the query side its
    ``nprobe`` nearest (both MAP-ONLY against inlined/Arrow-tier
    centroid literals), and one cell equi-join produces candidates —
    nprobe * occupancy per query, linear when ``n_cells`` grows with
    the corpus (``ivf_cells_for``; callers pass a parquet footer
    count).  A (query, neighbor) pair can appear at most once — the
    build vector lives in exactly one cell — so no distinct pass is
    needed (the LSH form pays one).  Output schema matches
    ``topk_cosine_bruteforce`` so recall is directly measurable."""
    if n_cells is None:
        n_cells = ivf_cells_for(n_vectors)
    if nprobe is None:
        # FIXED probe count, deliberately: candidates per query =
        # nprobe * occupancy stays constant, total work linear.  A
        # probed-cell FRACTION would hold recall steady across decades
        # (measured: 0.46 vs 0.33 at x100) but its candidates are
        # nprobe*occ = n/const per query — total n²/const, the exact
        # quadratic this operator exists to avoid (the first draft made
        # that mistake and ground >20 min at x100).  On this synthetic
        # near-isotropic fixture (true 5-NN at cosine ~0.42) recall
        # decays with scale at fixed candidates — an information limit,
        # not a plan defect; real embedding corpora cluster, and cells
        # track those clusters.  Raise nprobe per recall target when
        # the corpus supports it.
        nprobe = 8
    if nprobe >= n_cells and n_vectors is None:
        # r11 ADVICE: with the floor cell count (and default nprobe=8)
        # every query probes EVERY cell — candidate scoring silently
        # degrades to exact n² on a large corpus passed without
        # n_vectors.  Warn loudly rather than clamp: results stay
        # bit-stable for existing callers (probing all cells is exact,
        # correct at fixture scale), but the scale contract — pass
        # n_vectors (a parquet footer count) or a data-sized n_cells —
        # is now audible instead of a silent quadratic.
        logger.warning(
            "ann_ivf_knn_self: nprobe=%d >= n_cells=%d with n_vectors "
            "unknown — every query probes every cell (exact n^2 "
            "candidate scoring). Pass n_vectors (parquet footer count) "
            "or a data-sized n_cells for the linear scale path.",
            nprobe, n_cells)
    cents = ivf_centroid_list(corpus, n_cells=n_cells, iters=iters)
    build = _assign_cells(_side(corpus, "neighbor"), cents, "neighbor_id",
                          "c_emb", nprobe=1)
    query = _assign_cells(_side(corpus, "query"), cents, "query_id",
                          "q_emb", nprobe=nprobe)
    # Expected candidate volume = nprobe * occupancy per query: past
    # CELLPAIRS_MIN_CANDIDATES the scoring runs per CELL — with
    # n_vectors unknown the estimate stays 0 and every oracle-gated
    # caller keeps the audited join+fold plan.
    est_cand = (nprobe * n_vectors * n_vectors // max(n_cells, 1)
                if n_vectors else 0)
    if est_cand >= CELLPAIRS_MIN_CANDIDATES:
        scored = _cellpair_knn_scores(query, build, len(cents[0][1]), k)
    else:
        scored = _fold_scores(
            query.join(build, "cell")
            .filter(F.col("query_id") != F.col("neighbor_id")))
    return _rank_topk(scored, k)


def semantic_dedup_pairs(corpus: DataFrame, threshold: float,
                         n_cells: int | None = 8, iters: int = 2,
                         n_vectors: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs found by
    clustering the embedding space and comparing ONLY within each
    cluster — the trick that makes embedding dedup tractable at corpus
    scale (pairwise work drops from n² to Σ|cell|²; cells are balanced
    by k-means, and at 100 TB the corpus is written bucketed by cell so
    the within-cell self-join is shuffle-free on re-use).

    Training reuses the deterministic learned quantizer
    (:func:`ivf_centroid_list`, seeded + fixed iterations) so a SQL
    oracle replays the exact run; assignment is 1-nearest-cell.  Emits
    (vec_a < vec_b, shared cell, cosine) for pairs at or above
    ``threshold`` — survivor selection (keep min id per near-dup
    cluster) composes downstream exactly as for MinHash pairs.

    ``n_cells=None`` sizes the cell count from ``n_vectors`` via
    :func:`ivf_cells_for` (r12): with a FIXED cell count Σ|cell|² is
    n²/k — quadratic in the corpus — while cells that grow with the
    corpus hold expected occupancy (and so per-cell pair work)
    constant, making Σ|cell|² ≈ occupancy · n.  The oracle-gated
    registry query keeps its pinned 8 cells on the bounded corpus; the
    bench's unbounded full-table head passes the parquet footer
    count."""
    if n_cells is None:
        n_cells = ivf_cells_for(n_vectors)
    cents = ivf_centroid_list(corpus, n_cells=n_cells, iters=iters)
    assigned = _assign_cells(
        corpus.select("vec_id", "embedding"), cents,
        "vec_id", "embedding", nprobe=1)
    # Expected within-cell pair volume is Σ|cell|²/2 ≈ n²/(2k): past
    # CELLPAIRS_MIN_CANDIDATES the pairwise scoring runs per CELL — the
    # oracle-gated head passes n_vectors=None, keeps est 0, and stays on
    # its audited JVM-only join+fold plan.
    est_pairs = (n_vectors * n_vectors // (2 * max(n_cells, 1))
                 if n_vectors else 0)
    if est_pairs >= CELLPAIRS_MIN_CANDIDATES:
        pairs = _cellpair_semantic_scores(
            assigned.select("vec_id", "embedding",
                            l2_norm(F.col("embedding")).alias("nv"),
                            "cell"),
            len(cents[0][1]), threshold)
        return (pairs.filter(F.col("cs") >= threshold)
                .select("vec_a", "vec_b", "cell",
                        F.round("cs", 6).alias("cosine_sim")))
    a = assigned.select(F.col("vec_id").alias("vec_a"),
                        F.col("embedding").alias("va"),
                        l2_norm(F.col("embedding")).alias("nva"), "cell")
    b = assigned.select(F.col("vec_id").alias("vec_b"),
                        F.col("embedding").alias("vb"),
                        l2_norm(F.col("embedding")).alias("nvb"), "cell")
    return (a.join(b, "cell")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .withColumn("cs", cosine_prenorm(
                F.col("va"), F.col("vb"), F.col("nva"), F.col("nvb")))
            .filter(F.col("cs") >= threshold)
            .select("vec_a", "vec_b", "cell",
                    F.round("cs", 6).alias("cosine_sim")))
