"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.G):
exact, n-gram Jaccard, MinHash+LSH, SimHash — each as a pure DataFrame
plan with deterministic cross-engine hashing (functions/hashing.py) so
the driver's DuckDB oracle can verify them value-for-value.

Scale design (the 100 TB story):

* exact: hash-groupBy on a 128-bit digest, never on raw text — the shuffle
  carries 16-byte keys, not documents.
* jaccard: exact pairwise similarity via shingle equi-join.  Correct but
  quadratic in shingle document-frequency; at scale it runs only AFTER a
  candidate generator (MinHash bands) or behind a stop-shingle filter.
* minhash_lsh: the scale path.  Signature build is one explode + one
  groupBy (k min-aggregates, map-side combinable); banding turns the
  quadratic pair search into an equi-join on (band_idx, band_hash), whose
  output is proportional to true-ish matches, not n^2.
* simhash: one 64-bit fingerprint per doc; near-dup = Hamming<=d.  Bit
  aggregation is k sum-aggregates; pair search joins on rotated prefix
  buckets (here: direct join at test scale).

Every stream a self-join reads twice goes through
``_shared.materialize_shared``; the ``MATERIALIZE_CONF`` session conf
alone picks its lazy-persist or eager path.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.functions.hashing import (
    MERSENNE_P, md5_long, minhash_coeffs,
)
from ab_metadata_pusher_spark.operators._shared import (
    MATERIALIZE_CONF,
    fixpoint,
    hash_build_guard,
    materialize_shared as _materialize_shared,
    release_materialized,
)
from ab_metadata_pusher_spark.operators.text import shingle_array, tokens

__all__ = [
    "exact_dedup_keep_min", "doc_shingles", "jaccard_pairs",
    "containment_pairs", "minhash_signatures", "lsh_bands",
    "lsh_candidate_pairs",
    "simhash", "simhash_pairs",
    "star_edges", "connected_components", "cluster_labels",
    "hamming_pairs", "ppjoin_pairs", "edit_distance_pairs",
    "MATERIALIZE_CONF", "release_materialized",
]


def cluster_labels(keys: DataFrame, key_cols: list[str],
                   id_col: str = "doc_id",
                   shuffle_partitions: int | None = None) -> DataFrame:
    """Connected-component cluster ids from one or more key families.

    Persists ``keys`` for the duration — each key family reads it twice
    (group roots + member join), and without the cache the upstream key
    extraction (md5 over every shingle) would replay once per read.
    Per-family edge lists are deduplicated once, inside
    :func:`connected_components`, not per family.

    ``shuffle_partitions`` passes through to the propagation loop: size
    it to the label-frame CARDINALITY (~rows/1e6), not CPU count —
    near-empty partitions cost per-iteration scheduling, not speed.
    """
    keys.persist()
    edges = None
    for kc in key_cols:
        fam = star_edges(keys.select(id_col, kc).filter(
            F.col(kc).isNotNull()), kc, id_col)
        edges = fam if edges is None else edges.unionByName(fam)
    try:
        return connected_components(
            keys.select(F.col(id_col).alias("id")), edges,
            shuffle_partitions=shuffle_partitions)
    finally:
        keys.unpersist()


def star_edges(keys: DataFrame, key_col: str,
               id_col: str = "doc_id") -> DataFrame:
    """Key-group star edges: every member links to the group's min id.

    The linear-size alternative to the O(group^2) self-join clique —
    identical connectivity, so connected components over star edges equal
    components over the full pairwise graph.  One map-side-combinable
    groupBy + one equi-join per key family.
    """
    roots = keys.groupBy(key_col).agg(F.min(id_col).alias("src"))
    return (keys.join(roots, key_col)
            .select("src", F.col(id_col).alias("dst"))
            .filter(F.col("src") != F.col("dst")))


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 15,
                         shuffle_partitions: int | None = None) -> DataFrame:
    """Min-label propagation ("hash-to-min") connected components.

    ``vertices``: one column ``id``.  ``edges``: ``src``/``dst``
    (undirected; both orientations derived here).  PRECONDITION: every
    edge endpoint must appear in ``vertices`` — the fused first round
    projects the edge list directly, so a foreign endpoint would inject
    its id into the label frame and output (the pre-r13 identity-label
    join silently dropped such edges instead).  Every in-repo caller
    derives ``edges`` from the same frame as ``vertices``
    (:func:`star_edges` in :func:`cluster_labels`), which satisfies
    this by construction.  Each iteration is one
    shuffle — join labels onto edges, union, groupBy-min — and the
    iteration count is the graph diameter, which for dedup graphs (star
    edges around key groups) is a small constant.  Convergence is detected
    by the (monotonically decreasing) sum of labels going stable; that
    sum is the :func:`fixpoint` probe, which materializes each round's
    lineage cut, so plan lineage stays bounded at one job per round.
    Label frames carry two longs per vertex, so the shuffle is narrow
    regardless of document size.

    ``shuffle_partitions`` (optional) pins the shuffle width for the
    loop's lifetime: like streaming state stores, the label frame should
    be partitioned by its CARDINALITY, not by CPU count — a metadata
    graph's label frame is thousands of rows, and 32 near-empty
    partitions cost more per iteration than they parallelize (same
    measurement as streaming/events.py run_to_memory).  Size it to
    ~label_rows / 1e6 partitions on a real cluster.

    The symmetrized edge cache is released on return and on a failing
    round alike; superseded checkpoint blocks (one narrow frame per
    round) are reclaimed by the ContextCleaner on driver GC.
    """
    both = (edges.select("src", "dst")
            .unionByName(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
            .distinct())
    # The edge list is re-joined every iteration; without caching, each
    # iteration (and the final consumer) would replay the full upstream
    # key-extraction lineage (fingerprint hashing etc.) — measured 10.6s
    # -> 1.5s at sf0.1 with the cache.
    both.persist()

    def step(labels: DataFrame, i: int) -> DataFrame:
        if i == 0:
            # Fused first round (r13): the initial labels are the
            # identity map label(v) = v, so the propagation join
            # contributes exactly one (dst, src) row per symmetrized
            # edge — project the edge list directly instead of joining
            # a |V|-row build side onto it.
            prop = both.select(F.col("dst").alias("id"),
                               F.col("src").alias("label"))
        else:
            prop = (both.alias("e")
                    .join(labels.alias("l"),
                          F.col("e.src") == F.col("l.id"))
                    .select(F.col("e.dst").alias("id"), F.col("l.label")))
        return (prop.unionByName(labels)
                .groupBy("id").agg(F.min("label").alias("label")))

    try:  # the last probe materialized the labels: the cache can go
        return fixpoint(
            vertices.select(F.col("id"), F.col("id").alias("label")), step,
            rounds=max_iter,
            probe=lambda labels: labels.agg(F.sum("label")).collect()[0][0],
            until=operator.eq, width=shuffle_partitions)
    finally:
        both.unpersist()


def exact_dedup_keep_min(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Exact dedup with deterministic survivor choice: group by content
    digest, keep the minimum id.  (dropDuplicates keeps an *arbitrary* row —
    unacceptable for reproducible corpus builds.)"""
    return (
        df.select(F.col(id_col),
                  F.md5(F.col(text_col).cast("binary")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("kept_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def doc_shingles(df: DataFrame, n: int = 3, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Distinct (id, shingle) pairs — the input relation for both Jaccard
    and MinHash.

    Distinctness is PER DOCUMENT (ids are unique), so it is enforced
    in-row with ``array_distinct`` before the explode — zero shuffle.
    The previous ``.distinct()`` after the explode exchanged the entire
    corpus-sized shingle stream to dedupe pairs that can only collide
    within one row; dropping it removes one full-stream exchange from
    every consumer (Jaccard, MinHash, containment, novelty,
    decontamination)."""
    return df.select(
        F.col(id_col).alias("sid"),
        F.explode(F.array_distinct(shingle_array(tokens(text_col), n)))
         .alias("shingle"))


def _gated_shingles(df: DataFrame, n: int, max_df: int | None) -> DataFrame:
    """(sid, shingle) — the df-gated stream WITHOUT the per-doc size
    column (r13): the df gate's window partitions by ``shingle``, so
    the gated stream leaves this helper hash-partitioned by exactly
    the self-join key of :func:`jaccard_pairs` /
    :func:`containment_pairs` — the join sides then need no exchange
    (``localCheckpoint`` and ``persist`` both preserve the
    partitioning).  Per-doc sizes are a separate |docs|-row aggregate
    the callers attach to the aggregated PAIRS; keeping the old
    sid-keyed size window here would re-exchange the whole stream by
    sid and throw that alignment away.  :func:`_kept_shingles` keeps
    the size-carrying shape for :func:`lsh_verified_pairs`, whose
    first verify join is sid-keyed."""
    from pyspark.sql import Window

    sh = doc_shingles(df, n)
    if max_df is not None:
        sh = (sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
            .filter(F.col("df") <= max_df)
            .drop("df"))
    return _materialize_shared(sh)


def _kept_shingles(df: DataFrame, n: int, max_df: int | None) -> DataFrame:
    """(sid, shingle, n_sh) — the df-gated shingle stream with each
    doc's kept-set size attached, MATERIALIZED once via
    :func:`~ab_metadata_pusher_spark.operators._shared.materialize_shared`
    (default: lazy persist — no job at construction; release via
    :func:`release_materialized`, cache-manager entries are not freed
    on plan GC).

    The df gate and the per-doc size are window counts over the single
    exploded stream (no groupBy frames joined back), and the
    materialization is what lets the Jaccard/containment self-joins
    reference the stream twice without Catalyst rebuilding the whole
    explode + window pipeline per alias (no subplan sharing, and AQE's
    broadcast conversion defeats ReusedExchange on the fixture sizes)."""
    from pyspark.sql import Window

    sh = doc_shingles(df, n)
    if max_df is not None:
        sh = (sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
            .filter(F.col("df") <= max_df))
    kept = (sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("sid")))
        .select("sid", "shingle", "n_sh"))
    return _materialize_shared(kept)


def jaccard_pairs(df: DataFrame, threshold: float, n: int = 3,
                  max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (sid_a < sid_b, sim >= t).

    shingles equi-join -> per-pair intersection count -> sizes join ->
    |A∩B| / (|A|+|B|-|A∩B|).  Output columns: sid_a, sid_b, jaccard.

    ``max_df`` drops stop-shingles (document frequency > max_df) BEFORE
    the self-join; sizes count only kept shingles, so the result is exact
    Jaccard over the informative-shingle sets.  The self-join's output is
    Σ df² over kept shingles ≤ max_df · Σ df — LINEAR in corpus size for
    constant max_df, vs quadratic in the df of the worst boilerplate
    shingle ungated.  Leave None only for bounded inputs; for open-corpus
    scale prefer lsh_verified_pairs (candidates-then-verify).

    Precondition: ``id_col`` values are UNIQUE (one row per document).
    Shingle distinctness is enforced IN-ROW (``array_distinct``), so a
    frame with duplicate rows per id (e.g. a union'd corpus) silently
    inflates n_inter/n_sh and the scores — run
    :func:`exact_dedup_keep_min` (or ``dropDuplicates``) first.

    Single-pass, single-build formulation (r5): the df gate and the
    per-doc set size are WINDOW counts on the one shingle stream (the
    r4 containment repair), and that stream is then materialized ONCE
    via :func:`_materialize_shared` (default lazy persist: no job at
    construction, blocks on first action, released via
    :func:`release_materialized`; the ``MATERIALIZE_CONF`` session conf
    selects eager / persist) — Catalyst does
    not share subplans and plans no ReusedExchange across the
    self-join's sides, so the unmaterialized form rebuilt the entire
    shingle pipeline per alias (audited: the corpus scanned once per
    reference).  Both join sides and the size columns read one
    materialized stream; at corpus scale one materialization replaces
    two full recomputes.
    """
    sh = _gated_shingles(df, n, max_df)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    # SHUFFLE_HASH on the build alias: sort-merge would sort BOTH
    # ~|Σ shingles|-row sides by the fat string key before emitting the
    # Σ df² candidate rows, and those sorts spill at scale — the r10
    # multi-decade study measured the identical containment join at
    # 99.9 s SMJ vs 36.6 s shuffle-hash on the x100 replicas, outputs
    # hash-equal (/tmp probe recorded in SCALE.md round-10).  Hash join
    # streams the probe side; the per-task build is the kept-shingle
    # slice, which shrinks with shuffle width on a real cluster.
    # WIDTH ASSUMPTION: unlike SMJ the hash build cannot spill — the
    # deployment's shuffle width must keep |kept shingles|/width within
    # a task (session.py documents this next to the default width;
    # hash_build_guard applies the hint and, past its per-task budget,
    # warns and drops it for the spillable sort-merge).
    b = hash_build_guard(sh, "jaccard_pairs kept-shingle build") \
        .alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("sid_a"), F.col("b.sid").alias("sid_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # Sizes attach to the AGGREGATED pairs (output-scale), not to every
    # shingle row before the join (r13): the per-doc size used to be a
    # second full-stream window (an exchange by sid) carried through the
    # self-join; as a |docs|-row aggregate off the same materialized
    # stream it joins the few surviving pairs instead — and without the
    # sid-keyed window the gated stream stays hash-partitioned by
    # shingle, which is exactly the self-join's key, so the join sides
    # need no exchange at all.
    return (
        inter
        .join(sizes.select(F.col("sid").alias("sid_a"),
                           F.col("n_sh").alias("na")), "sid_a")
        .join(sizes.select(F.col("sid").alias("sid_b"),
                           F.col("n_sh").alias("nb")), "sid_b")
        .withColumn("jaccard",
                    F.round(F.col("n_inter")
                            / (F.col("na") + F.col("nb") - F.col("n_inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("sid_a", "sid_b", "jaccard")
    )


def containment_pairs(df: DataFrame, threshold: float, n: int = 3,
                      max_df: int = 100) -> DataFrame:
    """Shingle-containment near-dup pairs: C = |A∩B| / min(|A|, |B|).

    Catches SUBSET duplication — a short document embedded inside a long
    one — which both Jaccard (|A∩B|/|A∪B| stays small) and MinHash (it
    approximates Jaccard) systematically miss; containment is the
    measure CCNet-style pipelines use for quote/boilerplate inclusion.

    Candidates come from the same df-gated shingle equi-join as
    :func:`jaccard_pairs` (stop-shingles dropped first, join output ≤
    max_df · Σdf — linear in corpus), scored by intersection over the
    SMALLER shingle set.  Output: sid_a, sid_b, containment (>= t).

    Precondition: unique ``doc_id`` per row (shingle distinctness is
    in-row; duplicate ids inflate the counts — see
    :func:`jaccard_pairs`).  Materialization contract: shared shingle
    stream via :func:`_materialize_shared`, default lazy.
    """
    # Single-pass + single-build: window-count df gate and per-doc size
    # on one shingle stream, materialized once (_kept_shingles) so the
    # candidate self-join's two aliases don't each rebuild the explode
    # + window pipeline (Catalyst shares no subplans).  The counts —
    # hence scores — are identical to the lazy form.
    kept = _gated_shingles(df, n, max_df)
    sizes = kept.groupBy("sid").agg(F.count(F.lit(1)).alias("n_sh"))
    # shuffle-hash for the same reason as jaccard_pairs (same join):
    # the r10 x100 A/B — 99.9 s SMJ vs 36.6 s hash, outputs equal
    a = kept.alias("a")
    b = hash_build_guard(kept, "containment_pairs kept-shingle build") \
        .alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("sid_a"), F.col("b.sid").alias("sid_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
        # sizes attach to the aggregated pairs, not per shingle row —
        # see jaccard_pairs (r13): removes the sid-keyed window exchange
        # and leaves the stream shingle-partitioned for the self-join
        .join(sizes.select(F.col("sid").alias("sid_a"),
                           F.col("n_sh").alias("na")), "sid_a")
        .join(sizes.select(F.col("sid").alias("sid_b"),
                           F.col("n_sh").alias("nb")), "sid_b"))
    d = F.least("na", "nb")
    # 4-decimal score via half-up INTEGER division — engine-exact where
    # round(double, 4) can straddle a half boundary (see function_queries
    # map_higher_order_funcs for the same discipline).
    score = F.floor((F.col("n_inter") * 20000 + d) / (d * 2)) / 10000.0
    return (inter.withColumn("containment", score)
            .filter(F.col("containment") >= threshold)
            .select("sid_a", "sid_b", "containment"))


def minhash_signatures(df: DataFrame, k: int = 16, n: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """k-permutation MinHash signatures: sid, h0..h{k-1}.

    Per-doc shingle dedup happens IN-ROW (``array_distinct`` before the
    explode), so the global distinct's corpus-wide shingle shuffle is
    gone — the one remaining shuffle is the groupBy with k min-aggregates
    (map-side combinable, k longs per doc).  The md5 + affine transforms
    run on the exploded rows where whole-stage codegen applies; a fully
    array-native formulation (array_min over transform) was measured
    SLOWER — higher-order-function lambdas are interpreted per element,
    and 16 of them over every shingle cost more than the narrow groupBy
    they avoid (the opposite trade from :func:`simhash`, whose per-bit
    lambdas are cheap integer tests, not hashes).
    """
    sh = (df.select(
            F.col(id_col).alias("sid"),
            F.explode(F.array_distinct(
                shingle_array(tokens(text_col), n))).alias("shingle"))
          .withColumn("h", md5_long(F.col("shingle")) % MERSENNE_P))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P).alias(f"h{j}")
        for j, (a, b) in enumerate(minhash_coeffs(k))
    ]
    return sh.groupBy("sid").agg(*aggs)


def lsh_bands(df: DataFrame, k: int = 16, bands: int = 4,
              n: int = 3) -> DataFrame:
    """MinHash signatures folded into per-band hashes: (sid, band_idx,
    band_hash) — the joinable index form.  Shared by the self-join pair
    search (:func:`lsh_candidate_pairs`) and the incremental new-vs-index
    probe (plans/llm_queries.py dedup_incremental_minhash)."""
    rows_per_band = k // bands
    sig = minhash_signatures(df, k, n)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{j}") for j in range(b * rows_per_band,
                                              (b + 1) * rows_per_band)]
        band_cols.append(F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws("-", *[c.cast("string") for c in cols])
                  .cast("binary")).alias("band_hash")))
    return (sig.select("sid", F.explode(F.array(*band_cols)).alias("bd"))
            .select("sid", "bd.band_idx", "bd.band_hash"))


def lsh_candidate_pairs(df: DataFrame, k: int = 16, bands: int = 4,
                        n: int = 3) -> DataFrame:
    """LSH banding over MinHash signatures: docs agreeing on ALL rows of
    any band become a candidate pair (sid_a < sid_b).

    The pair search is an equi-join on (band_idx, band_hash) — at 100 TB
    this is the only join; its fan-out tracks true similarity, not n^2.
    """
    banded = lsh_bands(df, k, bands, n)
    # The self-join's two branches share the signature groupBy's exchange
    # (ReusedExchange), so the hashing pipeline runs once despite the
    # self-reference.
    a, b_ = banded.alias("a"), banded.alias("b")
    return (
        a.join(b_, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.sid") < F.col("b.sid")))
        .select(F.col("a.sid").alias("sid_a"), F.col("b.sid").alias("sid_b"))
        .distinct()
    )


def simhash(df: DataFrame, bits: int = 32, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """SimHash fingerprints: sid, simhash (bits-wide bigint).

    Distinct tokens vote +1/-1 per bit position of their 60-bit hash;
    the sign vector packs into one integer.  Computed as ONE projection
    with array higher-order functions — per-doc token dedup is
    ``array_distinct``, per-bit votes are ``filter``+``size`` over the
    in-row hash array — so fingerprinting is completely shuffle-free
    (the explode+distinct+groupBy formulation shuffles the token stream
    twice; this touches each document once, map-side).  Token-less
    documents are dropped, matching the exploded formulation.

    ``bits`` is capped at 60: ``md5_long`` yields a 60-bit hash, so
    positions 60+ would be always-zero vote bits, and bit 63's pack
    literal ``1 << 63`` overflows Spark's signed long at plan time.
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60] (md5_long is 60-bit; "
                         f"bit 63 overflows a signed long): got {bits}")
    hs = F.transform(F.array_distinct(tokens(text_col)),
                     lambda t: md5_long(t))
    base = (df.select(F.col(id_col).alias("sid"), hs.alias("hs"))
            .filter(F.size("hs") > 0))
    n = F.size("hs")

    def bit_set(j):
        # single-arg closure: a `j=j` default would make pyspark read the
        # lambda as the two-arg (element, index) form
        return lambda h: F.shiftright(h, j).bitwiseAND(1) == 1

    packed = None
    for j in range(bits):
        ones = F.size(F.filter("hs", bit_set(j)))
        # bit j set <=> vote sum (2*ones - n) > 0
        term = F.when(ones * 2 > n, F.lit(1 << j)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return base.select("sid", packed.cast("long").alias("simhash"))


def simhash_pairs(df: DataFrame, max_hamming: int = 6,
                  bits: int = 32) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance (sid_a < sid_b).

    Blocked, not all-pairs (Manku et al., WWW'07): the fingerprint splits
    into ``max_hamming + 1`` disjoint bit-blocks; a pair within the
    Hamming budget must agree EXACTLY on at least one block (pigeonhole),
    so candidates come from per-block equi-joins and only candidates pay
    the XOR/bit_count verify.  Output is identical to the all-pairs
    formulation — blocking is lossless — but the plan is a shuffled
    equi-join on (block_idx, block_value), never a BroadcastNestedLoop.

    Scale: per-block bucket fan-out is ~n²/2^w for block width
    w = bits/(max_hamming+1); at corpus scale use bits=60 — the widest
    the 60-bit ``md5_long`` supports (w≈8.5 at hamming 6) — or tighten
    max_hamming so buckets stay small.
    """
    return hamming_pairs(simhash(df, bits), "simhash",
                         max_hamming=max_hamming, bits=bits)


def hamming_pairs(hashes: DataFrame, hash_col: str, max_hamming: int,
                  bits: int, id_col: str = "sid") -> DataFrame:
    """Generic lossless pigeonhole Hamming join over ANY integer
    fingerprint column (SimHash, image pHash, audio fingerprints):
    (id_a, id_b, hamming) for all pairs within ``max_hamming``.

    Same Manku-style blocking as simhash_pairs (which delegates here);
    ``shiftrightunsigned`` keeps block extraction correct even for
    full-64-bit fingerprints whose sign bit is set.

    Materialization contract: the blocking index is shared by both
    self-join sides via :func:`_materialize_shared` (default lazy — no
    job at construction; see ``MATERIALIZE_CONF`` for the eager /
    persist modes).
    """
    nb = max_hamming + 1
    bounds = [round(j * bits / nb) for j in range(nb + 1)]
    blocks = F.array(*[
        F.struct(
            F.lit(j).alias("blk"),
            F.shiftrightunsigned(F.col(hash_col), bounds[j])
             .bitwiseAND(F.lit((1 << (bounds[j + 1] - bounds[j])) - 1))
             .alias("val"))
        for j in range(nb)])
    # Both self-join sides reference the keyed stream; materialize it
    # once so the fingerprint pipeline upstream (SimHash fold, pHash
    # decode, audio hash — whatever produced ``hashes``) doesn't run
    # per alias (Catalyst shares no subplans).  The stream is corpus ×
    # (max_hamming+1) narrow rows — the blocking index itself.
    keyed_build = (hashes.select(F.col(id_col).alias("sid"),
                                 F.col(hash_col).alias("h"),
                                 F.explode(blocks).alias("b"))
                   .select("sid", "h", F.col("b.blk").alias("blk"),
                           F.col("b.val").alias("val")))
    keyed = _materialize_shared(keyed_build)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.sid") < F.col("b.sid")))
        .select(F.col("a.sid").alias("sid_a"), F.col("b.sid").alias("sid_b"),
                F.col("a.h").alias("ha"), F.col("b.h").alias("hb"))
        .distinct())
    return (
        cand.withColumn("hamming", F.bit_count(
            F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("sid_a", "sid_b", "hamming")
    )


def duplicated_spans(df: DataFrame, w: int = 10, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_df: int | None = None) -> DataFrame:
    """Exact substring-duplication spans at w-token-window granularity —
    the distributed approximation of suffix-array exact-substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every w-token window whose exact text occurs more than
    once in the corpus is a removable span, reported per occurrence as
    (doc_id, start_tok) so a downstream pass can cut or mask it.

    Plan shape: windows are built IN-ROW (a ``transform`` over the
    position sequence + ``slice`` + md5 — zero shuffle, whole-stage
    codegen).  With ``max_df=None`` duplicate detection + occurrence
    re-emit is ONE window count partitioned by the 16-byte hash — a
    single exchange of one 16-byte key per token per document (the
    groupBy + re-join formulation shuffles the window stream twice and
    builds it twice; measured ~2x slower).  Linear in corpus size,
    never pairwise.  Documents shorter than ``w`` tokens contain no
    window and drop out, as in the reference algorithm.

    ``max_df`` is the boilerplate gate for open corpora (same contract
    as ``jaccard_pairs``): windows duplicated more than ``max_df`` times
    are licenses/headers, not content worth span-level reporting, and
    their occurrences are what skews the hash partitioning.  When set,
    the plan switches to groupBy (map-side-combined counts — no hot
    single-partition sort) + a filtered dup table joined back, so
    boilerplate keys are dropped BEFORE the occurrence shuffle — the
    window-count form cannot prune them until after the skewed
    exchange.  At 100 TB set ``max_df`` and raise ``w``.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.when(n >= w, F.sequence(F.lit(1), n - (w - 1))) \
              .otherwise(F.array().cast("array<int>"))
    wins = (df.select(
        F.col(id_col),
        F.explode(F.transform(starts, lambda i: F.struct(
            i.cast("bigint").alias("start_tok"),
            F.md5(F.concat_ws(" ", F.slice(toks, i, w)).cast("binary"))
             .alias("window_md5")))).alias("win"))
        .select(id_col, "win.start_tok", "win.window_md5"))
    if max_df is None:
        w_cnt = Window.partitionBy("window_md5")
        return (wins
                .withColumn("n_dup", F.count(F.lit(1)).over(w_cnt))
                .filter(F.col("n_dup") > 1)
                .select(id_col, "start_tok", "window_md5", "n_dup"))
    dups = (wins.groupBy("window_md5")
            .agg(F.count(F.lit(1)).alias("n_dup"))
            .filter((F.col("n_dup") > 1) & (F.col("n_dup") <= max_df)))
    return wins.join(dups, "window_md5") \
               .select(id_col, "start_tok", "window_md5", "n_dup")


def lsh_verified_pairs(df: DataFrame, threshold: float,
                       k: int = 16, bands: int = 4, n: int = 3) -> DataFrame:
    """Candidate-then-verify near-dup pipeline: LSH banding proposes
    pairs, exact n-gram Jaccard is computed ONLY on those pairs — the
    production shape (LSH alone over-generates, exact-all-pairs is n²).

    Scale: the verify intersection joins shingles restricted through the
    candidate list, so its cost is sum over candidate pairs of |A|
    shingles — proportional to true near-dup density, never corpus².
    Output: sid_a, sid_b, jaccard (>= threshold).

    Precondition: unique ``doc_id`` per row (see :func:`jaccard_pairs`).
    Materialization contract: the shared verify stream goes through
    :func:`_materialize_shared` (default lazy — no construction-time
    job; ``MATERIALIZE_CONF`` for the other modes).
    """
    cand = lsh_candidate_pairs(df, k, bands, n)
    # One materialized (sid, shingle, n_sh) stream serves both verify
    # sides AND the size columns (carried through the joins, min() just
    # propagates the per-sid constant) — the lazy form re-ran the
    # shingling per reference: 4 corpus rebuilds for the verify stage.
    kept = _kept_shingles(df, n, None)
    expanded = cand.join(
        kept.select(F.col("sid").alias("sid_a"), "shingle",
                    F.col("n_sh").alias("na")), "sid_a")
    inter = (expanded.join(
        kept.select(F.col("sid").alias("sid_b"), "shingle",
                    F.col("n_sh").alias("nb")),
        ["sid_b", "shingle"])
        .groupBy("sid_a", "sid_b")
        .agg(F.count(F.lit(1)).alias("n_inter"),
             F.min("na").alias("na"), F.min("nb").alias("nb")))
    return (inter
            .withColumn("jaccard",
                        F.round(F.col("n_inter")
                                / (F.col("na") + F.col("nb")
                                   - F.col("n_inter")), 4))
            .filter(F.col("jaccard") >= threshold)
            .select("sid_a", "sid_b", "jaccard"))


def ppjoin_pairs(df: DataFrame, threshold: float, n: int = 3,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (PPJoin-lite, Xiao et
    al., WWW'08) — lossless, unlike the df-gate, and candidate-bounded,
    unlike the all-pairs join.

    Every document's shingle set is ordered by ascending global document
    frequency (rarest first, ties by shingle).  For Jaccard >= t, two
    sets must share at least one shingle among each one's first
    ``|x| - ceil(t*|x|) + 1`` shingles in that order (prefix-filter
    principle: fewer than that, and even perfect overlap on the
    remainder cannot reach t).  So candidates come from an equi-join of
    PREFIXES only — the join stream carries the few rarest shingles per
    doc instead of all of them, and boilerplate shingles (high df) sort
    to the back and never generate candidates.  Each candidate is then
    verified exactly with an in-row ``array_intersect`` of the two full
    sorted shingle arrays.

    Plan: shingles (1 distinct shuffle) -> df counts (vocab-sized,
    map-side combined) -> df joined back (broadcast while the vocab
    fits, shuffle join past that) -> one groupBy(sid) building the
    sorted array -> prefix explode -> candidate equi-join on shingle ->
    verify join against the (sid -> array) table.  Output is identical
    to jaccard_pairs(max_df=None); the candidate volume is sum over
    prefix shingles of df_prefix^2, which threshold t keeps near-linear
    on real corpora.

    Materialization contract: the (sid -> df-sorted shingle array)
    table is shared by three consumers via :func:`_materialize_shared`
    (default lazy — no job at construction; see ``MATERIALIZE_CONF``).
    """
    sh = doc_shingles(df, n, text_col, id_col)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # No explicit broadcast hint: dfreq is VOCABULARY-sized, which at
    # corpus scale exceeds executor memory.  Leaving the strategy to
    # AQE/autoBroadcastJoinThreshold gets the broadcast for free while
    # the vocab fits and degrades to a shuffle join (not an OOM) past it.
    # The (sid -> df-sorted shingle array) table feeds THREE consumers
    # (prefix explode + both verify sides); materialize it once — the
    # lazy form rebuilt shingling + df-join + groupBy per reference
    # (audited: 24 corpus scans -> 2).
    docs_arr_build = (sh.join(dfreq, "shingle")
                      .groupBy("sid")
                      .agg(F.sort_array(F.collect_list(
                          F.struct("df", "shingle"))).alias("sorted_sh")))
    docs_arr = _materialize_shared(docs_arr_build)
    n_sh = F.size("sorted_sh")
    prefix_len = n_sh - F.ceil(F.lit(threshold) * n_sh).cast("int") + 1
    prefix = (docs_arr.select(
        "sid", F.explode(F.slice("sorted_sh", 1, prefix_len)).alias("p"))
        .select("sid", F.col("p.shingle").alias("shingle")))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.sid") < F.col("b.sid")))
            .select(F.col("a.sid").alias("sid_a"),
                    F.col("b.sid").alias("sid_b"))
            .distinct())
    sets = docs_arr.select(
        "sid",
        F.transform("sorted_sh", lambda s: s["shingle"]).alias("sh_set"))
    verified = (cand
                .join(sets.select(F.col("sid").alias("sid_a"),
                                  F.col("sh_set").alias("sa")), "sid_a")
                .join(sets.select(F.col("sid").alias("sid_b"),
                                  F.col("sh_set").alias("sb")), "sid_b")
                .withColumn("n_inter",
                            F.size(F.array_intersect("sa", "sb")))
                .withColumn("jaccard", F.round(
                    F.col("n_inter")
                    / (F.size("sa") + F.size("sb") - F.col("n_inter")), 4))
                .filter(F.col("jaccard") >= threshold))
    return verified.select("sid_a", "sid_b", "jaccard")


def edit_distance_pairs(df: DataFrame, tau: int = 2,
                        text_col: str = "text", id_col: str = "doc_id",
                        block_col: str | None = None) -> DataFrame:
    """All pairs within Levenshtein distance ``tau`` — VALUE-COMPRESSED
    PassJoin pigeonhole blocking (Li, Deng & Feng, ICDE'11), never an
    all-pairs comparison.

    Two scale ideas compose:

    1. **Value compression.**  The pairwise problem is solved over the
       DISTINCT (block, text) values, not over rows: real corpora carry
       heavy value multiplicity (the sf fixtures have ~30-300 copies per
       part name), and every copy of value v pairs with every copy of w
       whenever (v, w) pair — comparing per-row would repeat identical
       levenshtein work m_v·m_w times AND square the candidate join's
       collision groups.  One groupBy builds the only shuffled state:
       a (block, text) -> sorted-id-array group table; every later
       stage (segment index, probe keys, verification, expansion) is
       map-side over it.  Row multiplicity re-enters ONLY in the final
       in-row explode, whose size is the OUTPUT size — irreducible,
       because the contract enumerates id pairs.

    2. **Pigeonhole candidates.**  Over the distinct values, each string
       splits into K = tau+1 contiguous segments.  If lev(a, b) <= tau,
       the <= tau edits damage at most tau of b's K segments, so at
       least one segment of b survives VERBATIM in a, starting within
       ±tau of its home position (each edit shifts the alignment by at
       most one).  Candidates therefore come from an EQUI-JOIN: the
       index side emits its K segments keyed by (segment index, own
       length, segment text); the probe side emits, for every target
       length within ±tau of its own and every shift in [-tau, +tau],
       the aligned substring — K·(2tau+1)² keys per value (75 for
       tau=2; duplicate keys are NOT pre-deduped — they only repeat
       candidate pairs, which the value-pair dropDuplicates removes).
       The candidate shuffle is O(#distinct values); collision groups
       are sized by aligned-segment sharing — near-dup density on
       typical corpora, though a shared-AFFIX corpus (every value
       opening with the same boilerplate third) inflates candidates
       toward per-key d²; if that is your data, lengthen the shared
       region's segment count (higher tau partitioning) or add a
       discriminating ``block_col``.  Exact ``levenshtein`` verifies
       INLINE on the joined row (the value keys ARE the texts — no
       verify join), before the pair distinct so the distinct only
       carries true pairs.

    This replaces equality blocking (e.g. on a brand/domain column)
    whose block size GROWS with the corpus: (n/blocks)² per block is
    quadratic at scale (measured: exponent 1.46 on the sf fixtures),
    while segment keys sharpen as values diversify.  An optional coarse
    ``block_col`` is still honoured as an extra conjunct (the pair
    contract may require it).  Values shorter than K cannot yield K
    non-empty segments, so a brute-force arm covers every pair whose
    INDEX side is shorter than K — bounded by the (rare) sub-K-length
    value count per block.

    Intended for SHORT strings (names, titles, URLs, codes) where the
    text itself is a sane join key; τ-bounded edit distance on whole
    documents is O(len²) per pair regardless of blocking and wants a
    different operator (duplicated_spans / MinHash).  Scale caveats for
    EXTREME multiplicity (one value with millions of copies): the group
    id-array lives in one row (memory ∝ m) and its C(m,2) self-pairs
    explode inside one task (time ∝ m²) — but any implementation of
    this contract must EMIT those m² rows, so the bottleneck is the
    output contract, not the plan; cap multiplicity upstream
    (exact_dedup_keep_min) when pair enumeration is not required.

    Precondition: unique ``id_col`` per row.  Output: (id_a, id_b,
    text_a, text_b, lev) with id_a < id_b, text_x the text OF id_x, and
    lev <= tau.  Materialization contract: the group table feeds probe
    + index + brute + diagonal + both expansion sides; it is shared via
    :func:`_materialize_shared` (default lazy; see ``MATERIALIZE_CONF``).
    """
    K = tau + 1
    blk = F.col(block_col) if block_col else F.lit(0)
    # NULL texts (and NULL blocks) never pair — matching the SQL
    # contract: levenshtein(NULL, x) is NULL, and a NULL block fails
    # the block equality.  Without this filter the groupBy would form
    # a NULL group and the diagonal arm would emit lev=0 pairs for it.
    rows = (df.select(F.col(id_col).alias("pid"), blk.alias("blk"),
                      F.col(text_col).alias("txt"))
            .filter(F.col("txt").isNotNull() & F.col("blk").isNotNull()))
    groups = _materialize_shared(
        rows.groupBy("blk", "txt")
            .agg(F.sort_array(F.collect_list("pid")).alias("ids"))
            .withColumn("len", F.length("txt")))

    # ONE keyed stream serves both join sides: each value emits, for
    # every (segment index i, target-length delta dl, alignment shift
    # sh) combo, the aligned substring keyed by (target length lb, i,
    # seg).  The combo grid is a LITERAL array (explode + one shared
    # substr expression — keeping the codegen small; a per-combo
    # expression tree measurably dominated wall time at small SF) and
    # the INDEX side is just the dl=0, sh=0 subset (a value's own
    # segments), so no second derivation exists.  Duplicate keys per
    # value are not pre-deduped: they only duplicate candidate pairs,
    # which the value-pair dropDuplicates removes anyway.
    combos = F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"), F.lit(dl).alias("dl"),
                 F.lit(sh).alias("sh"))
        for i in range(1, K + 1)
        for dl in range(-tau, tau + 1)
        for sh in range(-tau, tau + 1)])).alias("c")
    lb = F.col("len") + F.col("c.dl")
    # PassJoin even partition of a length-lb string into K segments:
    # the first K - (lb % K) segments get floor(lb/K) chars, the rest
    # one extra; start is the 1-based prefix sum, shifted by sh.
    seg_n = (F.floor(lb / K)
             + F.when(F.col("c.i") > K - (lb % K), 1).otherwise(0)
             ).cast("int")
    seg_p = (1 + (F.col("c.i") - 1) * F.floor(lb / K)
             + F.greatest(F.lit(0), (F.col("c.i") - 1) - (K - (lb % K)))
             ).cast("int")
    start = seg_p + F.col("c.sh")
    keyed = (groups.select("blk", "txt", "ids", "len", combos)
             .filter((lb >= K) & (start >= 1)
                     & (start + seg_n - 1 <= F.col("len")))
             .select("blk", "txt", "ids", lb.alias("lb"),
                     F.col("c.i").alias("i"),
                     F.col("txt").substr(start, seg_n).alias("seg"),
                     ((F.col("c.dl") == 0) & (F.col("c.sh") == 0))
                     .alias("home")))

    p = keyed.alias("p")
    x = keyed.filter("home").alias("x")
    cand = (p.join(x, (F.col("p.blk") == F.col("x.blk"))
                   & (F.col("p.lb") == F.col("x.lb"))
                   & (F.col("p.i") == F.col("x.i"))
                   & (F.col("p.seg") == F.col("x.seg"))
                   & (F.col("p.txt") < F.col("x.txt")))
            .select(F.col("p.blk").alias("blk"),
                    F.col("p.txt").alias("ta"), F.col("p.ids").alias("ia"),
                    F.col("x.txt").alias("tb"), F.col("x.ids").alias("ib")))

    short = groups.filter(F.col("len") < K)
    brute = (groups.alias("p").join(
        short.alias("x"), (F.col("p.blk") == F.col("x.blk"))
        & (F.col("p.txt") != F.col("x.txt")))
        .select(F.col("p.blk").alias("blk"),
                F.least("p.txt", "x.txt").alias("ta"),
                F.when(F.col("p.txt") < F.col("x.txt"), F.col("p.ids"))
                .otherwise(F.col("x.ids")).alias("ia"),
                F.greatest("p.txt", "x.txt").alias("tb"),
                F.when(F.col("p.txt") < F.col("x.txt"), F.col("x.ids"))
                .otherwise(F.col("p.ids")).alias("ib")))

    # Verify INLINE (texts are on the row — no verify join), THEN
    # dedupe the surviving value pairs (a pair can match on several
    # segment keys); ids ride along so expansion needs no join either.
    val_pairs = (cand.union(brute)
                 .withColumn("lev", F.levenshtein("ta", "tb"))
                 .filter(F.col("lev") <= tau)
                 .dropDuplicates(["blk", "ta", "tb"]))

    # Expansion is IN-ROW: every copy of ta against every copy of tb,
    # ids normalized to id_a < id_b with the texts swapped alongside.
    pa, pb = F.col("pa"), F.col("pb")
    cross = (val_pairs
             .select("ta", "tb", "lev", F.explode("ia").alias("pa"), "ib")
             .select("ta", "tb", "lev", "pa", F.explode("ib").alias("pb"))
             .select(F.least(pa, pb).alias("id_a"),
                     F.greatest(pa, pb).alias("id_b"),
                     F.when(pa < pb, F.col("ta")).otherwise(F.col("tb"))
                     .alias("text_a"),
                     F.when(pa < pb, F.col("tb")).otherwise(F.col("ta"))
                     .alias("text_b"),
                     "lev"))

    # Diagonal (same-value copies, lev 0): C(m, 2) ordered pairs from
    # the sorted id array — posexplode the left id, slice the right.
    m = F.size("ids")
    diag = (groups.filter(m >= 2)
            .select("txt", F.posexplode("ids").alias("pos", "pa"), "ids")
            .select("txt", "pa",
                    F.explode(F.slice("ids", F.col("pos") + 2,
                                      F.greatest(F.lit(0),
                                                 m - F.col("pos") - 1)))
                    .alias("pb"))
            .select(F.col("pa").alias("id_a"), F.col("pb").alias("id_b"),
                    F.col("txt").alias("text_a"),
                    F.col("txt").alias("text_b"),
                    F.lit(0).cast("int").alias("lev")))
    return cross.union(diag)
