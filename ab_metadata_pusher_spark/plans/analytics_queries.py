"""Product/corpus analytics beyond the reference's surface (SURVEY.md §2.G
extension inventory): sequential funnels, cohort retention, time-range
window frames, histograms, ordered string aggregation, vocabulary
construction.

The reference has no analytics operators at all (its one owned operator is
the CSV->SQS publisher, /root/reference/publisher/aws_sqs_csv_puiblisher.py);
these queries define the behaviour a user of a metadata/event pipeline
needs next, expressed Spark-first and verified value-for-value against
DuckDB formulations that use a DIFFERENT algorithm where that makes the
check stronger (e.g. the funnel: one-pass array fold vs. three-join SQL).
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators._shared import (
    fixpoint, hash_build_guard, materialize_shared, nodeset_hint,
    parquet_rowcount, _materialize_mode,
)
from ab_metadata_pusher_spark.operators import text as X
from ab_metadata_pusher_spark.plans.registry import register
from ab_metadata_pusher_spark.sources.fixtures import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "funnel_steps",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS view_ts
           FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS click_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id)
SELECT u.user_id, v.view_ts, c.click_ts, p.purchase_ts
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
""",
    covers=("G.funnel",),
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence conversion funnel view -> click -> purchase: per
    user, the earliest view, the earliest click AFTER that view, and the
    earliest purchase AFTER that click.

    Spark-first formulation: ONE shuffle (groupBy user_id +
    collect_list), then a sorted-array fold with F.aggregate — the
    whole funnel state machine runs inside whole-stage codegen, no
    self-joins.  The oracle intentionally uses the naive three-join SQL
    instead, so the two engines agree via different algorithms.

    At 100 TB: per-user event lists are bounded (sessions, not the whole
    corpus, would be grouped in practice); the fold is O(events/user) with
    zero extra shuffles, vs. three shuffled self-joins for the SQL shape —
    this is the difference between 1 and 4 passes over the fact table.
    """
    from ab_metadata_pusher_spark.operators.funnel import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(ev, ("view", "click", "purchase"))


@register(
    "cohort_retention",
    oracle="""
WITH f AS (SELECT user_id,
                  CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
      FROM events)
SELECT f.cohort_week,
       datediff('week', f.cohort_week, a.active_week) AS week_offset,
       count(*) AS active_users
FROM a JOIN f USING (user_id)
GROUP BY f.cohort_week, week_offset
""",
    covers=("G.cohort",),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their first
    event; for each (cohort, week-offset) the count of users still
    active.  The classic triangle matrix behind every retention chart.

    Both sides of the self-join aggregate on user_id first, so the join
    input is #users rows, not #events — at 100 TB the two aggregations
    share one shuffle exchange on user_id (Spark reuses the exchange) and
    the final groupBy is on a tiny (cohort, offset) key space.  date_trunc
    returns LTZ even for NTZ input; cast back (session TZ is pinned UTC so
    the cast is identity — see sources/fixtures.py).
    """
    ev = _t(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
                .agg(F.date_trunc("week", F.min("ts"))
                      .cast("timestamp_ntz").alias("cohort_week")))
    active = (ev.select(
        "user_id",
        F.date_trunc("week", "ts").cast("timestamp_ntz").alias("active_week"))
        .distinct())
    return (active.join(firsts, "user_id")
            .select("cohort_week",
                    (F.datediff("active_week", "cohort_week") / 7)
                    .cast("bigint").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("active_users")))


@register(
    "window_range_1h",
    oracle="""
SELECT user_id, event_id,
       count(*) OVER w AS n_1h,
       round(sum(value) OVER w, 2) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
""",
    covers=("G.window.range_interval",),
)
def q_window_range_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour RANGE frame per user: unlike the rowsBetween
    frames (window_moving_avg), the frame is defined by the ORDER-BY
    VALUE, so gaps in time shrink the window.  Spark's rangeBetween needs
    a numeric sort key — microseconds since epoch makes the 1-hour bound
    exact (3.6e9 us) with no DST hazards (session TZ pinned UTC).

    At 100 TB this is one shuffle on user_id and a per-partition
    sliding-frame scan; state is bounded by events-per-hour-per-user."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = (Window.partitionBy("user_id").orderBy(us)
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"))


@register(
    "agg_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 10000) AS BIGINT) AS bucket,
       count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders
GROUP BY bucket
""",
    covers=("G.agg.histogram",),
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (10k-wide buckets) — the
    building block for distribution profiling / quality dashboards.  A
    plain hash aggregate on a derived key: map-side combinable, output is
    #buckets rows regardless of input scale, so it costs one near-empty
    shuffle at any SF.  floor(x/width) on doubles is bit-identical across
    engines (single IEEE divide + floor)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.floor(F.col("o_totalprice") / 10000)
                       .cast("bigint").alias("bucket"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.min("o_totalprice"), 2).alias("lo"),
                  F.round(F.max("o_totalprice"), 2).alias("hi")))


@register(
    "agg_string_concat",
    oracle="""
SELECT s_nationkey,
       string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv,
       count(*) AS n_suppliers
FROM supplier
GROUP BY s_nationkey
""",
    covers=("G.agg.listagg",),
)
def q_agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): collect_list is
    non-deterministic in arrival order, so the canonical Spark form is
    collect_list -> array_sort -> array_join, which pins the order
    regardless of partitioning — the determinism rule every distributed
    listagg needs.  Per-group payload must fit in memory; at 100 TB cap
    group size upstream (slice or top-k) before concatenating."""
    s = _t(spark, sf_dir, "supplier")
    return (s.groupBy("s_nationkey")
             .agg(F.array_join(F.array_sort(F.collect_list("s_name")), ",")
                   .alias("supplier_csv"),
                  F.count(F.lit(1)).alias("n_suppliers")))


@register(
    "text_vocab",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
),
counts AS (
  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
  FROM toks GROUP BY term
)
SELECT term, tf, df,
       row_number() OVER (ORDER BY tf DESC, term) - 1 AS token_id
FROM counts WHERE tf >= 10
""",
    covers=("G.text.vocab",),
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training vocabulary: corpus term + document frequencies,
    a min-count threshold, and dense token ids assigned by (frequency
    desc, term) — the deterministic id layout a BPE/unigram trainer
    consumes.

    The heavy part (explode + tf/df aggregation) is fully distributed and
    map-side combinable.  The id-assigning window is intentionally
    unpartitioned: after min-count filtering a vocabulary is
    O(100k-1M) rows even for a 100 TB corpus, so a single-partition
    row_number over it is the honest, cheap choice (same trick as
    topk_global)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    counts = (toks.groupBy("term")
                  .agg(F.count(F.lit(1)).alias("tf"),
                       F.count_distinct("doc_id").alias("df")))
    vocab = counts.filter(F.col("tf") >= 10)
    w = Window.orderBy(F.col("tf").desc(), "term")
    return vocab.select("term", "tf", "df",
                        (F.row_number().over(w) - 1).alias("token_id"))


@register(
    "window_gap_islands",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       - row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS grp
  FROM events)
SELECT user_id, event_type,
       min(ts) AS island_start, max(ts) AS island_end,
       count(*) AS run_len
FROM r GROUP BY user_id, event_type, grp
""",
    covers=("G.window.islands",),
)
def q_window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE same-type events per
    user (e.g. "5 views in a row before the first click") via the classic
    difference-of-row-numbers trick — two window passes and a group-by,
    no self-join, no iteration.

    Measured plan (scripts/explain_audit.py): ONE exchange total —
    hash-partitioning by user_id satisfies the clustered distribution of
    BOTH windows (the second clusters on a superset key) and of the final
    aggregate, so the two sorts and the group-by all reuse the first
    shuffle, vs. the O(n^2) self-join naive formulation."""
    ev = _t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    grp = (F.row_number().over(w_all)
           - F.row_number().over(w_typ)).alias("grp")
    return (ev.select("user_id", "event_type", "ts", "event_id", grp)
            .groupBy("user_id", "event_type", "grp")
            .agg(F.min("ts").alias("island_start"),
                 F.max("ts").alias("island_end"),
                 F.count(F.lit(1)).alias("run_len"))
            .drop("grp"))


# --------------------------------------------------------------------------
# Graph analytics over the part co-occurrence graph
# --------------------------------------------------------------------------
# Edges: two parts are connected when some order contains both (lineitem
# self-join on l_orderkey).  The reference has no graph surface at all
# (SURVEY.md §2.G); these queries show the standard "graph analytics as
# relational algebra" decomposition Spark executes well at scale.

_COOCCUR = """
SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
FROM lineitem x JOIN lineitem y
  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
"""


def _cooccur_edges(spark: SparkSession, sf_dir: str,
                   dedup: bool = True) -> DataFrame:
    """Distinct co-occurrence pairs with a < b (canonical orientation).

    Built from per-order sorted part arrays with map-side pair expansion
    (transform x slice), NOT a lineitem self-join: one narrow groupBy
    shuffle replaces shuffling both join sides, and the pair fan-out
    (bounded by order size²) happens after the aggregation.  Measured
    ~30% faster at sf0.1; the win grows with scale because the self-join
    would shuffle the fact table twice.  The oracle keeps the self-join
    formulation — different plan, same edge set.

    ``dedup=False`` returns the raw (multiset) pair stream for callers
    that fold the dedup into an exchange they pay anyway (r14:
    ``_lpa_run``'s alignment repartition — HashPartitioning(a)
    satisfies the (a, b) dedup's clustering, so ``distinct`` rides it).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per = (li.groupBy("l_orderkey")
           .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")))
    pairs = F.flatten(F.transform("ps", lambda x, i: F.transform(
        F.slice("ps", i + F.lit(2), F.size("ps")),
        lambda y: F.struct(x.alias("a"), y.alias("b")))))
    out = (per.select(F.explode(pairs).alias("p"))
           .select("p.a", "p.b"))
    return out.distinct() if dedup else out


@register(
    "graph_triangles",
    oracle="WITH e AS (" + _COOCCUR + """)
SELECT (SELECT count(*) FROM (SELECT a FROM e UNION SELECT b FROM e)) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*)
        FROM e e1 JOIN e e2 ON e1.b = e2.a
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
""",
    covers=("G.graph.triangles",),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the part co-occurrence graph via the
    node-iterator-with-orientation algorithm: canonically orient edges,
    build each node's sorted out-neighbor list ONCE, then for every
    edge (a, b) count |N+(a) ∩ N+(b)| with array_intersect — each
    triangle counted exactly once at its orientation-smallest vertex.
    The oracle states the naive three-way wedge self-join instead —
    different algorithm, same count.

    The adjacency form never materializes wedges: the wedge join's
    O(Σ deg²) intermediate (the scale killer — measured 4× slower at
    sf0.1 HERE, and it only worsens with skew) becomes an O(deg)
    in-memory merge per edge.  The adjacency map is built DIRECTLY from
    the per-order pair expansion (collect_set dedupes cross-order
    repeats), so the only corpus-sized shuffle is that one groupBy — the
    edge list is derived by exploding the (cached, node-count-sized)
    adjacency, never shuffled or deduplicated separately.  The hub
    safety valve — reorient by (degree, id) so every out-list is
    ≤ O(√(2m)) — is CODE, not prose: see :func:`_triangles_run`."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per = (li.groupBy("l_orderkey")
           .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")))
    pairs = per.select(F.explode(F.flatten(F.transform(
        "ps", lambda x, i: F.transform(
            F.slice("ps", i + F.lit(2), F.size("ps")),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))).alias("p")) \
        .select("p.a", "p.b")
    return _triangles_run(spark, pairs)


#: Orientation flip for the triangle intersect stage: with id
#: orientation a hub keeps its whole forward neighborhood in ONE
#: out-list, so the per-edge intersect degrades toward O(n); the
#: (degree, id) total order bounds every out-list by O(√(2m)) (an edge
#: leaves a node only toward HIGHER-degree ends, and at most √(2m)
#: nodes have degree ≥ √(2m)).  The reorientation costs two |E|-row
#: aggregation exchanges on top of the one corpus-sized shuffle, so it
#: only pays once real skew exists: flip when the longest out-list
#: exceeds this factor × √(2m).  Measured at factor 4 (min-of-3 warm,
#: triangle_orientation_probe.py, last in commit 9bc81c2): the
#: mildly-skewed sf0.1 fixture stays id (max out-list 199 vs bound
#: 6186; the degree form would cost 1.6× THERE — the flip being
#: conditional is the point), while hub-concentrated power-law graphs
#: flip and win 1.9× at |V|=5e4 (max out-list 21187 vs bound 5633) and
#: 8.0× at |V|=2e5 (58027 vs 11294; 37.9 s → 4.7 s).  SCALE.md round-9.
_TRI_HUB_FACTOR = 4.0


def _pick_orientation(max_out: int | None, m: int | None) -> str:
    """The auto flip itself: ``degree`` once the longest id-oriented
    out-list exceeds ``_TRI_HUB_FACTOR``·√(2m), else ``id`` (including
    the empty graph, where both scalars are NULL)."""
    if not max_out or not m:
        return "id"
    return "degree" if max_out > _TRI_HUB_FACTOR * (2 * m) ** 0.5 else "id"


def _triangles_run(spark: SparkSession, pairs: DataFrame,
                   orientation: str = "auto") -> DataFrame:
    """Oriented-adjacency triangle count with the hub flip as code.

    ``pairs`` are (a, b) id-ascending co-occurrence pairs (cross-pair
    duplicates allowed — the adjacency groupBy dedupes).  ``orientation``:
    ``id`` intersects the id-oriented out-lists directly; ``degree``
    reorients every edge toward its (degree, id)-greater end first —
    two extra |E|-row exchanges buy out-lists bounded by O(√(2m)) under
    ANY skew; ``auto`` reads the two scalars the flip needs (longest
    out-list, Σ out-degrees = m) off the already-materialized id
    adjacency — one cached |V|-row aggregate — and flips past
    ``_TRI_HUB_FACTOR``·√(2m).  All three orientations are
    equality-tested (tests/test_analytics.py); the returned triple is
    orientation-invariant."""
    if orientation not in ("auto", "id", "degree"):
        raise ValueError(f"unknown triangle orientation: {orientation!r}")
    adj_build = (pairs.groupBy("a")
                 .agg(F.sort_array(F.collect_set("b")).alias("nbrs")))
    adj = materialize_shared(adj_build)
    e = adj.select("a", F.explode("nbrs").alias("b"))
    n_edges = adj.agg(F.sum(F.size("nbrs")).alias("n_edges"))
    nodes = (e.select(F.col("a").alias("n"))
             .union(e.select("b")).distinct()
             .agg(F.count(F.lit(1)).alias("n_nodes")))
    if orientation == "auto":
        # data-dependent shape choice needs an action; under the LAZY
        # construction contract (library default, tests/test_plan_shapes
        # .py) auto resolves to id without running a job, and the
        # measured flip engages only in eager mode, where the adjacency
        # is already materialized at construction and the two scalars
        # cost one cached aggregate.  Scale callers in lazy mode pass
        # orientation="degree" explicitly.
        if _materialize_mode(spark.conf.get) == "eager":
            sig = adj.agg(F.max(F.size("nbrs")).alias("mx"),
                          F.sum(F.size("nbrs")).alias("m")).first()
            orientation = _pick_orientation(sig["mx"], sig["m"])
        else:
            orientation = "id"
    if orientation == "degree":
        # symmetric degree = out + in of the id orientation; both are
        # |E|->|V| map-side-combinable aggregates off the cached frame
        deg = (e.select(F.col("a").alias("v"))
               .unionByName(e.select(F.col("b").alias("v")))
               .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
        # no broadcast hint on deg: this branch exists for graphs whose
        # |V| outgrows a build side — AQE still broadcasts when small
        oriented = (e
                    .join(deg.select(F.col("v").alias("a"),
                                     F.col("d").alias("da")), "a")
                    .join(deg.select(F.col("v").alias("b"),
                                     F.col("d").alias("db")), "b")
                    .select(F.when(F.struct("da", "a") < F.struct("db", "b"),
                                   F.struct(F.col("a").alias("s"),
                                            F.col("b").alias("t")))
                            .otherwise(F.struct(F.col("b").alias("s"),
                                                F.col("a").alias("t")))
                            .alias("st"))
                    .select("st.s", "st.t"))
        adj2_build = (oriented.groupBy(F.col("s").alias("a"))
                      .agg(F.sort_array(F.collect_set("t")).alias("nbrs")))
        adj2 = materialize_shared(adj2_build)
        e2 = adj2.select("a", F.explode("nbrs").alias("b"))
    else:
        adj2, e2 = adj, e
    # SHUFFLE_HASH on the adjacency (build) sides: the probe side is
    # |E| rows carrying BOTH sorted-neighbor arrays (~0.5 KB/row), and
    # a sort-merge join must sort that payload — at the third measured
    # decade (x100 of sf0.1, ~55M edges) the sort spills and the query
    # goes superlinear: 270.7 s SMJ vs 46.8 s shuffle-hash, outputs
    # equal (x1 cost +0.1 s, noise;
    # triangle_scale_probe.py, last in commit 9bc81c2).
    # Hash join streams the probe side unsorted; the build side is the
    # adjacency itself (Σdeg longs / #partitions per task), which any
    # partition sizing that survives the sort also fits.  Broadcast
    # measured marginally faster still (42.6 s) but is a |V|-bound
    # memory bomb at 100 TB; shuffle-hash keeps the bound per-task.
    na2 = adj2.select(F.col("a"), F.col("nbrs").alias("na"))
    nb2 = adj2.select(F.col("a").alias("b"), F.col("nbrs").alias("nb"))
    tri = (e2.join(hash_build_guard(na2, "graph_triangles adjacency"), "a")
           .join(hash_build_guard(nb2, "graph_triangles adjacency"), "b")
           .agg(F.sum(F.size(F.array_intersect("na", "nb")))
                .alias("n_triangles")))
    return nodes.crossJoin(n_edges).crossJoin(tri)


@register(
    "graph_bfs_distance",
    oracle="WITH RECURSIVE eh AS (" + _COOCCUR + """),
edges AS (SELECT a AS src, b AS dst FROM eh
          UNION ALL SELECT b, a FROM eh),
bfs(node, dist) AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
  UNION
  SELECT e.dst, bfs.dist + 1
  FROM bfs JOIN edges e ON e.src = bfs.node
  WHERE bfs.dist < 3)
SELECT node, min(dist) AS dist FROM bfs GROUP BY node
""",
    covers=("G.graph.bfs",),
)
def q_graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS: hop distance (<= 3) from part 1 through the
    co-occurrence graph — the iterative frontier-expansion pattern
    (Pregel's BFS) as a driver loop of joins.  Each step joins the
    CURRENT frontier (small) against the edge list and anti-joins the
    visited set, so per-step work is frontier x degree, not |V| x |E|;
    the fixed hop budget makes the plan finite and the oracle expressible
    as a bounded recursive CTE (min-dist over level-stamped expansion —
    a different algorithm, same values).

    At 100 TB: cache the edge frame once (reused every step), partition
    it by src so each frontier join co-locates, and checkpoint the
    visited set every few steps to cut lineage depth.  The
    frontier/visited build sides broadcast only WITHIN the
    :func:`_nodeset_hint` budget (decided per step from the frontier
    counts the :func:`fixpoint` probe pays for): a 3-hop neighborhood on a
    dense 100 TB graph saturates toward |V|, at which point the
    anti-join flips to its shuffled form instead of OOMing the build —
    while the explicit hint below the budget still stops the planner
    ever guessing the 2|E| edge side small (its join-output size
    estimates are unreliable)."""
    eh = _cooccur_edges(spark, sf_dir)
    edges = (eh.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .union(eh.select(F.col("b"), F.col("a"))).cache())
    part = _t(spark, sf_dir, "part")
    seed = (part.filter(F.col("p_partkey") == 1)
            .select(F.col("p_partkey").alias("node"), F.lit(0).alias("dist")))
    sizes = [1]  # frontier sizes, the seed's first; each probe adds one
    visited = None

    def expand(frontier: DataFrame, i: int) -> DataFrame:
        # each step's frontier feeds TWO consumers (next anti-join +
        # visited union); the kernel's cut keeps lineage depth constant
        # per step instead of nesting every prior step's join chain twice
        nonlocal visited
        visited = frontier if visited is None else visited.union(frontier)
        return (edges.join(_nodeset_hint(sizes[-1], 24)(frontier),
                           edges.src == frontier.node)
                .select(F.col("dst").alias("node"), F.lit(i + 1).alias("dist"))
                .distinct()
                .join(_nodeset_hint(sum(sizes), 24)(visited),
                      "node", "left_anti"))

    def probe(frontier: DataFrame) -> int:
        sizes.append(frontier.count())
        return sizes[-1]

    try:
        last = fixpoint(seed, expand, rounds=3, probe=probe)
    finally:  # every frontier the result reads is a materialized cut
        edges.unpersist()
    return visited.union(last)


@register(
    "analytics_outliers_mad",
    oracle="""
WITH s AS (SELECT user_id, median(value) AS med, mad(value) AS mad
           FROM events GROUP BY user_id)
SELECT e.user_id,
       round(s.med, 4) AS med,
       round(s.mad, 4) AS mad,
       count(*) AS n_events,
       CAST(coalesce(sum(CASE WHEN abs(e.value - s.med) > 3 * s.mad
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers
FROM events e JOIN s USING (user_id)
GROUP BY e.user_id, s.med, s.mad
""",
    covers=("G.analytics.outliers",),
)
def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median / MAD (median absolute
    deviation) per user, then count events beyond 3 MADs — the
    quality-filter shape a corpus pipeline uses where mean/stddev would
    be dragged by the very outliers it hunts.  Two exact-median passes
    (groupBy median -> broadcast back -> groupBy median of deviations ->
    broadcast back), each group stat broadcast to the row side, so the
    event table is scanned, never shuffled.  The oracle leans on DuckDB's
    NATIVE mad() aggregate — different implementation, same values.

    At 100 TB swap F.median for percentile_approx(value, 0.5) — one
    map-side-combinable sketch pass per stat instead of exact
    sort-based medians."""
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    dev = (ev.join(F.broadcast(med), "user_id")
           .withColumn("adev", F.abs(F.col("value") - F.col("med"))))
    mad = dev.groupBy("user_id").agg(F.median("adev").alias("mad"))
    return (dev.join(F.broadcast(mad), "user_id")
            .groupBy("user_id")
            .agg(F.round(F.min("med"), 4).alias("med"),
                 F.round(F.min("mad"), 4).alias("mad"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.coalesce(F.sum(
                     F.when(F.col("adev") > 3 * F.col("mad"), 1)
                      .otherwise(0)), F.lit(0)).alias("n_outliers")))


# --------------------------------------------------------------------------
# Label-propagation community detection (synchronous, deterministic)
# --------------------------------------------------------------------------

_LPA_ITERS = 3
#: loop shuffle width FLOOR — the r4 fixture-scale A/B in
#: q_graph_label_propagation (8 under-parallelizes, 32 pays near-empty
#: scheduling at sf0.1's ~1.1M symmetrized edge rows)
_LPA_SHUFFLE_W = 16
#: edge rows per loop partition: 1.1M/16 — the measured r4 floor
#: restated as a density, so the width GROWS with the edge set instead
#: of staying a fixture constant.  The r10 multi-decade study caught the
#: constant: at x100 of sf0.1 (~110M rows) width 16 ran the loop on half
#: the 32-core box — 161.5 s vs 95.0/82.6/77.0 s at widths 32/64/128,
#: outputs hash-equal (lpa_width_probe.py, last in commit 9bc81c2).
_LOOP_EDGE_ROWS_PER_PART = 70_000
#: width ceiling as a multiple of cluster parallelism: past ~4 tasks
#: per core the probe's gains flatten (82.6 -> 77.0 s from 2x to 4x)
#: and more waves only add scheduling; on a real cluster this scales
#: with the executor count, which is the property the constant lacked.
_LOOP_WIDTH_CORE_FACTOR = 4


def _loop_width(n_rows: int, parallelism: int) -> int:
    """Shuffle width for an iterative edge-loop: one partition per
    ``_LOOP_EDGE_ROWS_PER_PART`` edge rows, floored at the fixture
    A/B's ``_LPA_SHUFFLE_W`` and capped at
    ``_LOOP_WIDTH_CORE_FACTOR``x the cluster's default parallelism."""
    by_rows = -(-n_rows // _LOOP_EDGE_ROWS_PER_PART)
    return max(_LPA_SHUFFLE_W,
               min(by_rows, _LOOP_WIDTH_CORE_FACTOR * parallelism))
#: Alignment flip for the LPA loop (r7 probe -> r9 code): broadcasting
#: the |V|-row label frame keeps every round exchange-free and WON at
#: every in-container size the probe could reach (shuffled/broadcast =
#: 1.13-2.21x up to |V|=8e6, ~128 MB of (long, long) rows,
#: lpa_alignment_probe.py, last in commit 9bc81c2) — so the flip is a
#: RESOURCE bound, not a perf crossover: past the shared
#: ``NODESET_BROADCAST_MAX_BYTES`` per-round broadcast footprint the
#: build side risks executor/driver memory pressure and the loop
#: switches to the b-aligned shuffle form (labels shuffle into the
#: join; rounds pay the (a, lab) aggregation exchange instead).
#: Bytes per (long v, long lab) label row in the broadcast relation,
#: incl. per-row overhead (unsafe row + hashed-relation slack, ~2x raw).
_LPA_LABEL_ROW_BYTES = 32


def _lpa_oracle(iters: int) -> str:
    """Unrolled SQL mirror of the synchronous LPA loop: the fixed
    iteration count makes the iterative algorithm exactly expressible as
    a chain of CTE stages, one per round."""
    parts = ["WITH e0 AS (" + _COOCCUR + "),",
             "e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),",
             "l0 AS (SELECT DISTINCT a AS v, CAST(a AS BIGINT) AS lab FROM e)"]
    for it in range(1, iters + 1):
        p, c = f"l{it - 1}", f"l{it}"
        parts.append(f""",
c{it} AS (SELECT e.a AS v, {p}.lab, count(*) AS c
          FROM e JOIN {p} ON e.b = {p}.v GROUP BY e.a, {p}.lab),
{c} AS (SELECT v, lab FROM (
          SELECT v, lab, row_number() OVER (
            PARTITION BY v ORDER BY c DESC, lab) AS rn FROM c{it})
        WHERE rn = 1)""")
    parts.append(f"""
SELECT CAST(v AS BIGINT) AS node, lab AS community
FROM l{iters}""")
    return "\n".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle(_LPA_ITERS),
          covers=("G.graph.label_propagation",))
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the part
    co-occurrence graph: every node starts as its own label; each round
    it adopts its neighbors' most frequent label (ties -> smallest
    label), fully deterministic, fixed 3 rounds.  Complements the
    connected-components / pagerank / triangle surface with the standard
    cheap community algorithm.

    Spark shape (r6): the symmetrized edge table is hash-partitioned by
    the destination vertex ``a`` ONCE (one up-front |E| shuffle,
    persisted); every round is then EXCHANGE-FREE — the label frame is
    |V| rows and explicitly broadcast, a BroadcastHashJoin preserves the
    streamed side's partitioning, and HashPartitioning(a) satisfies the
    clustering of BOTH per-round aggregations (groupBy(a, lab) and its
    prefix groupBy(a)), so the executedPlan of a round contains zero
    Exchange nodes (verified on the executed plan; measured 8.9s ->
    4.3s warm at sf0.1 vs the per-round two-shuffle form).  The argmax is
    folded into max(struct(count, -lab)) — no window sort.  At a |V|
    that outgrows the broadcast, flip the alignment: partition edges by
    the join key ``b`` instead and pay the (a, lab) aggregation shuffle
    — you can co-locate either the join or the aggregations, and while
    labels broadcast, aligning the aggregations wins.  The crossover is
    MEASURED, not prose (lpa_alignment_probe.py, last in commit 9bc81c2;
    min-of-N on synthetic degree-20 graphs, all-distinct labels — the
    broadcast's worst case): shuffled/broadcast = 2.21x at |V|=1e5,
    1.51x at 1e6, 1.13x at 4e6, 1.35x at 8e6 — broadcast wins at every
    measured size up to ~128 MB of (long, long) label rows, with no
    crossover reachable cleanly in one JVM, so the flip is a RESOURCE
    bound and since r9 it is CODE, not prose: ``_lpa_run`` counts |V|
    once (off the checkpointed initial label frame) and switches to the
    shuffled alignment past ``NODESET_BROADCAST_MAX_BYTES`` (SCALE.md
    round-7 entry; both alignments are equality-tested).  (A third
    variant — adjacency arrays + a 1-row label MAP + in-row mode — was
    A/B tested and REJECTED: element_at on MapType is a linear scan, 17x
    slower at |V|=20k.)  The oracle unrolls the same fixed iteration
    count as CTE stages."""
    # Raw (multiset) pair stream: the dedup rides _lpa_run's alignment
    # repartition instead of paying its own full-stream exchange (r14,
    # lpa_dedup_ride_probe.py, last in commit 9bc81c2 — one fewer
    # exchange and job).
    e0 = _cooccur_edges(spark, sf_dir, dedup=False)
    # |V| <= |part|: a parquet-footer read prices the broadcast-vs-
    # shuffle alignment with NO Spark job (r13 — the job this hint
    # replaces was the initial identity-label distinct+count, removed
    # by the fused first round below).
    from ab_metadata_pusher_spark.operators._shared import parquet_rowcount
    return _lpa_run(spark, e0, _LPA_ITERS,
                    n_vertices_hint=parquet_rowcount(f"{sf_dir}/part.parquet"),
                    dedup_edges=True)


def _lpa_run(spark: SparkSession, e0: DataFrame, iters: int,
             n_vertices_hint: int | None = None,
             dedup_edges: bool = False) -> DataFrame:
    """The synchronous-LPA loop with the alignment choice as code.

    Two alignments, picked by :func:`nodeset_hint` on the estimated
    label rows against the shared ``NODESET_BROADCAST_MAX_BYTES``.
    Under the budget the loop partitions edges by the DESTINATION ``a``
    once and broadcasts the |V|-row label frame each round — every
    round is exchange-free.  Past it the loop partitions edges by the
    JOIN key ``b``; labels shuffle into a SortMergeJoin and the round
    pays the (a, lab) aggregation exchange — no broadcast, the
    web-scale form.  |V| is priced from ``n_vertices_hint`` (callers
    pass a parquet footer count — an upper bound is fine, the flip is a
    resource bound) or, hint-less, from the symmetrized edge row count
    already paid for width sizing (|V| <= 2|E|, conservative by the
    mean degree — both alignments are equality-tested, so an early flip
    costs shuffles, never correctness).

    ROUND 1 IS FUSED (r13): the initial label frame is the identity
    map lab(v) = v, so round 1's join contributes exactly one
    (a, lab=b) row per symmetrized edge — aggregating the edge list
    directly is the same multiset.  This removes the initial
    ``distinct`` (a full |E| dedup exchange + eager checkpoint job +
    |V| count job) and round 1's broadcast build entirely; under the
    broadcast alignment the fused first round is exchange-free off the
    pre-partitioned edges, like every later round.

    ``dedup_edges=True`` (r14) dedups the symmetrized edge stream by
    riding the alignment repartition: HashPartitioning on one key
    satisfies the clustering of a dedup grouped on BOTH, so
    ``distinct()`` placed after the repartition adds no exchange —
    callers holding a raw (multiset) pair stream save the dedup's own
    full-stream exchange (jobs 16 -> 15, min 2.86 -> 2.53 s paired at
    sf0.1, lpa_dedup_ride_probe.py, last in commit 9bc81c2;
    symmetrize-then-dedup is set-equal to dedup-then-symmetrize,
    crc-checked there; the loop width is then sized from the pre-dedup
    symmetrized count, an upper bound in the same _loop_width input
    class).  The default keeps the historical contract: e0 taken as-is,
    label counts weighted by edge multiplicity if the caller passes a
    multigraph."""
    if iters < 1:
        raise ValueError("LPA needs at least one round (the fused first "
                         "round IS the identity-label round)")
    edges = (e0.unionByName(e0.select(F.col("b").alias("a"),
                                      F.col("a").alias("b")))
             .select(F.col("a").cast("long").alias("a"),
                     F.col("b").cast("long").alias("b")))
    # Label/count frames are |V|-sized — pin the loop's shuffle width to
    # that cardinality, not CPU count (same measurement as the CC loop:
    # near-empty partitions cost per-round scheduling).  Re-measured in
    # r4 across widths {8,16,32} in fresh sessions: 16 is the floor at
    # both sf0.01 (2.24s vs 2.42s) and sf0.1 (7.65s vs 8.97s warm) —
    # 8 under-parallelizes the first |E|-sized (v,lab) reduce.
    pinned: list[DataFrame] = []
    try:
        # ONE width for the whole loop: the up-front edge partitioning
        # (the alignment every round's aggregations inherit) and the
        # rounds' conf-pinned residual shuffles must agree, or the round
        # aggs re-exchange to the conf width.  The width itself is
        # DATA-SIZED (_loop_width): the count below materializes the
        # persist round 1 would have materialized anyway — LPA acts at
        # construction by design (eager checkpoints), so this adds one
        # cached-scan job, not a new execution obligation.  The
        # pre-repartition edges pin makes the co-occur join compute
        # once, not twice.  try/finally: a mid-loop failure (executor
        # OOM, cancelled stage) must not leak the persisted edges into
        # the rest of the session.
        edges = edges.persist()
        pinned.append(edges)
        n_rows = edges.count()
        width = _loop_width(n_rows,
                            spark.sparkContext.defaultParallelism)
        hint = nodeset_hint(n_vertices_hint if n_vertices_hint is not None
                            else n_rows, _LPA_LABEL_ROW_BYTES)
        edges = edges.repartition(
            width, "a" if hint is F.broadcast else "b")
        if dedup_edges:
            # rides the repartition exchange: HashPartitioning(one key)
            # satisfies the (a, b) dedup's clustering — no new Exchange
            edges = edges.distinct()
        edges = edges.persist()
        pinned.append(edges)

        def round_argmax(joined: DataFrame) -> DataFrame:
            """(v, lab) per-round winner: most frequent, ties -> lowest."""
            return (joined
                    .groupBy(F.col("a").alias("v"), "lab")
                    .agg(F.count(F.lit(1)).alias("c"))
                    .groupBy("v")
                    .agg(F.max(F.struct(
                        F.col("c"),
                        (-F.col("lab")).alias("nl"))).alias("m"))
                    .select("v", (-F.col("m.nl")).alias("lab")))

        def step(labels: DataFrame, i: int) -> DataFrame:
            if i == 0:
                # Fused round 1: identity labels make the join a
                # per-edge identity map — aggregate edges directly (no
                # |V| build side); the loop's entry state is unused.
                return round_argmax(edges.select("a", F.col("b").alias("lab")))
            return round_argmax(
                edges.join(hint(labels.withColumnRenamed("v", "b")), "b"))

        # No probe, so every round's cut is eager: without it, round r's
        # broadcast build re-executes rounds 1..r-1 inside the broadcast
        # thread (measured driver OOM at sf0.1).
        labels = fixpoint(edges, step, rounds=iters, width=width)
    finally:
        for frame in pinned:
            frame.unpersist()
    return labels.select(F.col("v").alias("node"),
                         F.col("lab").alias("community"))


@register(
    "events_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
tot AS (SELECT event_type, sum(n) AS t FROM c GROUP BY event_type)
SELECT c.event_type, c.next_type, c.n,
       round(c.n * 1.0 / tot.t, 4) AS p
FROM c JOIN tot USING (event_type)
""",
    covers=("G.analytics.markov",),
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) with transition counts —
    the user-journey model behind flow diagrams and next-action
    prediction baselines.

    Spark shape: one user-keyed sort window builds the (current, next)
    stream (deterministic ordering: ts then event_id ties), then a
    map-side-combined count over the tiny |types|² key space and a
    per-row normalize against the |types|-row totals broadcast.  The
    fact table is scanned once and shuffled once (by user for the
    window); everything after is bounded by the type-alphabet size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    c = (seq.filter(F.col("next_type").isNotNull())
         .groupBy("event_type", "next_type")
         .agg(F.count(F.lit(1)).alias("n")))
    tot = c.groupBy("event_type").agg(F.sum("n").alias("t"))
    return (c.join(F.broadcast(tot), "event_type")
            .select("event_type", "next_type", "n",
                    F.round(F.col("n") / F.col("t"), 4).alias("p")))


@register(
    "graph_link_prediction",
    oracle="WITH e0 AS (" + _COOCCUR + """),
e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
wedge AS (
  SELECT x.a AS a, y.a AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM e x JOIN e y ON x.b = y.b AND x.a < y.a
  GROUP BY x.a, y.a
),
cand AS (
  SELECT w.a, w.b, w.n_common
  FROM wedge w LEFT JOIN e0 ON e0.a = w.a AND e0.b = w.b
  WHERE e0.a IS NULL
)
SELECT c.a, c.b, c.n_common,
       CAST((c.n_common * 20000 + (da.d + db.d - c.n_common))
            // (2 * (da.d + db.d - c.n_common)) AS DOUBLE) / 10000 AS score
FROM cand c
JOIN deg da ON da.v = c.a
JOIN deg db ON db.v = c.b
ORDER BY score DESC, c.a, c.b LIMIT 50
""",
    covers=("G.graph.link_prediction",),
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard link prediction: for part pairs at distance
    2 (share a neighbor, no direct edge), score = |N(a)∩N(b)| /
    |N(a)∪N(b)|; top 50.  The classic "products bought together with
    the same partners but never co-bought" recommender signal.

    Spark shape mirrors graph_triangles, not the oracle's wedge
    self-join: the symmetric adjacency (node -> sorted neighbor array)
    is built with ONE corpus-sized shuffle and CACHED; edges for the
    anti-join and the degree table are derived from that |V|-row cache
    (explode / size), never recomputed from the fact table — the
    uncached form re-ran the per-order pair expansion 7x across the
    plan's branches.  Common-neighbor pairs expand MAP-SIDE from each
    adjacency array (transform x slice), and the expansion input is
    repartitioned to a FIXED width first: AQE coalesces the tiny
    |V|-row shuffle to one partition, which serialized the whole deg²
    Generate into a single task (measured 11.8s -> 4.6s warm at
    sf0.01).  Hub fan-out is deg², the same quantity the result itself
    counts — graph_link_prediction_capped below is the scale-safe form
    (drop deg > K wedge CENTERS, bounding wedges to K²·|centers|); this
    exact form stays registered as its coverage gate and is
    bench-excluded.  The adjacency is materialized via the shared
    conf-selected strategy (operators/_shared.py): lazy persist by
    default (released via release_materialized — the r4 ADVICE leak's
    fix), eager localCheckpoint under the bench's MATERIALIZE_CONF so
    bench loops accumulate no CacheManager entries."""
    e0 = _cooccur_edges(spark, sf_dir)
    sym = e0.unionByName(e0.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
    adj_build = (sym.groupBy(F.col("b").alias("v"))
                 .agg(F.sort_array(F.collect_set("a")).alias("ns")))
    adj = materialize_shared(adj_build)
    edges = (adj.select(F.col("v").alias("a"), F.explode("ns").alias("b"))
             .filter(F.col("a") < F.col("b")))
    deg = adj.select("v", F.size("ns").alias("d"))
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = F.flatten(F.transform("ns", lambda x, i: F.transform(
        F.slice("ns", i + F.lit(2), F.size("ns")),
        lambda y: F.struct(x.alias("a"), y.alias("b")))))
    wedge = (adj.repartition(width)
             .select(F.explode(pairs).alias("p"))
             .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    cand = wedge.join(edges, ["a", "b"], "left_anti")
    # deg is |V|-keyed: broadcast only within the node-set budget.
    # |V| is bounded above by the part dimension, counted from parquet
    # FOOTERS (driver-side, no Spark job -- construction stays lazy)
    hint = _nodeset_hint(parquet_rowcount(f"{sf_dir}/part.parquet"), 24)
    return (cand
            .join(hint(deg.select(F.col("v").alias("a"),
                                  F.col("d").alias("da"))), "a")
            .join(hint(deg.select(F.col("v").alias("b"),
                                  F.col("d").alias("db"))), "b")
            .select("a", "b", "n_common",
                    # 4-decimal score via half-up INTEGER division on
                    # exact counts (the containment_pairs discipline):
                    # round(double, 4) straddles half boundaries
                    # differently per engine (Spark vs DuckDB).
                    (F.floor((F.col("n_common") * 20000
                              + (F.col("da") + F.col("db")
                                 - F.col("n_common")))
                             / ((F.col("da") + F.col("db")
                                 - F.col("n_common")) * 2))
                     / 10000.0).alias("score"))
            .orderBy(F.col("score").desc(), "a", "b").limit(50))


#: Hub cap for the scale-safe link-prediction variant: only nodes with
#: degree <= K act as wedge CENTERS (shared neighbors), bounding the wedge
#: expansion to sum_{deg<=K} deg² <= K²·|centers| regardless of how the
#: open graph densifies.  K=64 is deliberately binding on the dense
#: synthetic fixture (wedges 298M -> 513k at sf0.1, 580×); on a power-law
#: production graph set K near the degree p99 so only true hubs drop.
_LINKPRED_HUB_K = 64


@register(
    "graph_link_prediction_capped",
    oracle="WITH e0 AS (" + _COOCCUR + f"""),
e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
ctr AS (SELECT v FROM deg WHERE d <= {_LINKPRED_HUB_K}),
wedge AS (
  SELECT x.a AS a, y.a AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM e x JOIN e y ON x.b = y.b AND x.a < y.a
  JOIN ctr ON ctr.v = x.b
  GROUP BY x.a, y.a
),
cand AS (
  SELECT w.a, w.b, w.n_common
  FROM wedge w LEFT JOIN e0 ON e0.a = w.a AND e0.b = w.b
  WHERE e0.a IS NULL
)
SELECT c.a, c.b, c.n_common,
       CAST((c.n_common * 20000 + (da.d + db.d - c.n_common))
            // (2 * (da.d + db.d - c.n_common)) AS DOUBLE) / 10000 AS score
FROM cand c
JOIN deg da ON da.v = c.a
JOIN deg db ON db.v = c.b
ORDER BY score DESC, c.a, c.b LIMIT 50
""",
    covers=("G.graph.link_prediction",),
)
def q_graph_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub-capped link prediction — the scale-safe registered form of
    graph_link_prediction: identical plan, but only nodes with degree <=
    K act as wedge centers, so common-neighbor counts flow only through
    non-hub intermediates.  Exact enumeration is Σdeg² — measured 13.5×
    wall for 10× rows on the densifying fixture (SCALE.md) — while the
    cap bounds wedge fan-out to K²·|centers| (513k vs 298M wedges at
    sf0.1).  The trade is documented undercounting: pairs whose ONLY
    shared neighbors are hubs disappear, and surviving scores count
    non-hub neighbors only (exactly the signal hub-mediated co-occurrence
    pollutes — everything co-occurs with a hub).  The cap predicate is a
    deterministic degree filter, so the DuckDB oracle replicates it
    row-for-row and the result stays hash-exact.  The uncapped exact form
    remains registered (bench-excluded) as this query's coverage gate."""
    e0 = _cooccur_edges(spark, sf_dir)
    sym = e0.unionByName(e0.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
    adj_build = (sym.groupBy(F.col("b").alias("v"))
                 .agg(F.sort_array(F.collect_set("a")).alias("ns")))
    adj = materialize_shared(adj_build)
    edges = (adj.select(F.col("v").alias("a"), F.explode("ns").alias("b"))
             .filter(F.col("a") < F.col("b")))
    deg = adj.select("v", F.size("ns").alias("d"))
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = F.flatten(F.transform("ns", lambda x, i: F.transform(
        F.slice("ns", i + F.lit(2), F.size("ns")),
        lambda y: F.struct(x.alias("a"), y.alias("b")))))
    wedge = (adj.filter(F.size("ns") <= _LINKPRED_HUB_K)
             .repartition(width)
             .select(F.explode(pairs).alias("p"))
             .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    cand = wedge.join(edges, ["a", "b"], "left_anti")
    # deg is |V|-keyed: broadcast only within the node-set budget.
    # |V| is bounded above by the part dimension, counted from parquet
    # FOOTERS (driver-side, no Spark job -- construction stays lazy)
    hint = _nodeset_hint(parquet_rowcount(f"{sf_dir}/part.parquet"), 24)
    return (cand
            .join(hint(deg.select(F.col("v").alias("a"),
                                  F.col("d").alias("da"))), "a")
            .join(hint(deg.select(F.col("v").alias("b"),
                                  F.col("d").alias("db"))), "b")
            .select("a", "b", "n_common",
                    # 4-decimal score via half-up INTEGER division on
                    # exact counts (the containment_pairs discipline):
                    # round(double, 4) straddles half boundaries
                    # differently per engine (Spark vs DuckDB).
                    (F.floor((F.col("n_common") * 20000
                              + (F.col("da") + F.col("db")
                                 - F.col("n_common")))
                             / ((F.col("da") + F.col("db")
                                 - F.col("n_common")) * 2))
                     / 10000.0).alias("score"))
            .orderBy(F.col("score").desc(), "a", "b").limit(50))


# --------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# --------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_MIN_W = 2
_KCORE_ROUNDS = 10
# The node-set broadcast budget lives in operators/_shared.py
# (nodeset_hint) so the operator layer (pagerank) shares the same
# resource rule; decided PER STEP and for free here: each loop already
# pays a count per round (k-core fixpoint test, BFS frontier probe),
# so a 100 TB graph starts on shuffled joins where the set is |V|-near
# (k-core round 1, a saturated BFS visited set) and drops to broadcast
# exactly when the count fits the budget.
_nodeset_hint = nodeset_hint


def _kcore_oracle(k: int, min_w: int, rounds: int) -> str:
    """Unrolled SQL mirror of the bounded peeling loop: each round is one
    CTE stage (degree filter + edge restriction), so the iterative
    algorithm is exactly expressible for a fixed round budget.

    Each stage references its predecessor three times (FROM + two IN
    filters); MATERIALIZED pins one evaluation per stage — the default
    inlining expands the chain 3^rounds-fold (observed as a
    too-many-open-files parquet re-scan storm)."""
    parts = [f"""WITH ew AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT DISTINCT x.l_orderkey, x.l_partkey AS a, y.l_partkey AS b
    FROM lineitem x JOIN lineitem y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)
  GROUP BY a, b HAVING count(*) >= {min_w}),
e0 AS (SELECT a, b FROM ew)"""]
    for r in range(1, rounds + 1):
        p = f"e{r - 1}"
        parts.append(f""",
k{r} AS MATERIALIZED (SELECT s FROM (SELECT a AS s FROM {p}
                        UNION ALL SELECT b FROM {p}) u
         GROUP BY s HAVING count(*) >= {k}),
e{r} AS MATERIALIZED (SELECT a, b FROM {p}
         WHERE a IN (SELECT s FROM k{r}) AND b IN (SELECT s FROM k{r}))""")
    parts.append(f"""
SELECT CAST(s AS BIGINT) AS node, count(*) AS core_degree
FROM (SELECT a AS s FROM e{rounds} UNION ALL SELECT b FROM e{rounds}) u
GROUP BY s""")
    return "\n".join(parts)


@register("graph_kcore",
          oracle=_kcore_oracle(_KCORE_K, _KCORE_MIN_W, _KCORE_ROUNDS),
          covers=("G.graph.kcore",))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the repeat co-occurrence graph (parts co-bought in >= 2
    distinct orders): iteratively peel nodes with degree < k until
    fixpoint, returning each surviving node with its within-core degree.
    The standard "dense engagement subgraph" extraction (spam rings,
    core communities) the flat component/PageRank surface can't express.

    Peeling is a Pregel-style loop of two |V|-sized steps: degree count
    (one map-side-combined groupBy over the CURRENT edge set) and edge
    restriction (two semi-joins against the survivor set).  The
    semi-join alignment is decided PER ROUND from the edge count the
    fixpoint test already pays for (:func:`_nodeset_hint` on 2|E|, a
    survivor bound — broadcast within the 512 MiB budget, shuffled
    above it): round 1 of a 100 TB graph keeps nearly |V| survivors,
    far past any build side, then the monotone shrink crosses into
    broadcast territory and later rounds go exchange-free on the
    survivor side.  Edges start df-gated by the min-weight threshold;
    the :func:`fixpoint` loop early-exits when the edge count is stable
    (a peel removes an edge exactly when it removes a node, so further
    rounds provably no-op and the result equals the oracle's fixed
    {rounds}-round unroll).  At 100 TB: k-core peeling touches only
    |V|+|E| per round and the round count is bounded by the degeneracy
    ordering depth; salt the degree groupBy if a hub key dominates."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per = (li.groupBy("l_orderkey")
           .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")))
    pairs = F.flatten(F.transform("ps", lambda x, i: F.transform(
        F.slice("ps", i + F.lit(2), F.size("ps")),
        lambda y: F.struct(x.alias("a"), y.alias("b")))))
    edges = (per.select(F.explode(pairs).alias("p"))
             .groupBy(F.col("p.a").cast("long").alias("a"),
                      F.col("p.b").cast("long").alias("b"))
             .agg(F.count(F.lit(1)).alias("w"))
             .filter(F.col("w") >= _KCORE_MIN_W)
             .select("a", "b"))
    # The edge BUILD runs at the session width, which is the user's
    # cluster-sized setting; only the peel rounds pin the data-sized
    # _loop_width (floor 16 = the r4 fixture A/B: 8 under-parallelizes
    # the edge-sized reduces, kcore warm at sf0.1: 3.13s@8 -> 2.91s@16;
    # the r10 multi-decade study showed fixture constants strangle the
    # third decade — see the LPA probe).  The build is cut lazily and
    # materialized by the count that sizes the width.
    edges = edges.localCheckpoint(eager=False)
    sizes = [edges.count()]  # edge count per round; each probe adds one

    def peel(edges: DataFrame, _i: int) -> DataFrame:
        incid = edges.select(F.col("a").alias("s")).unionByName(
            edges.select(F.col("b").alias("s")))
        keep = (incid.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= _KCORE_K).select("s"))
        hint = _nodeset_hint(2 * sizes[-1])  # survivors <= 2|E| endpoints
        return (edges
                .join(hint(keep.withColumnRenamed("s", "a")), "a", "semi")
                .join(hint(keep.withColumnRenamed("s", "b")), "b", "semi"))

    def probe(edges: DataFrame) -> int:
        sizes.append(edges.count())
        return sizes[-1]

    # 2x: edges holds a<b pairs but every peel round streams the
    # SYMMETRIZED incidence (the unionByName in peel is 2|E| rows) —
    # the 70k-rows/partition density was calibrated on LPA's
    # symmetrized stream, so feed it the same row count here or the
    # loop sizes ~2x narrower than calibrated (r10 ADVICE)
    edges = fixpoint(edges, peel, rounds=_KCORE_ROUNDS, probe=probe,
                     until=operator.eq,
                     width=_loop_width(2 * sizes[0],
                                       spark.sparkContext.defaultParallelism))
    return (edges.select(F.col("a").alias("node")).unionByName(
                edges.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("core_degree")))


# --------------------------------------------------------------------------
# Entity resolution (blocking -> pairwise scoring -> components)
# --------------------------------------------------------------------------

_ER_RECS_SQL = """
SELECT c_custkey*10 AS rid, c_name AS name,
       c_nationkey AS nk, c_acctbal AS bal FROM customer
UNION ALL
SELECT c_custkey*10+1, replace(c_name, '#00', '#0O'),
       c_nationkey, c_acctbal + 0.37
FROM customer WHERE c_custkey % 3 = 0
UNION ALL
SELECT c_custkey*10+2, replace(c_name, 'Customer', 'Custmer'),
       c_nationkey, c_acctbal + 0.81
FROM customer WHERE c_custkey % 9 = 0"""


@register(
    "entity_resolution_customers",
    oracle=f"""
WITH RECURSIVE recs AS MATERIALIZED ({_ER_RECS_SQL}),
e AS MATERIALIZED (
  SELECT a.rid AS src, b.rid AS dst FROM recs a JOIN recs b
    ON a.nk = b.nk AND right(a.name, 3) = right(b.name, 3)
   AND a.rid < b.rid
   AND levenshtein(a.name, b.name) <= 3 AND abs(a.bal - b.bal) <= 1.0),
ud AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
reach(rid, r) AS (
  SELECT rid, rid FROM recs
  UNION
  SELECT ud.dst, reach.r FROM reach JOIN ud ON ud.src = reach.rid)
SELECT rid, min(r) AS entity_id FROM reach GROUP BY rid
""",
    covers=("G.analytics.entity_resolution",),
)
def q_entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over a deterministically-duplicated customer
    file: records are the base customers plus two perturbed copies (a
    0->O name typo for every 3rd key, a dropped letter for every 9th, a
    small balance drift on both — so some entities are 3-record CHAINS
    that need transitive closure, not just pair matching).  The classic
    blocking -> pairwise-score -> connected-components pipeline:

    - Blocking on (nationkey, last-3-of-name) — both stable under the
      injected typos — turns the O(n²) all-pairs comparison into a
      per-block equi-join; block sizes are data-bounded, so the match
      join output stays linear at scale.
    - Pair scoring inside blocks only: levenshtein <= 3 AND balance
      drift <= 1.0 (JVM-side edit distance, no UDF).
    - Cluster labels via the shared hash-to-min components loop
      (operators/dedup.py connected_components: one narrow shuffle per
      round, localCheckpoint-bounded lineage); entity id = min record
      id reachable, verified against a recursive-CTE reachability
      oracle.

    Resolves the sf0.01 file's 2167 records to exactly its 1500 true
    entities.  At 100 TB: blocking keys are the whole game — add a
    second pass with a different key (phonetic, zip) and union the edge
    sets; the components loop is unchanged."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal")
    base = c.select((F.col("c_custkey") * 10).alias("rid"),
                    F.col("c_name").alias("name"),
                    F.col("c_nationkey").alias("nk"),
                    F.col("c_acctbal").alias("bal"))
    t1 = (c.filter(F.col("c_custkey") % 3 == 0)
          .select((F.col("c_custkey") * 10 + 1).alias("rid"),
                  F.replace("c_name", F.lit("#00"), F.lit("#0O"))
                   .alias("name"),
                  F.col("c_nationkey").alias("nk"),
                  (F.col("c_acctbal") + 0.37).alias("bal")))
    t2 = (c.filter(F.col("c_custkey") % 9 == 0)
          .select((F.col("c_custkey") * 10 + 2).alias("rid"),
                  F.replace("c_name", F.lit("Customer"), F.lit("Custmer"))
                   .alias("name"),
                  F.col("c_nationkey").alias("nk"),
                  (F.col("c_acctbal") + 0.81).alias("bal")))
    # The record table feeds three consumers (both blocking-join sides
    # and the components vertex frame), and the components loop re-reads
    # the edge frame per round — materialize recs once instead of
    # rebuilding the 3-scan union per reference (audited: 18 customer
    # scans -> 3).
    recs_build = (base.unionByName(t1).unionByName(t2)
                  .withColumn("blk", F.expr("right(name, 3)")))
    recs = materialize_shared(recs_build)
    a, b = recs.alias("a"), recs.alias("b")
    edges = (a.join(b, (F.col("a.nk") == F.col("b.nk"))
                    & (F.col("a.blk") == F.col("b.blk"))
                    & (F.col("a.rid") < F.col("b.rid"))
                    & (F.levenshtein(F.col("a.name"), F.col("b.name")) <= 3)
                    & (F.abs(F.col("a.bal") - F.col("b.bal")) <= 1.0))
             .select(F.col("a.rid").alias("src"),
                     F.col("b.rid").alias("dst")))
    from ab_metadata_pusher_spark.operators.dedup import connected_components
    labels = connected_components(recs.select(F.col("rid").alias("id")),
                                  edges, shuffle_partitions=8)
    return labels.select(F.col("id").alias("rid"),
                         F.col("label").alias("entity_id"))


# --------------------------------------------------------------------------
# Z-order layout clustering (data-skipping quality report)
# --------------------------------------------------------------------------

_Z_BITS = 8


def _zorder_oracle() -> str:
    from ab_metadata_pusher_spark.operators.layout import zorder_sql
    return f"""
WITH ext AS (SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
                    min(l_suppkey) AS mins, max(l_suppkey) AS maxs
             FROM lineitem),
q AS (SELECT
        CAST(floor((l_partkey - minp) * {1 << _Z_BITS}
                   / (maxp - minp + 1)) AS BIGINT) AS px,
        CAST(floor((l_suppkey - mins) * {1 << _Z_BITS}
                   / (maxs - mins + 1)) AS BIGINT) AS sx
      FROM lineitem, ext),
z AS (SELECT px, sx, {zorder_sql('px', 'sx', _Z_BITS)} AS z FROM q)
SELECT z >> 11 AS bucket, count(*) AS n,
       min(px) AS min_px, max(px) AS max_px,
       min(sx) AS min_sx, max(sx) AS max_sx
FROM z GROUP BY bucket
"""


@register("layout_zorder_stats", oracle=_zorder_oracle(),
          covers=("G.layout.zorder",))
def q_layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout clustering over (l_partkey,
    l_suppkey): quantize both keys to an 8-bit grid, interleave the bits,
    and report per-z-range file statistics — the min/max envelope each of
    32 equal z-ranges would carry as parquet footer stats.  Every bucket
    covers ~1/6 of EACH key's range (vs. a (partkey, suppkey) sort, where
    suppkey's envelope is the full range in every file): a filter on
    either column alone prunes ~5/6 of a z-ordered table's files.

    The whole computation is integer shift/and/add inside whole-stage
    codegen — no UDF, no sort; the only shuffle is the 32-row final
    aggregate (extent scan is a separate 1-row agg broadcast back).
    Writing the layout at 100 TB is
    ``df.repartitionByRange(n, zcol).sortWithinPartitions(zcol)`` —
    range partitioning samples the z-key distribution, so skew in the
    raw keys doesn't unbalance files."""
    from ab_metadata_pusher_spark.operators.layout import (
        quantize, zorder_value)
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ext = li.agg(F.min("l_partkey").alias("minp"),
                 F.max("l_partkey").alias("maxp"),
                 F.min("l_suppkey").alias("mins"),
                 F.max("l_suppkey").alias("maxs"))
    q = li.crossJoin(F.broadcast(ext)).select(
        quantize(F.col("l_partkey"), F.col("minp"), F.col("maxp"),
                 _Z_BITS).alias("px"),
        quantize(F.col("l_suppkey"), F.col("mins"), F.col("maxs"),
                 _Z_BITS).alias("sx"))
    z = q.select("px", "sx",
                 zorder_value(F.col("px"), F.col("sx"), _Z_BITS).alias("z"))
    return (z.groupBy(F.shiftright("z", 11).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("px").alias("min_px"), F.max("px").alias("max_px"),
                 F.min("sx").alias("min_sx"), F.max("sx").alias("max_sx")))


@register(
    "analytics_winsorize",
    oracle="""
WITH p AS (SELECT l_returnflag,
                  quantile_cont(l_extendedprice, 0.05) AS lo,
                  quantile_cont(l_extendedprice, 0.95) AS hi
           FROM lineitem GROUP BY l_returnflag)
SELECT l.l_returnflag, count(*) AS n,
       CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_hi,
       round(sum(least(greatest(l_extendedprice, lo), hi)), 2)
           AS sum_winsorized
FROM lineitem l JOIN p USING (l_returnflag)
GROUP BY l.l_returnflag
""",
    covers=("G.analytics.winsorize",),
)
def q_analytics_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip l_extendedprice to its group's
    [p05, p95] band and report how much mass was clipped — the robust-
    statistics companion to analytics_outliers_mad (clip, don't drop).
    Feature normalization for quality scoring does exactly this before
    z-scaling so one crawl artifact can't stretch the scale.

    Two passes sharing one shuffle key: an exact per-group percentile
    pair (3-row frame, broadcast back onto the rows) and one
    map-side-combined aggregate of the clipped values.  The fact table is
    scanned twice but shuffled zero times (the final groupBy rides the
    broadcast join's partitioning of a 3-key column — AQE coalesces).
    At 100 TB swap F.percentile for percentile_approx to avoid the
    per-group sort; the clip pass is unchanged."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag",
                                              "l_extendedprice")
    pct = F.percentile("l_extendedprice",
                       F.array(F.lit(0.05), F.lit(0.95)))
    bands = (li.groupBy("l_returnflag")
             .agg(pct.getItem(0).alias("lo"), pct.getItem(1).alias("hi")))
    x = F.col("l_extendedprice")
    return (li.join(F.broadcast(bands), "l_returnflag")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(x < F.col("lo"), 1).otherwise(0))
                  .alias("n_clipped_lo"),
                 F.sum(F.when(x > F.col("hi"), 1).otherwise(0))
                  .alias("n_clipped_hi"),
                 F.round(F.sum(F.least(F.greatest(x, F.col("lo")),
                                       F.col("hi"))), 2)
                  .alias("sum_winsorized")))


@register(
    "analytics_ks_drift",
    oracle="""
WITH pop AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS gb
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
tot AS (SELECT CAST(sum(ga) AS BIGINT) AS na,
               CAST(sum(gb) AS BIGINT) AS nb FROM pop),
pv AS (SELECT v, CAST(sum(ga) AS BIGINT) AS ca,
               CAST(sum(gb) AS BIGINT) AS cb FROM pop GROUP BY v),
cum AS (SELECT sum(ca) OVER (ORDER BY v) AS cca,
               sum(cb) OVER (ORDER BY v) AS ccb FROM pv)
SELECT round(max(abs(cca / CAST(na AS DOUBLE)
                     - ccb / CAST(nb AS DOUBLE))), 6) AS ks_stat,
       max(na) AS na, max(nb) AS nb
FROM cum, tot
""",
    covers=("G.analytics.ks_drift",),
)
def q_analytics_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the order-
    price distributions of two priority classes — the standard
    distribution-drift alarm for a corpus/feature pipeline (did this
    week's crawl shift the length/score distribution?).

    Shape: per-VALUE counts first (one map-side-combinable groupBy), so
    the global-order cumulative window runs over the distinct-value
    frame, not the fact table — cardinality-bounded, orders of magnitude
    smaller.  That unpartitioned running sum is the honest cost of the
    EXACT statistic; at 100 TB bound the distinct frame with fixed-grid
    binning (the binned ECDF's KS error is at most one bin's mass) and
    the rest of the plan is unchanged."""
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")))
    pop = o.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("ga"),
        (F.col("o_orderpriority") == "5-LOW").cast("long").alias("gb"))
    pv = pop.groupBy("v").agg(F.sum("ga").alias("ca"),
                              F.sum("gb").alias("cb"))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = pv.select(F.sum("ca").over(w).alias("cca"),
                    F.sum("cb").over(w).alias("ccb"))
    tot = pop.agg(F.sum("ga").alias("na"), F.sum("gb").alias("nb"))
    return (cum.crossJoin(F.broadcast(tot))
            .agg(F.round(F.max(F.abs(F.col("cca") / F.col("na")
                                     - F.col("ccb") / F.col("nb"))), 6)
                  .alias("ks_stat"),
                 F.max("na").alias("na"), F.max("nb").alias("nb")))


@register(
    "analytics_chi_square",
    oracle="""
WITH cells AS (SELECT event_type AS et, user_id % 4 AS ub, count(*) AS o
               FROM events GROUP BY et, ub),
m AS (SELECT et, ub, o,
             sum(o) OVER (PARTITION BY et) AS rt,
             sum(o) OVER (PARTITION BY ub) AS ct,
             sum(o) OVER () AS n
      FROM cells)
SELECT round(sum(power(o - rt * ct / CAST(n AS DOUBLE), 2)
                 / (rt * ct / CAST(n AS DOUBLE))), 4) AS chi2,
       CAST((count(DISTINCT et) - 1) * (count(DISTINCT ub) - 1)
            AS BIGINT) AS dof
FROM m
""",
    covers=("G.analytics.chi_square",),
)
def q_analytics_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and a user
    bucket (the categorical drift companion to the KS statistic's
    numeric one): contingency counts, expected values from the margins,
    sum of (O−E)²/E plus degrees of freedom.

    Everything after the first groupBy operates on the contingency table
    itself — #types × #buckets rows — so margins via window sums and
    the final fold are free at any input scale; the single real cost is
    one map-side-combined count shuffle over the fact table."""
    ev = _t(spark, sf_dir, "events")
    cells = (ev.groupBy(F.col("event_type").alias("et"),
                        (F.col("user_id") % 4).alias("ub"))
             .agg(F.count(F.lit(1)).alias("o")))
    m = cells.select(
        "et", "ub", "o",
        F.sum("o").over(Window.partitionBy("et")).alias("rt"),
        F.sum("o").over(Window.partitionBy("ub")).alias("ct"),
        F.sum("o").over(
            Window.partitionBy()).alias("n"))
    e = F.col("rt") * F.col("ct") / F.col("n").cast("double")
    return m.agg(
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e), 4).alias("chi2"),
        ((F.countDistinct("et") - 1)
         * (F.countDistinct("ub") - 1)).alias("dof"))


# --------------------------------------------------------------------------
# Multivariate OLS from one-pass sufficient statistics
# --------------------------------------------------------------------------

#: Cramer's-rule solve of the 3x3 normal equations over the named sums —
#: ONE expression text evaluated by both engines (Spark selectExpr and
#: the DuckDB oracle), so the algebra cannot diverge.
_OLS_DET = ("(n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)"
            " + s2*(s1*s12 - s11*s2))")
_OLS_EXPRS = {
    "b0": ("(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
           " + s2*(s1y*s12 - s11*s2y))"),
    "b1": ("(n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)"
           " + s2*(s1*s2y - s1y*s2))"),
    "b2": ("(n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)"
           " + sy*(s1*s12 - s11*s2))"),
}
_OLS_SELECT = ", ".join(
    [f"round({e} / {_OLS_DET}, 6) AS {k}" for k, e in _OLS_EXPRS.items()]
    + [("round(1 - (syy - ({b0}*sy + {b1}*s1y + {b2}*s2y) / {d})"
        " / (syy - sy*sy/n), 6) AS r2").format(
           b0=_OLS_EXPRS['b0'], b1=_OLS_EXPRS['b1'],
           b2=_OLS_EXPRS['b2'], d=_OLS_DET)])

_OLS_SUMS = """
  count(*) AS n,
  sum(l_quantity) AS s1, sum(l_discount) AS s2,
  sum(l_quantity * l_quantity) AS s11,
  sum(l_quantity * l_discount) AS s12,
  sum(l_discount * l_discount) AS s22,
  sum(l_extendedprice) AS sy,
  sum(l_quantity * l_extendedprice) AS s1y,
  sum(l_discount * l_extendedprice) AS s2y,
  sum(l_extendedprice * l_extendedprice) AS syy"""


@register(
    "analytics_ols_normal_equations",
    oracle=f"""
WITH s AS (SELECT {_OLS_SUMS}
           FROM lineitem)
SELECT {_OLS_SELECT} FROM
(SELECT CAST(n AS DOUBLE) AS n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy
 FROM s)
""",
    covers=("G.analytics.ols",),
)
def q_analytics_ols_normal_equations(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Multivariate least squares (extendedprice ~ quantity + discount +
    intercept) solved from ONE distributed pass: accumulate the 10
    sufficient statistics (X'X and X'y entries, map-side combinable,
    9 doubles of shuffle traffic total), then apply Cramer's rule to the
    3x3 normal equations on the 1-row frame — coefficients AND R² with
    zero further data passes.  This is how closed-form ML fits at
    100 TB: the data never moves, only the Gramian does (the same
    pattern as embedding_covariance's d² partials, here taken all the
    way to the solved model).  agg_regression covers the univariate
    regr_slope surface; this is the general normal-equations form.
    Both engines evaluate the IDENTICAL solve expression over their own
    aggregation of the same rows."""
    li = _t(spark, sf_dir, "lineitem")
    q, d, y = (F.col("l_quantity"), F.col("l_discount"),
               F.col("l_extendedprice"))
    sums = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("s1"), F.sum(d).alias("s2"),
        F.sum(q * q).alias("s11"), F.sum(q * d).alias("s12"),
        F.sum(d * d).alias("s22"),
        F.sum(y).alias("sy"), F.sum(q * y).alias("s1y"),
        F.sum(d * y).alias("s2y"), F.sum(y * y).alias("syy"))
    return sums.selectExpr(*_split_ols_select())


def _split_ols_select() -> list[str]:
    """Split the shared SELECT list into individual expressions for
    selectExpr (top-level commas only)."""
    parts, depth, cur = [], 0, []
    for ch in _OLS_SELECT:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


# --------------------------------------------------------------------------
# Spatial proximity join (grid-cell bucketing, no all-pairs)
# --------------------------------------------------------------------------

_GEO_CELL = 0.02   # degrees per grid cell
_GEO_RADIUS = 0.015  # match radius (deg) — strictly inside one cell ring


def _geo_oracle() -> str:
    from ab_metadata_pusher_spark.functions.hashing import sql_md5_long
    lat_h = sql_md5_long("'lat:' || CAST(c_custkey AS VARCHAR)")
    lon_h = sql_md5_long("'lon:' || CAST(c_custkey AS VARCHAR)")
    lat = f"(({lat_h} % 10000) / 10000.0 + 50)"
    lon = f"(({lon_h} % 10000) / 10000.0 + 8)"
    return f"""
WITH pts AS MATERIALIZED (
  SELECT c_custkey AS pid, {lat} AS lat, {lon} AS lon FROM customer),
cells AS (SELECT pid, lat, lon,
                 CAST(floor(lat / {_GEO_CELL}) AS BIGINT) AS cy,
                 CAST(floor(lon / {_GEO_CELL}) AS BIGINT) AS cx
          FROM pts),
expanded AS (
  SELECT pid, lat, lon, cy + dy.d AS cy, cx + dx.d AS cx
  FROM cells,
       (VALUES (-1), (0), (1)) dy(d), (VALUES (-1), (0), (1)) dx(d)),
pairs AS (
  SELECT a.pid AS pid_a, b.pid AS pid_b,
         sqrt((a.lat - b.lat) * (a.lat - b.lat)
              + (a.lon - b.lon) * (a.lon - b.lon)) AS deg_dist
  FROM expanded a JOIN cells b ON a.cy = b.cy AND a.cx = b.cx
  WHERE a.pid < b.pid)
SELECT pid_a, pid_b, round(deg_dist, 6) AS deg_dist
FROM pairs WHERE deg_dist < {_GEO_RADIUS}
"""


@register("join_geo_proximity", oracle=_geo_oracle(),
          covers=("G.join.geo_proximity",))
def q_join_geo_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity self-join: all point pairs within a 0.015°
    radius, found by GRID-CELL bucketing — one side explodes into its
    3x3 neighbor cells, the other stays put, candidates come from a
    plain equi-join on the cell key and only they pay the exact distance
    check.  The spatial analog of the LSH-band near-dup joins: work is
    proportional to local density², never n².  Each unordered pair
    surfaces exactly once (the 3x3 ring of a covers every cell b can
    occupy; a < b orders it), so no post-join dedup.

    Coordinates are md5-derived from the customer key inside a 1°x1° box
    (the fixtures carry no geo columns; the shared cross-engine hash
    family makes both engines see identical points).  At 100 TB this is
    the standard geohash/S2 join shape: pick the cell size >= the match
    radius, salt only the few cells that are urban-dense."""
    from ab_metadata_pusher_spark.functions.hashing import md5_long
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    key = F.col("c_custkey").cast("string")
    lat = (F.pmod(md5_long(F.concat(F.lit("lat:"), key)), F.lit(10000))
           / 10000.0 + 50)
    lon = (F.pmod(md5_long(F.concat(F.lit("lon:"), key)), F.lit(10000))
           / 10000.0 + 8)
    pts = c.select(F.col("c_custkey").alias("pid"),
                   lat.alias("lat"), lon.alias("lon"))
    cells = pts.select(
        "pid", "lat", "lon",
        F.floor(F.col("lat") / _GEO_CELL).cast("bigint").alias("cy"),
        F.floor(F.col("lon") / _GEO_CELL).cast("bigint").alias("cx"))
    ring = F.array(*[F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
                     for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
    expanded = (cells.select("pid", "lat", "lon", "cy", "cx",
                             F.explode(ring).alias("d"))
                .select("pid", "lat", "lon",
                        (F.col("cy") + F.col("d.dy")).alias("cy"),
                        (F.col("cx") + F.col("d.dx")).alias("cx")))
    a, b = expanded.alias("a"), cells.alias("b")
    dlat = F.col("a.lat") - F.col("b.lat")
    dlon = F.col("a.lon") - F.col("b.lon")
    dist = F.sqrt(dlat * dlat + dlon * dlon)
    return (a.join(b, (F.col("a.cy") == F.col("b.cy"))
                   & (F.col("a.cx") == F.col("b.cx"))
                   & (F.col("a.pid") < F.col("b.pid")))
            .withColumn("deg_dist", dist)
            .filter(F.col("deg_dist") < _GEO_RADIUS)
            .select(F.col("a.pid").alias("pid_a"),
                    F.col("b.pid").alias("pid_b"),
                    F.round("deg_dist", 6).alias("deg_dist")))


@register(
    "analytics_skyline_2d",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderdate
FROM orders a
WHERE NOT EXISTS (
  SELECT 1 FROM orders b
  WHERE (b.o_totalprice < a.o_totalprice
         AND b.o_orderdate <= a.o_orderdate)
     OR (b.o_totalprice <= a.o_totalprice
         AND b.o_orderdate < a.o_orderdate))
""",
    covers=("G.analytics.skyline",),
)
def q_analytics_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline (minimize price AND date): orders no other
    order beats on both dimensions — the multi-criteria shortlist
    behind "cheapest recent" product/result pages.  The oracle states
    the quadratic NOT-EXISTS dominance definition; the engine computes
    the same set in O(n log n) with the sort-sweep identity — a point
    survives iff its date is strictly below every smaller-price point's
    running date minimum (ties grouped so equal-price points can't
    knock each other out).

    The sweep is two-level: a per-partition LOCAL skyline first
    (dominance is transitive, so any point dominated within a partition
    is dominated globally — the local pass is a parallel
    superset-filter), then the global sort-sweep over only the union of
    partition skylines.  The global single-partition window — the one
    stage that can't parallelize — therefore sees the survivor set, not
    the corpus, which is what lets the same plan run at 100 TB.

    Ties need care in the sweep: sorting DISTINCT (price, date) pairs by
    (price, date) makes "running date-min of all preceding pairs" a
    complete dominance witness — an equal-price earlier-date pair and a
    cheaper equal-date pair both land before the victim and push the min
    to <= its date, while exact-duplicate points (which dominate nothing)
    collapse into one surviving pair and rejoin at the end."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate")
    pairs = o.select("o_totalprice", "o_orderdate").distinct()
    d = F.col("o_orderdate").cast("timestamp_ltz").cast("double")

    def sweep(df: DataFrame, w: Window) -> DataFrame:
        return (df.withColumn("min_d_before", F.min(d).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)))
                .filter(F.col("min_d_before").isNull()
                        | (d < F.col("min_d_before")))
                .select("o_totalprice", "o_orderdate"))

    local = sweep(pairs.withColumn("pid", F.spark_partition_id()),
                  Window.partitionBy("pid")
                  .orderBy("o_totalprice", "o_orderdate"))
    sky = sweep(local, Window.orderBy("o_totalprice", "o_orderdate"))
    return (o.join(sky, ["o_totalprice", "o_orderdate"], "semi")
            .select("o_orderkey",
                    F.round("o_totalprice", 2).alias("price"),
                    "o_orderdate"))


@register(
    "events_trigram_paths",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_type || '>' || e2 || '>' || e3 AS path,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path LIMIT 20
""",
    covers=("G.analytics.paths",),
)
def q_events_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step behavioral paths (the order-2 sequence view the
    order-1 events_markov_transitions can't show — 'view>click>purchase'
    vs just pairwise hops): per-user time-ordered lead windows build the
    trigrams in one pass, then a global count keyed on the path string.
    Ties in the top-20 cut break on the path text so the cut is
    deterministic in both engines.

    One shuffle on user_id for the windows (reused across both leads),
    one map-side-combined count on a key space bounded by |event_types|³
    — at 100 TB the path-count frame, not the event stream, is what the
    final ORDER BY touches."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (seq.filter(F.col("e3").isNotNull())
            .select(F.concat_ws(">", "event_type", "e2", "e3")
                    .alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "path").limit(20))


@register(
    "events_rfm_segments",
    oracle="""
WITH u AS (
  SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
         round(sum(value), 2) AS monetary
  FROM events GROUP BY user_id),
q AS (
  SELECT user_id, freq, monetary,
         ntile(5) OVER (ORDER BY last_ts, user_id) AS r,
         ntile(5) OVER (ORDER BY freq, user_id) AS f,
         ntile(5) OVER (ORDER BY monetary, user_id) AS m
  FROM u)
SELECT r::VARCHAR || f::VARCHAR || m::VARCHAR AS segment,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(freq), 4) AS avg_freq,
       round(avg(monetary), 4) AS avg_monetary
FROM q GROUP BY segment
""",
    covers=("G.analytics.rfm",),
)
def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles — the
    standard behavioral-cohort cut): one per-user aggregate, three
    ntile(5) ranks over it, segment = the concatenated quintile code,
    reported with per-segment size and averages.  Quintile ties break on
    user_id so the bucket boundaries are identical in both engines.

    The user frame (not the event stream) carries all three windows —
    #users rows through each ntile sort; at 100 TB replace exact ntile
    with percentile_approx cutpoints and a range join, keeping the same
    segment codes."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    u = (ev.groupBy("user_id")
         .agg(F.max("ts").alias("last_ts"),
              F.count(F.lit(1)).alias("freq"),
              F.round(F.sum("value"), 2).alias("monetary")))
    r = F.ntile(5).over(Window.orderBy("last_ts", "user_id"))
    f = F.ntile(5).over(Window.orderBy("freq", "user_id"))
    m = F.ntile(5).over(Window.orderBy("monetary", "user_id"))
    q = u.select("freq", "monetary", r.alias("r"), f.alias("f"),
                 m.alias("m"))
    return (q.select(F.concat(F.col("r").cast("string"),
                              F.col("f").cast("string"),
                              F.col("m").cast("string")).alias("segment"),
                     "freq", "monetary")
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.round(F.avg("freq"), 4).alias("avg_freq"),
                 F.round(F.avg("monetary"), 4).alias("avg_monetary")))


@register(
    "orders_basket_lift",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
      FROM ob),
sup AS (SELECT l_partkey, count(*) AS s FROM ob GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS s_ab
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb HAVING count(*) >= 2)
SELECT pa, pb, CAST(s_ab AS BIGINT) AS support,
       round(s_ab / CAST(sa.s AS DOUBLE), 4) AS confidence,
       round(s_ab * n.n_orders / (sa.s * CAST(sb.s AS DOUBLE)), 4)
         AS lift
FROM pairs
JOIN sup sa ON sa.l_partkey = pairs.pa
JOIN sup sb ON sb.l_partkey = pairs.pb
CROSS JOIN n
ORDER BY lift DESC, pa, pb LIMIT 20
""",
    covers=("G.analytics.basket",),
)
def q_orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts: support
    (co-occurrence count, min 2), confidence (P(b|a)) and lift
    (observed / expected-under-independence), top 20 by lift — the
    metric layer on top of the raw co-occurrence edges the graph
    queries use.  Support-gating BEFORE the metric joins is the Apriori
    downward-closure step: only pairs that clear min-support pay for
    their margins.

    The pair counts reuse the per-order sorted-array expansion (one
    groupBy shuffle, no fact self-join — the oracle states the
    self-join); the margin frames broadcast within the
    :func:`_nodeset_hint` budget (they are |parts|-keyed — a dimension
    that outgrows a build side at extreme scale).  Ties in the top-20
    cut break on the pair key, deterministic in both engines.

    EVERYTHING derives from the per-order distinct-part arrays: the
    pair expansion, the per-part supports (explode — identical to
    counting distinct (order, part) rows), and the order count.  The
    r4 form scanned + shuffled lineitem separately for each (three fact
    scans); `per` is materialized once and the fact table is read
    exactly once — the same one-corpus-pass discipline as the graph
    adjacencies."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_build = (li.groupBy("l_orderkey")
                 .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps")))
    per = materialize_shared(per_build)
    pairs_col = F.flatten(F.transform("ps", lambda x, i: F.transform(
        F.slice("ps", i + F.lit(2), F.size("ps")),
        lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
    pairs = (per.select(F.explode(pairs_col).alias("p"))
             .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
             .agg(F.count(F.lit(1)).alias("s_ab"))
             .filter(F.col("s_ab") >= 2))
    sup = (per.select(F.explode("ps").alias("l_partkey"))
           .groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s")))
    n = per.agg(F.count(F.lit(1)).cast("double").alias("n_orders"))
    # sup is |parts|-keyed: broadcast only within the node-set budget
    # (footer-counted upper bound -- no job at construction)
    hint = _nodeset_hint(parquet_rowcount(f"{sf_dir}/part.parquet"), 24)
    return (pairs
            .join(hint(sup.select(F.col("l_partkey").alias("pa"),
                                  F.col("s").alias("sa"))), "pa")
            .join(hint(sup.select(F.col("l_partkey").alias("pb"),
                                  F.col("s").alias("sb"))), "pb")
            .crossJoin(F.broadcast(n))
            .select("pa", "pb", F.col("s_ab").alias("support"),
                    F.round(F.col("s_ab") / F.col("sa").cast("double"), 4)
                     .alias("confidence"),
                    F.round(F.col("s_ab") * F.col("n_orders")
                            / (F.col("sa") * F.col("sb").cast("double")), 4)
                     .alias("lift"))
            .orderBy(F.col("lift").desc(), "pa", "pb").limit(20))
