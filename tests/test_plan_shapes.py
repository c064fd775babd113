"""Physical-plan shape regressions for plans repaired in round 4.

Each test pins the SHAPE that makes the query survive scale — not its
timing — so a refactor that silently reintroduces a single-partition
sort or a recomputed subplan fails fast.  Results themselves are
covered by the oracle-parity suite; these assert how Spark runs them.
"""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from ab_metadata_pusher_spark.plans.registry import queries  # noqa: E402


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _q(spark, sf_dir, name):
    return queries()[name](spark, sf_dir)


def test_weighted_sample_topk_is_take_ordered(spark, sf_dir):
    """Efraimidis-Spirakis top-k must plan as TakeOrderedAndProject
    (per-partition heap + merge), never a corpus-wide single-partition
    window sort, and needs no hash shuffle at all."""
    plan = _plan(_q(spark, sf_dir, "sample_weighted"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    """The BM25 top-10 ranks only the limit survivors: the scored set
    (every doc containing a query term) is corpus-sized for common
    terms, so the global sort must be a TakeOrdered, not a window."""
    plan = _plan(_q(spark, sf_dir, "text_bm25"))
    assert "TakeOrderedAndProject" in plan


def test_skyline_runs_local_sweep_before_global(spark, sf_dir):
    """The 2-D skyline must do a per-partition (spark_partition_id)
    sweep before the unparallelizable global window, so the global
    sort sees partition skylines, not every distinct pair."""
    plan = _plan(_q(spark, sf_dir, "analytics_skyline_2d"))
    assert plan.count("Window") >= 2
    assert "SPARK_PARTITION_ID" in plan.upper()


def test_link_prediction_expansion_is_parallel_and_cached(spark, sf_dir):
    """The deg² wedge expansion must read a fixed-width round-robin
    repartition (AQE coalesces the tiny |V|-row adjacency shuffle to
    ONE partition otherwise, serializing the Generate into a single
    task), and the adjacency must come from a materialized snapshot so
    the edge set and degree tables don't recompute the per-order pair
    expansion.  Since round 7 the snapshot strategy is conf-selected
    (operators/_shared.py): the bench pins MATERIALIZE_CONF=eager and
    gets the audited checkpoint shape (every consumer reads 'Scan
    ExistingRDD', no parquet re-scan of lineitem); the library default
    is lazy persist, whose InMemoryTableScan consumers equally share
    one materialization."""
    from ab_metadata_pusher_spark.operators._shared import (
        MATERIALIZE_CONF, release_materialized,
    )
    try:
        spark.conf.set(MATERIALIZE_CONF, "eager")
        for name in ("graph_link_prediction", "graph_link_prediction_capped"):
            plan = _plan(_q(spark, sf_dir, name))
            assert "RoundRobinPartitioning" in plan, name
            # every consumer (wedge expansion, anti-join edges, both
            # degree sides) reads the checkpointed adjacency RDD
            assert plan.count("Scan ExistingRDD") >= 3, name
            assert "lineitem" not in plan, (
                f"{name} recomputes the adjacency from the fact table")
    finally:
        spark.conf.unset(MATERIALIZE_CONF)
    # library default (lazy persist): all consumers read the ONE cached
    # adjacency — InMemoryTableScans appear, and lineitem is scanned at
    # most once (inside the cached relation's own build plan)
    plan = _plan(_q(spark, sf_dir, "graph_link_prediction_capped"))
    assert plan.count("InMemoryTableScan") >= 3, plan[:800]
    release_materialized(spark)


def _join_blocks(plan: str) -> list[tuple[str, str]]:
    """(operator, detail block) for every join node in a formatted plan.

    The formatted explain's detail section starts each operator block
    with ``(N) OpName`` and, for joins, lists the equi-join keys by
    column name — which lets a test pin the strategy of ONE specific
    join instead of banning an operator from the whole plan (r10
    ADVICE: a future unrelated legit SMJ must not fail these tests)."""
    import re
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    out = []
    for b in blocks:
        m = re.match(r"\(\d+\) (\S+)", b)
        if m and ("Join" in m.group(1) or "CartesianProduct" in m.group(1)):
            out.append((m.group(1), b))
    return out


def test_triangle_intersect_joins_are_shuffle_hash(spark, sf_dir):
    """The two adjacency joins feeding array_intersect must plan as
    ShuffledHashJoin, never sort-merge: the probe side is |E| rows
    carrying both sorted-neighbor arrays, and sorting that payload is
    what sent graph_triangles superlinear at the third measured decade
    (x100 of sf0.1: 270.7 s SMJ vs 46.8 s shuffle-hash, outputs equal —
    triangle_scale_probe.py, last in commit 9bc81c2; SCALE.md round-10
    entry).  Scoped to the joins keyed on the node columns a/b — other
    joins in the plan may choose any strategy."""
    import re

    from ab_metadata_pusher_spark.operators._shared import (
        release_materialized,
    )
    plan = _plan(_q(spark, sf_dir, "graph_triangles"))
    release_materialized(spark)
    intersect_joins = [
        (op, b) for op, b in _join_blocks(plan)
        if re.search(r"Left keys \[1\]: \[[ab]#\d+L?\]", b)]
    assert len(intersect_joins) >= 2, plan[:1200]
    wrong = [op for op, _ in intersect_joins if op != "ShuffledHashJoin"]
    assert not wrong, (wrong, plan[:1200])


def test_shingle_self_joins_are_shuffle_hash(spark, sf_dir):
    """The jaccard/containment candidate self-join must hash, not
    sort-merge: both sides are the Σ|shingles|-row kept stream keyed by
    the fat shingle string, and sorting them spills at scale (r10 x100
    A/B: 99.9 s SMJ vs 36.6 s shuffle-hash, outputs hash-equal —
    SCALE.md round-10 entry).  Scoped to the join keyed on ``shingle``
    — other joins in these plans may choose any strategy."""
    from ab_metadata_pusher_spark.operators._shared import (
        release_materialized,
    )
    for name in ("dedup_ngram_jaccard", "dedup_containment"):
        plan = _plan(_q(spark, sf_dir, name))
        release_materialized(spark)
        shingle_joins = [
            (op, b) for op, b in _join_blocks(plan)
            if "shingle#" in b.split("Join type:")[0]]
        assert shingle_joins, (name, plan[:1200])
        wrong = [op for op, _ in shingle_joins
                 if op != "ShuffledHashJoin"]
        assert not wrong, (name, wrong, plan[:1200])


def test_converted_plan_queries_are_lazy_at_construction(spark, sf_dir):
    """Every plan-level materialization converted from a hard-coded
    eager localCheckpoint to the shared selector (r6 VERDICT ask #4)
    must run NO Spark job at plan-construction time under the library
    default: callers can build these plans without executing them.
    The pair heads whose operators once took a per-call eager pin now
    follow the session conf too, and join the list.
    (entity_resolution_customers stays out: its connected-components
    loop is inherently iterative and acts during construction.)"""
    from ab_metadata_pusher_spark.operators._shared import (
        release_materialized,
    )
    converted = [
        "dedup_incremental_minhash", "dedup_bloom_incremental",
        "sample_dsir", "quality_ppl_buckets", "dedup_weighted_minhash",
        "graph_triangles", "graph_link_prediction",
        "graph_link_prediction_capped", "orders_basket_lift",
        "agg_countmin_sketch",
        "dedup_ngram_jaccard", "dedup_simhash_pairs",
        "dedup_minhash_verified", "dedup_edit_distance",
        "dedup_containment", "multimodal_phash_pairs", "dedup_ppjoin",
    ]
    sc = spark.sparkContext
    try:
        sc.setJobGroup("plan-construct", "construction must be lazy")
        plans = [(n, _q(spark, sf_dir, n)) for n in converted]
        # spark.read.parquet runs a 1-task footer/schema job per fresh
        # path — that's the READ, not a materialization.  Anything else
        # (checkpoint scans, aggregates) means construction executed.
        st = sc.statusTracker()
        executed = []
        for jid in st.getJobIdsForGroup("plan-construct"):
            info = st.getJobInfo(jid)
            stages = [st.getStageInfo(s) for s in info.stageIds]
            names = [s.name for s in stages if s is not None]
            if not all(n.startswith("parquet at ") for n in names):
                executed.append((jid, names))
        assert executed == [], f"construction ran Spark jobs: {executed}"
        for n, p in plans:
            assert p.limit(1).count() >= 0, n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_materialized(spark)


def test_spread_if_narrow_skips_wide_scans(spark, sf_dir):
    """The fixture-shape spread must be CONDITIONAL: a single-file scan
    gets the round-robin widening, a frame already at cluster width
    must pass through untouched (the r11 decade study measured the
    blanket repartition as a 1.5x pure-cost full shuffle on a 32-file
    x100 input)."""
    from ab_metadata_pusher_spark.operators._shared import spread_if_narrow

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_partkey")
    narrow = spread_if_narrow(li)
    assert "RoundRobinPartitioning" in _plan(narrow), (
        "single-file fixture scan should be widened")
    par = spark.sparkContext.defaultParallelism
    pre_spread = li.repartition(2 * par)
    # already wide: passed through untouched (same DataFrame object —
    # the AQE-formatted plan string double-counts exchanges, so object
    # identity is the reliable no-new-shuffle assertion)
    assert spread_if_narrow(pre_spread) is pre_spread


def test_spread_if_narrow_never_probes_post_shuffle_plans(spark, sf_dir):
    """r11 ADVICE: ``.rdd`` on a plan containing exchanges eagerly runs
    the upstream shuffle stages under AQE, so the helper's width probe
    must be reserved for scan-rooted frames.  Post-shuffle frames (agg,
    join, repartition roots) must come back UNTOUCHED — object identity,
    no probe, no hidden job."""
    from ab_metadata_pusher_spark.operators._shared import spread_if_narrow

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    agg = li.groupBy("l_orderkey").count()
    assert spread_if_narrow(agg) is agg
    joined = li.join(li.select("l_orderkey").distinct(), "l_orderkey")
    assert spread_if_narrow(joined) is joined
    # scan + projection/filter stays eligible (and actually spreads)
    scan = li.select("l_partkey").filter("l_partkey >= 0")
    assert spread_if_narrow(scan) is not scan


def test_hash_build_guard_drops_hint_past_budget(spark, sf_dir, caplog):
    """The guard's one rule: within the per-task budget it is silent and
    the returned frame carries the shuffle_hash hint (callers never
    apply it themselves); past the budget it logs the width arithmetic
    and returns the frame UNHINTED (the plan-level SHJ -> SMJ flip is
    pinned by test_hash_build_guard_flips_shj_to_smj_past_budget)."""
    import logging

    from ab_metadata_pusher_spark.operators._shared import hash_build_guard

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keyed = li.select("l_orderkey").distinct()
    with caplog.at_level(logging.WARNING,
                         logger="ab_metadata_pusher_spark.operators._shared"):
        caplog.clear()
        assert hash_build_guard(li, "test-build", budget_bytes=1) is li
        assert any("test-build" in r.message and "cannot spill" in r.message
                   and "dropping the shuffle_hash hint" in r.message
                   for r in caplog.records)
        caplog.clear()
        out = hash_build_guard(li, "test-build-ok")
        assert not caplog.records
        joins = _join_blocks(_plan(keyed.join(out, "l_orderkey")))
        assert joins and all(op == "ShuffledHashJoin" for op, _ in joins), \
            joins


def test_spread_if_narrow_bails_on_subquery_expressions(spark, sf_dir):
    """r12 ADVICE: a Filter/Project can HOST a shuffling subquery
    expression (IN / scalar subquery) that the child-only node walk
    never visits — probing ``.rdd`` there eagerly runs the subquery's
    exchange stages.  Such frames must come back untouched (object
    identity: no probe, no spread)."""
    from ab_metadata_pusher_spark.operators._shared import spread_if_narrow

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.createOrReplaceTempView("_spread_li")
    hosted = spark.sql("""
        SELECT l_partkey FROM _spread_li
        WHERE l_orderkey IN (SELECT max(l_orderkey) FROM _spread_li)""")
    assert spread_if_narrow(hosted) is hosted
    scalar = spark.sql("""
        SELECT l_partkey,
               (SELECT avg(l_quantity) FROM _spread_li) AS a
        FROM _spread_li""")
    assert spread_if_narrow(scalar) is scalar


def test_hash_build_guard_uses_pinned_coalesce_floor(spark, sf_dir,
                                                     caplog):
    """When the deployment pins spark.sql.adaptive.coalescePartitions.
    minPartitionNum, the guard divides by that worst-case post-coalesce
    width instead of the configured shuffle width — the same build that
    fits per-task at width 32 keeps its hint, and breaches the budget at
    a pinned floor of 1, where the guard says so and drops the hint."""
    import logging

    from ab_metadata_pusher_spark.operators._shared import hash_build_guard

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    size = int(li._jdf.queryExecution().optimizedPlan()
               .stats().sizeInBytes())
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width > 1
    budget = size // width + 1  # fits at full width, breaches at 1
    key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    logger = "ab_metadata_pusher_spark.operators._shared"
    with caplog.at_level(logging.WARNING, logger=logger):
        caplog.clear()
        assert hash_build_guard(li, "floor-unpinned",
                                budget_bytes=budget) is not li
        assert not caplog.records
        spark.conf.set(key, "1")
        try:
            assert hash_build_guard(li, "floor-pinned",
                                    budget_bytes=budget) is li
        finally:
            spark.conf.unset(key)
        assert any("floor-pinned" in r.message and "/ 1 shuffle" in r.message
                   for r in caplog.records)


def test_hash_build_guard_flips_shj_to_smj_past_budget(
        spark, sf_dir, caplog, monkeypatch):
    """Past budget (r12 VERDICT ask #3) the guard DROPS the shuffle_hash
    hint so Catalyst falls back to spillable sort-merge — a deployment
    whose width breaks the budget no longer OOMs the non-spillable hash
    build.  Same operator, same inputs: the shingle self-join plans SHJ
    within the budget and SMJ past it, and the RESULT is unchanged
    (hint choice is physical only)."""
    import logging

    from ab_metadata_pusher_spark.operators import _shared
    from ab_metadata_pusher_spark.operators._shared import (
        release_materialized,
    )

    def shingle_ops():
        plan = _plan(_q(spark, sf_dir, "dedup_ngram_jaccard"))
        release_materialized(spark)
        return [op for op, b in _join_blocks(plan)
                if "shingle#" in b.split("Join type:")[0]]

    def rows():
        out = sorted(map(tuple,
                         _q(spark, sf_dir, "dedup_ngram_jaccard").collect()))
        release_materialized(spark)
        return out

    logger = "ab_metadata_pusher_spark.operators._shared"
    with caplog.at_level(logging.WARNING, logger=logger):
        caplog.clear()
        assert shingle_ops() == ["ShuffledHashJoin"]
        assert not caplog.records
    hinted_rows = rows()

    monkeypatch.setattr(_shared, "HASH_BUILD_TASK_BUDGET_BYTES", 1)
    # on the tiny fixture Catalyst broadcasts the unhinted side; pin
    # auto-broadcast off so the scale-shaped fallback (spillable SMJ,
    # what a 100 TB build side would get) is the one asserted
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with caplog.at_level(logging.WARNING, logger=logger):
            caplog.clear()
            assert shingle_ops() == ["SortMergeJoin"]
            assert any("dropping the shuffle_hash hint" in r.message
                       for r in caplog.records)
        assert rows() == hinted_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)


def test_metadata_graph_is_one_generate_over_a_local_scan(spark, sf_dir):
    """to_nodes/to_relations each run as ONE Generate over
    table_metadata's aggregate with no shuffle at all: the catalog is a
    one-partition LocalTableScan, so the aggregate needs no Exchange and
    no pickled-RDD scan or Python worker runs; no Union either (each
    union branch re-ran the aggregation)."""
    import re

    from ab_metadata_pusher_spark.operators.graph import (
        to_nodes, to_relations,
    )
    from ab_metadata_pusher_spark.operators.metadata import table_metadata
    from ab_metadata_pusher_spark.sources.catalog import catalog_columns

    tm = table_metadata(catalog_columns(spark, sf_dir))
    for build in (to_nodes, to_relations):
        df = build(tm)
        df.collect()
        # the executed (final adaptive) plan, without its initial plan
        final = (df._jdf.queryExecution().executedPlan().toString()
                 .split("== Initial Plan ==")[0])
        node = r"^[\s:+|-]*(?:\*\(\d+\) )?"
        shuffles = re.findall(node + r"(?:Reused)?Exchange\b", final, re.M)
        assert len(shuffles) == 0, (build.__name__, final)
        assert len(re.findall(node + r"Generate\b", final, re.M)) == 1, (
            build.__name__, final)
        assert "Union" not in final, (build.__name__, final)
        assert "LocalTableScan" in final, (build.__name__, final)
        assert not re.search(
            r"ExistingRDD|PythonRDD|InPandas|InArrow|ArrowEvalPython|"
            r"BatchEvalPython", final), (build.__name__, final)
