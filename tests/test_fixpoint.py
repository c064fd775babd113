"""The shared fixpoint kernel (operators/_shared.py) on toy loops, and the
loops built on it releasing their session state when a round fails."""

from __future__ import annotations

import operator

import pytest
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators._shared import fixpoint

WIDTH = "spark.sql.shuffle.partitions"


def _climb(state, _i):
    """One round of a toy loop that reaches its fixpoint (every v == 5)."""
    return state.select("id", F.least(F.col("v") + 1, F.lit(5)).alias("v"))


def _sum_v(state):
    return state.agg(F.sum("v")).collect()[0][0]


def test_fixpoint_until_stops_early_and_matches_unroll(spark):
    seed = spark.range(10).select("id", (F.col("id") % 3).alias("v"))
    rounds = []

    def step(state, i):
        rounds.append(i)
        return _climb(state, i)

    got = fixpoint(seed, step, rounds=20, probe=_sum_v, until=operator.eq)
    # v reaches 5 after 5 rounds; the 6th round's probe repeats the 5th's
    assert rounds == list(range(6))
    unrolled = seed
    for i in range(20):
        unrolled = _climb(unrolled, i)
    assert sorted(got.collect()) == sorted(unrolled.collect())


def test_fixpoint_pins_width_and_restores_it(spark):
    saved = spark.conf.get(WIDTH)
    seen = []

    def step(state, i):
        seen.append(spark.conf.get(WIDTH))
        if i == 1 and fail:
            raise RuntimeError("round failed")
        return _climb(state, i)

    seed = spark.range(4).select("id", F.lit(0).alias("v"))
    fail = False
    fixpoint(seed, step, rounds=2, width=3)
    assert seen == ["3", "3"] and spark.conf.get(WIDTH) == saved
    fail = True
    with pytest.raises(RuntimeError, match="round failed"):
        fixpoint(seed, step, rounds=2, probe=_sum_v, width=5)
    assert seen[2:] == ["5", "5"] and spark.conf.get(WIDTH) == saved


@pytest.mark.parametrize("probed", [True, False])
def test_fixpoint_cut_adds_no_job(spark, probed):
    """N rounds run N jobs: a probed round's one action materializes its
    lazy cut, and an unprobed round's eager cut is its only job.  AQE is
    off here because it submits map-stage jobs while a plan is built."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = f"fixpoint-jobs-{probed}"
    try:
        seed = spark.range(50).select("id", F.lit(0).alias("v"))
        sc.setJobGroup(group, "fixpoint job count")
        fixpoint(seed, lambda s, i: _climb(s.repartition(3, "id"), i),
                 rounds=4, probe=_sum_v if probed else None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(jobs) == 4


def test_connected_components_failing_round_releases_cache_and_width(spark):
    from ab_metadata_pusher_spark.operators.dedup import connected_components

    spark.catalog.clearCache()
    saved = spark.conf.get(WIDTH)
    vertices = spark.range(4)
    edges = spark.range(3).select(
        F.col("id").alias("src"),
        F.raise_error(F.lit("bad edge")).cast("long").alias("dst"))
    with pytest.raises(Exception, match="bad edge"):
        connected_components(vertices, edges, shuffle_partitions=3)
    assert spark.conf.get(WIDTH) == saved
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_metadata_graph_loops_leave_no_cache_after_release(spark, sf_dir):
    """PageRank's vertex set and edge list and graph_components' id map
    go through materialize_shared, so once the results are consumed
    release_materialized leaves the cache manager empty."""
    from ab_metadata_pusher_spark.operators._shared import (
        release_materialized,
    )
    from ab_metadata_pusher_spark.plans.registry import queries

    spark.catalog.clearCache()
    release_materialized(spark)
    for name in ("metadata_graph_pagerank", "metadata_graph_components"):
        assert queries()[name](spark, sf_dir).collect(), name
    release_materialized(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
