"""As-of join and sessionization edge semantics (beyond the registry's
oracle parity): tie inclusivity, no-match NULLs, and the session gap
boundary."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators.asof import asof_join
from ab_metadata_pusher_spark.operators.sessionize import sessionize


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_backward_inclusive_and_null(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "l1"), (1, _ts(5), "l2"), (2, _ts(1), "l3")],
        "k int, ts timestamp_ntz, lv string")
    right = spark.createDataFrame(
        [(1, _ts(5), "r_at_5"), (1, _ts(7), "r_at_7"), (3, _ts(0), "r_other")],
        "k int, ts timestamp_ntz, rv string")

    out = {r["lv"]: (r["asof_rv"], r["asof_ts"])
           for r in asof_join(left, right, on="k").collect()}

    assert out["l1"] == ("r_at_7", _ts(7))   # latest <= 10
    assert out["l2"] == ("r_at_5", _ts(5))   # tie is inclusive
    assert out["l3"] == (None, None)         # no right row for key 2


def test_asof_multiple_keys(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(9), 1.0)], "k1 int, k2 string, ts timestamp_ntz, v double")
    right = spark.createDataFrame(
        [(1, "a", _ts(3), 10.0), (1, "b", _ts(4), 20.0)],
        "k1 int, k2 string, ts timestamp_ntz, w double")
    rows = asof_join(left, right, on=["k1", "k2"]).collect()
    assert rows[0]["asof_w"] == 10.0  # (1,'b') must not leak into (1,'a')


def test_sessionize_gap_boundary(spark):
    # gaps: 30min exactly (same session, > is strict), 31min (new session)
    ev = spark.createDataFrame(
        [(7, _ts(0)), (7, dt.datetime(2024, 1, 1, 0, 30)),
         (7, dt.datetime(2024, 1, 1, 1, 1))],
        "user_id bigint, ts timestamp_ntz")
    rows = sorted(sessionize(ev).collect(), key=lambda r: r["session_idx"])
    assert [(r["session_idx"], r["n_events"]) for r in rows] == [(1, 2), (2, 1)]


def test_asof_forward(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "l1"), (1, _ts(5), "l2"), (1, _ts(40), "l3")],
        "k int, ts timestamp_ntz, lv string")
    right = spark.createDataFrame(
        [(1, _ts(5), "r_at_5"), (1, _ts(30), "r_at_30")],
        "k int, ts timestamp_ntz, rv string")
    out = {r["lv"]: r["asof_rv"]
           for r in asof_join(left, right, on="k",
                              direction="forward").collect()}
    assert out == {"l1": "r_at_30",   # earliest >= 10
                   "l2": "r_at_5",    # tie inclusive
                   "l3": None}        # nothing after 40


def test_salted_join_equals_plain(spark, sf_dir):
    from ab_metadata_pusher_spark.operators.skew import salted_join
    from ab_metadata_pusher_spark.sources.fixtures import load_table
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    plain = orders.join(customer, orders.o_custkey == customer.c_custkey) \
                  .select("o_orderkey", "c_name")
    salted = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"), customer,
        on="c_custkey", salt=4).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == \
           sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (99, "b")], "k int, lv string")
    right = spark.createDataFrame([(1, "x")], "k int, rv string")
    from ab_metadata_pusher_spark.operators.skew import salted_join
    rows = {r["lv"]: r["rv"]
            for r in salted_join(left, right, on="k", how="left",
                                 salt=3).collect()}
    assert rows == {"a": "x", "b": None}


def test_asof_randomized_vs_bruteforce(spark):
    """Seeded random case with ties, duplicate left timestamps, and keys
    missing on either side; expected result computed by per-row scan."""
    import random
    rng = random.Random(42)
    left = [(rng.randint(0, 5), _ts(rng.randint(0, 59)), i)
            for i in range(200)]
    right = [(rng.randint(0, 7), _ts(m), 1000 + m)
             for m in rng.sample(range(60), 30)]

    ldf = spark.createDataFrame(left, "k int, ts timestamp_ntz, lid int")
    rdf = spark.createDataFrame(right, "k int, ts timestamp_ntz, rid int")

    def expected(direction):
        out = {}
        for k, ts, lid in left:
            if direction == "backward":
                cands = [(rts, rid) for rk, rts, rid in right
                         if rk == k and rts <= ts]
                best = max(cands) if cands else None
            else:
                cands = [(rts, rid) for rk, rts, rid in right
                         if rk == k and rts >= ts]
                best = min(cands) if cands else None
            out[lid] = best[1] if best else None
        return out

    for direction in ("backward", "forward"):
        got = {r["lid"]: r["asof_rid"]
               for r in asof_join(ldf, rdf, on="k",
                                  direction=direction).collect()}
        assert got == expected(direction), f"direction={direction}"


def test_asof_cogrouped_equals_window_formulation(spark):
    """Randomized case: both as-of implementations must agree exactly."""
    import random

    from ab_metadata_pusher_spark.operators.asof import asof_join_cogrouped
    rng = random.Random(7)
    left = [(rng.randint(0, 5), _ts(rng.randint(0, 59)), i)
            for i in range(150)]
    right = [(rng.randint(0, 7), _ts(m), 1000 + m)
             for m in rng.sample(range(60), 25)]
    ldf = spark.createDataFrame(left, "k int, ts timestamp_ntz, lid int")
    rdf = spark.createDataFrame(right, "k int, ts timestamp_ntz, rid int")
    a = {tuple(r) for r in asof_join(ldf, rdf, on="k").collect()}
    b = {tuple(r) for r in asof_join_cogrouped(ldf, rdf, key="k").collect()}
    assert a == b and len(a) == 150


def test_asof_cogrouped_null_ts_rows(spark):
    """NULL timestamps must not crash merge_asof: null-ts left rows pass
    through unmatched, null-ts right rows are ignored."""
    from ab_metadata_pusher_spark.operators.asof import asof_join_cogrouped
    left = spark.createDataFrame(
        [(1, _ts(10), "l1"), (1, None, "l_null")],
        "k int, ts timestamp_ntz, lv string")
    right = spark.createDataFrame(
        [(1, _ts(5), "r1"), (1, None, "r_null")],
        "k int, ts timestamp_ntz, rv string")
    out = {r["lv"]: r["asof_rv"]
           for r in asof_join_cogrouped(left, right, key="k").collect()}
    assert out == {"l1": "r1", "l_null": None}


def test_asof_cogrouped_big_int_exact(spark):
    """Integer payloads and timestamps above 2^53 must survive exactly
    (the float64 detour merge_asof takes for unmatched rows would round
    them)."""
    from ab_metadata_pusher_spark.operators.asof import asof_join_cogrouped
    big = (1 << 60) + 123456789  # not representable in float64
    left = spark.createDataFrame(
        [(1, 100, "matched"), (2, 100, "unmatched_key")],
        "k int, ts bigint, lv string")
    right = spark.createDataFrame(
        [(1, 90, big)], "k int, ts bigint, payload bigint")
    rows = {r["lv"]: (r["asof_payload"], r["asof_ts"])
            for r in asof_join_cogrouped(left, right, key="k").collect()}
    assert rows["matched"] == (big, 90)
    assert rows["unmatched_key"] == (None, None)


def test_asof_cogrouped_prefix_collision_raises(spark):
    from ab_metadata_pusher_spark.operators.asof import asof_join_cogrouped
    import pytest
    left = spark.createDataFrame(
        [(1, _ts(1), "x")], "k int, ts timestamp_ntz, asof_ts string")
    right = spark.createDataFrame([(1, _ts(0))], "k int, ts timestamp_ntz")
    with pytest.raises(ValueError, match="collision"):
        asof_join_cogrouped(left, right, key="k")


def test_incremental_rollup_parquet_round_trip(spark, sf_dir, tmp_path):
    """The production refresh cycle: aggregate a first batch to partials,
    PERSIST them to parquet (the stored continuous-aggregate state), then
    merge the read-back state with a new batch's partials — the result
    must equal the single-pass aggregate over all events, bit-for-bit."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators.rollup import (
        bucket_partials, finalize_rollup, merge_partials,
    )
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    ev = load_table(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 5 != 0)
    new = ev.filter(F.col("event_id") % 5 == 0)

    state_path = str(tmp_path / "rollup_state")
    bucket_partials(old).write.parquet(state_path)
    stored = spark.read.parquet(state_path)

    refreshed = finalize_rollup(merge_partials(stored, bucket_partials(new)))
    single_pass = finalize_rollup(bucket_partials(ev))

    got = {tuple(r) for r in refreshed.collect()}
    want = {tuple(r) for r in single_pass.collect()}
    assert got == want


def test_integer_half_up_rounding_matches_exact_decimal():
    """The FLOOR((2*num + den)/(2*den)) trick used by the seasonal
    decomposition must equal true round-half-up of num/den for any
    integers in the magnitudes the query produces — including the
    boundary cases the engines' native round() gets wrong."""
    from fractions import Fraction
    from math import floor

    from hypothesis import given, strategies as st

    @given(st.integers(-10**10, 10**10), st.integers(1, 10**6))
    def check(num, den):
        got = floor((2.0 * num + den) / (2.0 * den))
        exact = Fraction(num, den)
        want = floor(exact + Fraction(1, 2))
        # float division of ints this size is exact enough that the
        # floor can only disagree when the true value sits exactly on an
        # integer boundary AND the double ratio lands under it — assert
        # they agree everywhere hypothesis can reach
        assert got == want, (num, den, got, want)

    check()


def test_asof_cogrouped_self_derived_sides_and_empty_buckets(spark):
    """Two hazards of the bucketed cogroup (r7): (1) both sides derived
    from the SAME parent frame — shared attribute ids made the cogroup
    resolution flaky (observed: the right-side pandas frame arriving
    pruned to just the bucket column) until each side got a re-aliasing
    projection; (2) a bucket whose right side is EMPTY (left-only keys
    at high bucket counts) must yield unmatched rows, not an error."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators.asof import (
        asof_join, asof_join_cogrouped,
    )
    base = spark.createDataFrame(
        [(k, _ts(m), 100 * k + m, "L" if m % 2 else "R")
         for k in range(6) for m in range(0, 40, 3)],
        "k int, ts timestamp_ntz, eid int, side string")
    left = base.filter(F.col("side") == "L").select("k", "ts", "eid")
    # right keeps only k < 2: most buckets are left-only at 4096 buckets
    right = (base.filter((F.col("side") == "R") & (F.col("k") < 2))
             .select("k", "ts", "eid"))
    want = {tuple(r) for r in asof_join(left, right, on="k").collect()}
    for buckets in (4, 4096):
        got = {tuple(r) for r in asof_join_cogrouped(
            left, right, key="k", buckets=buckets).collect()}
        assert got == want, buckets
    assert any(r[3] is None for r in want)  # unmatched keys exercised
