"""Time-series queries: as-of join + batch sessionization (SURVEY.md §2.G
"joins beyond equi-join" / sessionization — extension surface; the
reference's only temporal notion is its cron schedule, crontab:1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ab_metadata_pusher_spark.operators.asof import (
    asof_join, asof_join_cogrouped,
)
from ab_metadata_pusher_spark.operators.sessionize import sessionize
from ab_metadata_pusher_spark.plans.registry import register
from ab_metadata_pusher_spark.sources.fixtures import load_table


def _purchases_and_clicks(spark: SparkSession, sf_dir: str):
    """Shared input shape for both as-of formulations (one oracle)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("user_id", "ts", "event_id", "value"))
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", "ts", "event_id"))
    return purchases, clicks


_ASOF_SQL = """
SELECT l.user_id, l.ts, l.event_id, l.value,
       r.ts AS asof_ts, r.event_id AS asof_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@register("join_asof_clicks", oracle=_ASOF_SQL, covers=("G.join.asof",))
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the same user's most recent prior click —
    union+sort-window formulation (operators/asof.py), oracled against
    DuckDB's native ASOF LEFT JOIN."""
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    return asof_join(purchases, clicks, on="user_id",
                     right_payload=["event_id"])


_SESSION_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS newsess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         CAST(sum(newsess) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts
FROM s
GROUP BY user_id, session_idx
"""


@register("sessionize_events", oracle=_SESSION_SQL,
          covers=("G.sessionize", "G.window.frame"))
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min), JVM window formulation."""
    return sessionize(load_table(spark, sf_dir, "events"), gap_seconds=1800)


@register("join_asof_cogrouped", oracle=_ASOF_SQL,
          covers=("G.join.asof", "G.udf.cogroup"))
def q_asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same as-of semantics on the cogrouped-pandas path
    (cogroup + pd.merge_asof) — two engine paths, one oracle."""
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    return asof_join_cogrouped(purchases, clicks, key="user_id",
                               right_payload=["event_id"])


_GAPFILL_SQL = """
WITH b AS (
  SELECT date_trunc('hour', min(ts)) AS t0,
         date_trunc('hour', max(ts)) AS t1
  FROM events
),
hours AS (
  -- fixed bound + WHERE: generate_series can't take lateral column args
  SELECT t0 + i * INTERVAL 1 HOUR AS bucket_ts
  FROM b, generate_series(0, 2000) AS g(i)
  WHERE t0 + i * INTERVAL 1 HOUR <= t1
),
users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         count(*) AS n, round(sum(value), 4) AS s
  FROM events WHERE user_id < 50
  GROUP BY user_id, date_trunc('hour', ts)
),
grid AS (SELECT u.user_id, h.bucket_ts FROM users u CROSS JOIN hours h),
j AS (
  SELECT g.user_id, g.bucket_ts, coalesce(a.n, 0) AS n_events, a.s
  FROM grid g LEFT JOIN agg a USING (user_id, bucket_ts)
)
SELECT user_id, bucket_ts, n_events,
       coalesce(last_value(s IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                0.0) AS locf_value
FROM j
"""


@register("timeseries_gap_fill", oracle=_GAPFILL_SQL,
          covers=("G.rollup.gapfill", "G.window.locf"))
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill + LOCF: hourly per-user rollup joined onto the
    dense (user x hour) grid; missing buckets get count 0 and the last
    observed value carried forward (``last(..., ignorenulls)`` over an
    unbounded-preceding frame).

    Scale shape: the hour spine is tiny (one row per hour of retention)
    and broadcasts; the rollup is map-side combinable; LOCF partitions by
    user so no global sort exists.  date_trunc returns LTZ even on NTZ
    input — cast back (the driver may run any host timezone).
    """
    from pyspark.sql import Window

    j = _dense_user_hour_grid(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("bucket_ts")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return j.select(
        "user_id", "bucket_ts",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.last("s", ignorenulls=True).over(w),
                   F.lit(0.0)).alias("locf_value"))


def _dense_user_hour_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user x hour) grid left-joined with the hourly rollup: columns
    ``user_id, bucket_ts, n (nullable), s (nullable)``."""
    ev_all = load_table(spark, sf_dir, "events")
    ev = ev_all.filter(F.col("user_id") < 50)
    bucket = F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
    hourly = (ev.groupBy("user_id", bucket.alias("bucket_ts"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 4).alias("s")))
    bounds = ev_all.agg(
        F.date_trunc("hour", F.min("ts")).cast("timestamp_ntz").alias("t0"),
        F.date_trunc("hour", F.max("ts")).cast("timestamp_ntz").alias("t1"))
    hours = bounds.select(F.explode(F.sequence(
        "t0", "t1", F.expr("interval 1 hour"))).alias("bucket_ts"))
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(hours))
    return grid.join(hourly, ["user_id", "bucket_ts"], "left")


_GRID_CTE = """
b AS (
  SELECT date_trunc('hour', min(ts)) AS t0,
         date_trunc('hour', max(ts)) AS t1
  FROM events
),
hours AS (
  SELECT t0 + i * INTERVAL 1 HOUR AS bucket_ts
  FROM b, generate_series(0, 2000) AS g(i)
  WHERE t0 + i * INTERVAL 1 HOUR <= t1
),
users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         count(*) AS n, round(sum(value), 4) AS s
  FROM events WHERE user_id < 50
  GROUP BY user_id, date_trunc('hour', ts)
),
grid AS (SELECT u.user_id, h.bucket_ts FROM users u CROSS JOIN hours h),
j AS (
  SELECT g.user_id, g.bucket_ts, a.n, a.s
  FROM grid g LEFT JOIN agg a USING (user_id, bucket_ts)
)"""

_INTERP_SQL = "WITH " + _GRID_CTE + """,
nb AS (
  SELECT user_id, bucket_ts, n, s,
         last_value(s IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN s IS NOT NULL THEN bucket_ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         first_value(s IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY bucket_ts
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN s IS NOT NULL THEN bucket_ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM j
)
SELECT user_id, bucket_ts,
       -- floor-scaling, not round(): the blended double is bit-identical
       -- across engines but round() half-case behavior is not
       floor(CASE
         WHEN s IS NOT NULL THEN s
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv) * (epoch(bucket_ts) - epoch(pt))
                              / (epoch(nt) - epoch(pt))
       END * 10000) / 10000 AS interp_value
FROM nb
"""


@register("timeseries_interpolate", oracle=_INTERP_SQL,
          covers=("G.rollup.interpolate",))
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across gaps (TimescaleDB ``interpolate``):
    each missing hourly bucket gets the time-weighted blend of the
    nearest observed values before and after it; leading/trailing gaps
    fall back to the single available neighbor.

    Same dense-grid input as `timeseries_gap_fill`; two extra window
    passes (backward + forward neighbor), both partitioned by user —
    still no global sort.  TIMESTAMP_NTZ has no direct double cast;
    route epoch seconds via timestamp_ltz (session pinned UTC).
    """
    from pyspark.sql import Window

    j = _dense_user_hour_grid(spark, sf_dir)
    back = (Window.partitionBy("user_id").orderBy("bucket_ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy("user_id").orderBy("bucket_ts")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_ts = F.when(F.col("s").isNotNull(), F.col("bucket_ts"))

    def epoch(c):
        return c.cast("timestamp_ltz").cast("double")

    pv = F.last("s", ignorenulls=True).over(back)
    pt = F.last(obs_ts, ignorenulls=True).over(back)
    nv = F.first("s", ignorenulls=True).over(fwd)
    nt = F.first(obs_ts, ignorenulls=True).over(fwd)
    # left-associated exactly like the SQL `a * b / c` — (a*b)/c and
    # a*(b/c) differ by ULPs, which the hash comparison sees
    blended = (pv + (nv - pv) * (epoch(F.col("bucket_ts")) - epoch(pt))
               / (epoch(nt) - epoch(pt)))
    interp = (F.when(F.col("s").isNotNull(), F.col("s"))
              .when(pv.isNull(), nv)
              .when(nv.isNull(), pv)
              .otherwise(blended))
    return j.select(
        "user_id", "bucket_ts",
        (F.floor(interp * 10000) / 10000).alias("interp_value"))


@register(
    "rollup_ohlc",
    oracle="""
SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_1d,
       round(arg_min(value, ts), 4) AS open,
       round(max(value), 4) AS high,
       round(min(value), 4) AS low,
       round(arg_max(value, ts), 4) AS close,
       count(*) AS n_events,
       round(sum(value), 4) AS volume
FROM events
GROUP BY 1, 2
""",
    covers=("G.rollup.ohlc",),
)
def q_rollup_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per (event_type, day) — the canonical
    hypertable downsample (TimescaleDB's ohlc/candlestick_agg shape):
    open/close are the first/last value BY TIME, not by value, via
    min_by/max_by, fused with high/low/count/volume into one aggregate
    pass.

    One shuffle on (event_type, day); every function here has a partial
    (min_by carries one (ts, value) pair per group per mapper), so the
    map side reduces ~events/bucket-fold before the exchange.  At 100 TB
    with time-partitioned input, partition pruning cuts the scan to the
    requested range and AQE coalesces the post-agg output; bars per
    (type, day) are bounded, so no skew handling is needed."""
    ev = load_table(spark, sf_dir, "events")
    # date_trunc yields LTZ even on NTZ input; cast back (identity under
    # the UTC session conf load_table pins)
    bucket = F.date_trunc("day", "ts").cast("timestamp_ntz")
    return (ev.groupBy("event_type", bucket.alias("bucket_1d"))
            .agg(F.round(F.min_by("value", "ts"), 4).alias("open"),
                 F.round(F.max("value"), 4).alias("high"),
                 F.round(F.min("value"), 4).alias("low"),
                 F.round(F.max_by("value", "ts"), 4).alias("close"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("volume")))


@register(
    "sessionize_builtin_window",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS newsess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         CAST(sum(newsess) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 1800 SECOND AS session_end,
       count(*) AS n_events
FROM s
GROUP BY user_id, session_idx
""",
    covers=("G.sessionize", "G.rollup.session_window"),
)
def q_sessionize_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's NATIVE F.session_window aggregate
    (the third sessionizer: JVM windows, pandas cogroup, and now the
    built-in) — one groupBy whose key is a dynamically-merged session
    range; the engine merges overlapping [ts, ts+gap) intervals
    per key during aggregation.  The oracle derives the SAME sessions
    with the lag/islands SQL — two genuinely different algorithms
    (interval merge vs change-point prefix sums) agreeing value-for-value,
    including the session_end = last_event + gap convention.

    At 100 TB this is the one to prefer: no window sort pass — partial
    session aggregation happens map-side before the shuffle, and the
    same operator runs UNCHANGED over a stream (stream_session_windows)
    with watermark-driven state eviction."""
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (ev.groupBy("user_id", sw)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.col("session_window.start")
                     .cast("timestamp_ntz").alias("session_start"),
                    F.col("session_window.end")
                     .cast("timestamp_ntz").alias("session_end"),
                    "n_events"))


_INCR_ROLLUP_SQL = """
WITH base AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
         value, CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
)
SELECT bucket, event_type,
       count(*) AS n_events,
       CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / 100 AS total_value,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST((CAST(sum(cents) AS BIGINT) * 200 + count(*))
            // (2 * count(*)) AS DOUBLE) / 10000 AS avg_value
FROM base
GROUP BY bucket, event_type
"""


@register("rollup_incremental_merge", oracle=_INCR_ROLLUP_SQL,
          covers=("G.rollup.incremental",))
def q_rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate REFRESH semantics (operators/rollup.py): the
    event history is split into three disjoint batches (stored state +
    two arriving refreshes), each aggregated to mergeable per-bucket
    partials independently, then merged and finalized.  The oracle
    aggregates all events in ONE pass — the driver therefore verifies
    the core continuous-aggregate invariant: any batch split reproduces
    the single-pass answer exactly (fixed-point cent sums make this hold
    bit-for-bit; double sums would drift with merge order).

    At 100 TB the stored partials live bucketed-by-time on disk and each
    refresh touches only the arriving batch plus the merge over
    partial-sized state — never the event history.  The reference's
    equivalent is a full recompute per cron tick (crontab:1).
    """
    from ab_metadata_pusher_spark.operators.rollup import (
        bucket_partials, finalize_rollup, merge_partials,
    )
    ev = load_table(spark, sf_dir, "events")
    batches = [ev.filter(F.col("event_id") % 3 == k) for k in range(3)]
    parts = [bucket_partials(b) for b in batches]
    return finalize_rollup(merge_partials(*parts))


_INTERVAL_OVERLAP_SQL = """
WITH iv AS (
  SELECT l_orderkey, l_linenumber,
         l_shipdate AS s,
         l_shipdate + to_days(CAST(l_quantity AS INTEGER)) AS e
  FROM lineitem
)
SELECT a.l_orderkey AS orderkey,
       a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
       a.s AS a_start, a.e AS a_end, b.s AS b_start, b.e AS b_end
FROM iv a JOIN iv b
  ON a.l_orderkey = b.l_orderkey
 AND a.l_linenumber < b.l_linenumber
 AND a.s <= b.e AND b.s <= a.e
"""


@register("join_interval_overlap", oracle=_INTERVAL_OVERLAP_SQL,
          covers=("G.join.interval_overlap",))
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each lineitem carries a shipping window
    [shipdate, shipdate + quantity days); emit pairs of items in the SAME
    order whose windows overlap (a.start <= b.end AND b.start <= a.end).

    The scale shape: the overlap predicate rides as a residual on a hash
    equi-join over the grouping key, so fan-out is bounded by per-key
    interval count (order size here) — never a global interval cross.
    For interval sets with NO shared key, bin intervals to fixed-width
    buckets first and equi-join on bucket (the join_range_binned
    pattern); the residual predicate stays identical."""
    iv = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_linenumber",
                  F.col("l_shipdate").alias("s"),
                  F.expr("timestampadd(DAY, CAST(l_quantity AS INT), "
                         "l_shipdate)").alias("e")))
    a, b = iv.alias("a"), iv.alias("b")
    return (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_linenumber") < F.col("b.l_linenumber"))
                   & (F.col("a.s") <= F.col("b.e"))
                   & (F.col("b.s") <= F.col("a.e")))
            .select(F.col("a.l_orderkey").alias("orderkey"),
                    F.col("a.l_linenumber").alias("ln_a"),
                    F.col("b.l_linenumber").alias("ln_b"),
                    F.col("a.s").alias("a_start"), F.col("a.e").alias("a_end"),
                    F.col("b.s").alias("b_start"), F.col("b.e").alias("b_end")))


_DECOMP_CTE = """
WITH hourly AS (
  -- integer cents: 2-decimal fixture values sum exactly
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         CAST(round(sum(value) * 100) AS BIGINT) AS vc
  FROM events GROUP BY user_id, hr
),
trended AS (
  SELECT user_id, hr, vc,
         sum(vc) OVER w AS tc, count(*) OVER w AS tn
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
-- half-up rounding as FLOOR((2*num + den) / (2*den)): integer inputs,
-- ONE double division, floor — bit-identical across engines, immune to
-- the engines' divergent native round() near half boundaries
t4 AS (
  SELECT user_id, hr, vc,
         CAST(floor((2.0 * tc * 100 + tn) / (2.0 * tn)) AS BIGINT)
           AS trend_e4
  FROM trended
),
seasonal AS (
  SELECT user_id, CAST(hour(hr) AS BIGINT) AS hod,
         sum(vc * 100 - trend_e4) AS ss_e4, count(*) AS sn
  FROM t4 GROUP BY user_id, hod
),
s4 AS (
  SELECT user_id, hod,
         CAST(floor((2.0 * ss_e4 + sn) / (2.0 * sn)) AS BIGINT)
           AS seasonal_e4
  FROM seasonal
),
decomp AS (
  SELECT t.user_id, t.hr, t.vc, t.trend_e4, s.seasonal_e4,
         t.vc * 100 - t.trend_e4 - s.seasonal_e4 AS residual_e4
  FROM t4 t
  JOIN s4 s ON s.user_id = t.user_id AND s.hod = hour(t.hr)
)"""


def _decompose_e4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared STL-lite subplan in exact 1e-4-dollar integers:
    (user_id, hr, vc, trend_e4, seasonal_e4, residual_e4).  See
    q_seasonal_decompose for the determinism rationale."""
    from pyspark.sql import Window

    def half_up(num, den):
        return F.floor((2.0 * num + den) / (2.0 * den)).cast("bigint")

    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("user_id",
                         F.date_trunc("hour", "ts").cast("timestamp_ntz")
                          .alias("hr"))
              .agg(F.round(F.sum("value") * 100).cast("bigint").alias("vc")))
    w = (Window.partitionBy("user_id").orderBy("hr")
         .rowsBetween(-12, 12))
    t4 = (hourly
          .withColumn("tc", F.sum("vc").over(w))
          .withColumn("tn", F.count(F.lit(1)).over(w))
          .withColumn("trend_e4",
                      half_up(F.col("tc") * 100, F.col("tn")))
          .drop("tc", "tn"))
    s4 = (t4.groupBy("user_id", F.hour("hr").cast("bigint").alias("hod"))
          .agg(F.sum(F.col("vc") * 100 - F.col("trend_e4")).alias("ss_e4"),
               F.count(F.lit(1)).alias("sn"))
          .withColumn("seasonal_e4",
                      half_up(F.col("ss_e4"), F.col("sn")))
          .select("user_id", "hod", "seasonal_e4"))
    t = t4.withColumn("hod", F.hour("hr").cast("bigint"))
    return (t.join(s4, ["user_id", "hod"])
            .withColumn("residual_e4",
                        F.col("vc") * 100 - F.col("trend_e4")
                        - F.col("seasonal_e4"))
            .select("user_id", "hr", "vc", "trend_e4", "seasonal_e4",
                    "residual_e4"))


@register(
    "timeseries_seasonal_decompose",
    oracle=_DECOMP_CTE + """
SELECT user_id, hr,
       vc / 100.0 AS v,
       trend_e4 / 10000.0 AS trend,
       seasonal_e4 / 10000.0 AS seasonal,
       residual_e4 / 10000.0 AS residual
FROM decomp
""",
    covers=("G.timeseries.seasonal",),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (STL-lite) per user series:
    hourly rollup -> centered 25-point moving-average trend ->
    hour-of-day seasonal component (mean detrended value) -> residual.
    The anomaly-detection preprocessing step every observability
    pipeline runs.

    Spark shape: one rollup shuffle; the trend window PARTITIONS BY the
    series key, so at 100 TB every series sorts independently (no global
    sort); the 24-row seasonal table per series is a map-side-combined
    aggregate joined straight back.

    Determinism: every statistic is kept as an exact integer (cents /
    1e-4 dollars) and rounded with FLOOR((2*num + den)/(2*den)) — one
    double division of identical integers per value — because both
    engines' native round() disagree on identical doubles whose exact
    decimal expansion sits within an ulp of a half boundary (Spark
    rounds the exact binary expansion, DuckDB multiplies by 10^d first;
    observed on 13/9567 rows of the avg-based formulation)."""
    d = _decompose_e4(spark, sf_dir)
    return d.select(
        "user_id", "hr",
        (F.col("vc") / 100.0).alias("v"),
        (F.col("trend_e4") / 10000.0).alias("trend"),
        (F.col("seasonal_e4") / 10000.0).alias("seasonal"),
        (F.col("residual_e4") / 10000.0).alias("residual"))


@register(
    "timeseries_anomaly_zscore",
    oracle=_DECOMP_CTE + """,
stats AS (
  SELECT user_id, count(*) AS n,
         sum(residual_e4) AS s1,
         sum(residual_e4 * residual_e4) AS s2
  FROM decomp GROUP BY user_id
)
SELECT d.user_id, d.hr,
       d.residual_e4 / 10000.0 AS residual,
       (d.residual_e4 - s1 * 1.0 / n)
         / sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)) AS z
FROM decomp d JOIN stats USING (user_id)
WHERE sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)) > 0
  AND abs((d.residual_e4 - s1 * 1.0 / n)
          / sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))) > 3
""",
    covers=("G.timeseries.anomaly",),
)
def q_timeseries_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual z-score anomaly flags on top of the seasonal
    decomposition: hours whose detrended, deseasonalized residual sits
    more than 3 population-sigmas from the user's mean residual — the
    standard observability alert after STL.

    Per-user moment sums stay exact integers (residual_e4 and its
    square), so sigma and z are single double expressions of identical
    ints — bit-identical across engines WITHOUT rounding (z is emitted
    at full precision and still hash-matches).  The per-user moments are
    WINDOW aggregates over the decomposition, not a separate groupBy +
    self-join: Catalyst does not share a twice-referenced subplan, so
    the join form ran the whole decomposition TWICE (measured 3.6s ->
    2.1s at sf0.1); the window form is one pass + one user-keyed
    exchange, and the moment values (hence z) are identical."""
    from pyspark.sql import Window

    d = _decompose_e4(spark, sf_dir)
    w = Window.partitionBy("user_id")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum("residual_e4").over(w)
    s2 = F.sum(F.col("residual_e4") * F.col("residual_e4")).over(w)
    mean = s1 * 1.0 / n
    sigma = F.sqrt(s2 * 1.0 / n - mean * mean)
    z = (F.col("residual_e4") - mean) / sigma
    # window expressions must be projected before they can be filtered
    return (d.select("user_id", "hr",
                     (F.col("residual_e4") / 10000.0).alias("residual"),
                     z.alias("z"), sigma.alias("_sigma"))
            .where((F.col("_sigma") > 0) & (F.abs(F.col("z")) > 3))
            .drop("_sigma"))


_ASOF_TOL_SQL = """
SELECT l.user_id, l.ts, l.event_id, l.value,
       CASE WHEN epoch(l.ts) - epoch(r.ts) <= 900 THEN r.ts END AS asof_ts,
       CASE WHEN epoch(l.ts) - epoch(r.ts) <= 900 THEN r.event_id END
         AS asof_event_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@register("join_asof_tolerance", oracle=_ASOF_TOL_SQL,
          covers=("G.join.asof_tolerance",))
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 15-minute tolerance (pandas merge_asof
    parity): a purchase more than 900 s after the user's latest prior
    click gets NULLs instead of a stale match — the guard every
    clickstream-attribution pipeline wants.  Tolerance is a post-window
    projection (operators/asof.py), so the plan is identical to
    join_asof_clicks: one union + one per-key sort window, no extra
    shuffle; the oracle applies the same cutoff to DuckDB's native ASOF
    match."""
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    return asof_join(purchases, clicks, on="user_id",
                     right_payload=["event_id"], tolerance_sec=900)


@register(
    "timeseries_downsample_lttb",
    oracle="""
WITH p AS (SELECT event_id, epoch(CAST(ts AS TIMESTAMP)) AS t,
                  value AS v FROM events),
ext AS (SELECT min(t) AS t0, max(t) AS t1 FROM p),
b AS (SELECT event_id, t, v,
             CAST(floor((t - t0) * 100 / (t1 - t0 + 1)) AS BIGINT)
               AS bucket
      FROM p, ext),
m AS (SELECT bucket, avg(t) AS mx, avg(v) AS my FROM b GROUP BY bucket),
mm AS (SELECT bucket, lag(mx) OVER w AS pmx, lag(my) OVER w AS pmy,
              lead(mx) OVER w AS nmx, lead(my) OVER w AS nmy
       FROM m WINDOW w AS (ORDER BY bucket)),
a AS (SELECT b.bucket, b.event_id, b.v,
             coalesce(abs((pmx - nmx) * (b.v - pmy)
                          - (pmx - b.t) * (nmy - pmy)), 0.0) AS area
      FROM b JOIN mm USING (bucket)),
sel AS (SELECT bucket, event_id, v, area,
               row_number() OVER (PARTITION BY bucket
                                  ORDER BY area DESC, event_id) AS rn
        FROM a)
SELECT bucket, event_id, round(v, 2) AS value, round(area, 4) AS area
FROM sel WHERE rn = 1
""",
    covers=("G.timeseries.downsample",),
)
def q_timeseries_downsample_lttb(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Peak-preserving downsampling to 100 points (LTTB's bucketed
    largest-triangle criterion with fixed neighbor-bucket-mean anchors —
    the parallelizable variant): per time bucket keep the point whose
    triangle against the adjacent buckets' means has maximal area, so
    the 100-point sketch preserves spikes a mean/first downsample
    flattens.  What every monitoring/charting backend does before
    plotting a billion points.

    Fixed anchors make every bucket independent (the classic LTTB chains
    sequentially through selected points — unparallelizable): one
    bucket-stats aggregate (100 rows, broadcast back), one per-bucket
    argmax, zero sequential state.  Edge buckets (no neighbor) fall back
    to smallest-id deterministically."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.select("event_id",
                  F.col("ts").cast("timestamp_ltz").cast("double")
                  .alias("t"),
                  F.col("value").alias("v"))
    ext = p.agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
    b = (p.crossJoin(F.broadcast(ext))
         .withColumn("bucket",
                     F.floor((F.col("t") - F.col("t0")) * 100
                             / (F.col("t1") - F.col("t0") + 1))
                     .cast("bigint")))
    m = b.groupBy("bucket").agg(F.avg("t").alias("mx"),
                                F.avg("v").alias("my"))
    wb = Window.orderBy("bucket")
    mm = m.select("bucket",
                  F.lag("mx").over(wb).alias("pmx"),
                  F.lag("my").over(wb).alias("pmy"),
                  F.lead("mx").over(wb).alias("nmx"),
                  F.lead("my").over(wb).alias("nmy"))
    a = (b.join(F.broadcast(mm), "bucket")
         .withColumn("area", F.coalesce(
             F.abs((F.col("pmx") - F.col("nmx"))
                   * (F.col("v") - F.col("pmy"))
                   - (F.col("pmx") - F.col("t"))
                   * (F.col("nmy") - F.col("pmy"))), F.lit(0.0))))
    ws = Window.partitionBy("bucket").orderBy(F.col("area").desc(),
                                              "event_id")
    return (a.withColumn("rn", F.row_number().over(ws))
            .filter(F.col("rn") == 1)
            .select("bucket", "event_id",
                    F.round("v", 2).alias("value"),
                    F.round("area", 4).alias("area")))
