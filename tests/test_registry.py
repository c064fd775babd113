"""Registry invariants: unique names, operator coverage, oracle hygiene."""

from ab_metadata_pusher_spark.plans.registry import REGISTRY, queries, oracle_sql


def test_core_operator_coverage():
    queries()  # force load
    covered = {c for spec in REGISTRY.values() for c in spec.covers}
    for op in ("B1", "B4", "B5", "B8", "C2", "G.agg", "G.window.rank",
               "G.join.semi", "G.setop", "G.topk", "G.fn.string",
               "G.fn.json", "G.udtf.explode"):
        assert any(op in c for c in covered), f"operator {op} uncovered"


def test_oracles_are_nonempty_sql():
    for name, sql in oracle_sql().items():
        assert "SELECT" in sql.upper(), f"{name} oracle is not SQL"


# Registration is frozen at 239 (r4 VERDICT ask #8).  The round-5
# additions each replaced a retired near-duplicate 1:1; both retired
# plans are deleted, and their names must not come back.
def test_retired_names_stay_unregistered():
    queries()  # force load
    assert "metadata_schema_drift" not in REGISTRY
    assert "sessionize_events_pandas" not in REGISTRY
    assert len(REGISTRY) == 239, "registration freeze violated"


def test_results_invariant_under_shuffle_width(spark):
    """Representative queries must produce IDENTICAL results whether the
    shuffle runs 3-wide or 8-wide — partition-layout determinism is what
    lets the driver hash-compare against a single-threaded oracle (and
    is why the layout-dependent MG estimates are registered rows-only
    while agg_heavy_hitters_guaranteed is hash-checked)."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from conftest import SF_DIR, normalized_rows

    names = ["dedup_minhash_lsh", "sample_global_shuffle",
             "agg_heavy_hitters_guaranteed", "sessionize_events",
             "dedup_substring_spans", "corpus_build_pipeline",
             # round-5 registrations: the hub cap is a deterministic
             # degree filter and the envelope packing a driver-side fold
             # over a sorted record stream — both must ignore layout
             "graph_link_prediction_capped", "sink_envelope_chunking",
             # round-6 rewrite: value-compressed PassJoin — the group
             # table, candidate join and in-row expansions must all be
             # layout-blind
             "dedup_edit_distance"]
    reg = queries()
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key)
    results = {}
    try:
        for width in ("8", "3"):
            spark.conf.set(conf_key, width)
            for n in names:
                df = reg[n](spark, SF_DIR)
                cols = df.columns
                _, rows = normalized_rows(
                    cols, [tuple(r) for r in df.collect()])
                results.setdefault(n, []).append(rows)
    finally:
        spark.conf.set(conf_key, prev)
    for n, (a, b) in results.items():
        assert a == b, f"{n} result depends on shuffle width"


def test_prefix_queries_output_flat_atomic_schemas(spark):
    """Every DRIVER_PREFIX query must return only flat atomic columns:
    the driver canonicalizes results through pandas sort_values, which
    cannot hash array/map/struct cells (CORRECTNESS_r03's one red row,
    scalar_regexp_funcs returning array<string>).  Flatten complex
    outputs with array_join/to_json before registering."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from conftest import SF_DIR
    from pyspark.sql import types as T

    from ab_metadata_pusher_spark.plans.registry import DRIVER_PREFIX
    reg = queries()
    bad = {}
    for name in DRIVER_PREFIX:
        schema = reg[name](spark, SF_DIR).schema
        complex_cols = [
            f.name for f in schema.fields
            if isinstance(f.dataType,
                          (T.ArrayType, T.MapType, T.StructType))]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"complex-typed output columns in prefix: {bad}"


def test_bench_final_line_stays_parseable_and_capped():
    """The driver records only the last ~2000 bytes of stdout and parses
    the FINAL JSON line — round 3's bench artifact was lost because the
    summary outgrew that window.  The emitter must keep the final line
    under 1600 bytes and parseable no matter how large the query set or
    the regression block grows."""
    import json

    from bench import build_summary_lines

    timings = {f"some_quite_long_query_name_{i:03d}": i / 7.0
               for i in range(500)}
    errors = {f"errq_{i}": "Boom: " + "x" * 290 for i in range(30)}
    regressions = {"baseline": "BENCH_DETAIL.json",
                   "flagged": {n: {"prev_sec": 1.0, "now_sec": 9.9,
                                   "ratio": 9.9}
                               for n in list(timings)[:100]}}
    detail_line, final_line = build_summary_lines(
        timings, errors, regressions, 0.1)
    final = json.loads(final_line)
    assert len(final_line) < 1600
    assert final["n_queries"] == 500 and final["n_errors"] == 30
    assert final["metric"] == "headline_queries_total_sec"
    assert final["n_regressions"] == 100
    detail = json.loads(detail_line[detail_line.index("{"):])
    assert len(detail["queries"]) == 500
    # the final line survives a 2000-byte tail capture ending at EOF
    tail = (detail_line + "\n" + final_line + "\n")[-2000:]
    last = tail[tail.rindex("\n", 0, len(tail) - 1) + 1:]
    assert json.loads(last) == final


def test_bench_whole_suite_geomean_reaches_the_final_line():
    """r13 VERDICT ask #2: the final compact line carried only the
    worst-20 heads, a biased sample that selects for stall victims, so
    the driver judged optimization rounds on their noisiest heads.  The
    whole-suite geomean-vs-pinned-baseline (raw + session-normalized +
    n_common) must now ride the final line — and stay under the
    1600-byte cap alongside everything else."""
    import json
    import math

    from bench import _geomean_vs_baseline, build_summary_lines

    # the helper: geomean of prev/now over common heads (>1 = faster)
    prev = {"a": 2.0, "b": 2.0, "only_prev": 5.0}
    now = {"a": 1.0, "b": 4.0, "only_now": 3.0}
    g, n = _geomean_vs_baseline(prev, now)
    assert n == 2 and g == 1.0  # ln2 + ln0.5 = 0
    g, n = _geomean_vs_baseline({"a": 4.0, "b": 9.0}, {"a": 1.0, "b": 1.0})
    assert n == 2 and math.isclose(g, 6.0)  # sqrt(4 * 9)
    assert _geomean_vs_baseline({}, now) == (None, 0)
    # zero/negative timings are excluded, not crashed on
    assert _geomean_vs_baseline({"a": 2.0, "z": 0.0},
                                {"a": 2.0, "z": 1.0}) == (1.0, 1)

    # the final line carries the three fields when the gate computed them
    timings = {f"q{i:03d}": 1.0 + i / 50.0 for i in range(109)}
    regressions = {
        "baseline": "BENCH_BASELINE.json", "baseline_round": 13,
        "flagged": {}, "session_factor": 1.07,
        "session_factor_n_stable": 60, "flagged_normalized": {},
        "geomean_vs_baseline_raw": 1.0842,
        "geomean_vs_baseline_normalized": 1.1601, "n_common": 109,
    }
    detail_line, final_line = build_summary_lines(
        timings, {}, regressions, 0.1)
    final = json.loads(final_line)
    assert len(final_line) < 1600
    assert final["geomean_vs_baseline_raw"] == 1.0842
    assert final["geomean_vs_baseline_normalized"] == 1.1601
    assert final["n_common"] == 109
    # and the detail record keeps them too (inside the regressions block)
    detail = json.loads(detail_line[detail_line.index("{"):])
    assert detail["regressions"]["geomean_vs_baseline_raw"] == 1.0842

    # a gate without the fields (round-1 shape) emits a line without them
    _, bare_line = build_summary_lines(
        timings, {}, {"baseline": "x", "flagged": {}}, 0.1)
    assert "geomean_vs_baseline_raw" not in json.loads(bare_line)


def test_bench_regression_predicate_tiers():
    """The gate's two tiers (r7): sub-3s baselines flag at 1.5x AND a
    0.75s absolute floor; >= 3s baselines flag at 1.25x — the r6 gate
    shipped a 1.44x drift on the bench's most expensive query as a
    single unreplicated measurement."""
    from bench import _is_regression

    # noise floor: tiny baselines never flag
    assert not _is_regression(0.04, 10.0)
    # sub-3s tier: both conditions required
    assert not _is_regression(0.4, 0.9)       # 2.25x but only +0.5s
    assert not _is_regression(1.0, 1.6)       # +0.6s and 1.6x -> floor
    assert _is_regression(1.0, 1.8)           # 1.8x and +0.8s
    assert _is_regression(2.0, 3.1)           # 1.55x and +1.1s
    assert not _is_regression(2.0, 2.9)       # 1.45x < 1.5 (sub-3s tier)
    # >= 3s tier: 1.25x alone suffices (the similarity_ivf_full class)
    assert _is_regression(4.32, 6.21)         # the r6 blind spot: 1.44x
    assert _is_regression(3.0, 3.8)           # 1.27x
    assert not _is_regression(3.0, 3.7)       # 1.23x
    assert not _is_regression(4.0, 4.9)       # 1.22x


def test_session_factor_median_calibration():
    """r8 VERDICT ask #2: a whole-session slowdown (driver machine 15%
    slower than the baseline session) must be visible as a calibration
    factor, not as 104 spurious per-query ratios."""
    from bench import _is_regression, _session_factor

    prev = {f"q{i}": 2.0 for i in range(10)}
    now = {f"q{i}": 2.3 for i in range(10)}
    factor, n = _session_factor(prev, now)
    assert factor == 1.15 and n == 10

    # sub-second baselines are scheduler noise — excluded from the pool
    prev["tiny"], now["tiny"] = 0.4, 4.0
    assert _session_factor(prev, now) == (1.15, 10)

    # below the evidence floor the factor stays 1.0
    assert _session_factor({"a": 2.0}, {"a": 3.0}) == (1.0, 1)

    # composition with the gate: prev 4.0s -> now 6.0s raw-flags
    # (1.5x on a >=3s baseline), but in a 1.2x-slow session the
    # normalized 5.0s is 1.25x — exactly at, not over, the tier line
    assert _is_regression(4.0, 6.0)
    assert not _is_regression(4.0, 6.0 / 1.2)

    # a REAL regression survives normalization: 4.0 -> 8.0 in the same
    # 1.2x session is still 1.67x normalized
    assert _is_regression(4.0, 8.0 / 1.2)

    # and a real WIN is provable despite a slow session: 4.7 -> 3.3
    # builder-measured, inflated 1.4x by the session, normalizes back
    assert not _is_regression(4.7, 3.3 * 1.4 / 1.4)


def test_scored_window_excludes_bench_excluded_heavy_forms():
    """The driver scores DRIVER_PREFIX[:50] at a driver-chosen SF.  Two
    registered forms are deliberate coverage gates with costs that are
    unacceptable in a scored slot at large SF (r6 VERDICT): the uncapped
    exact link prediction (~30-48s at sf0.1, wedge-bounded) and the
    6-pass BPE training loop.  Keep them registered, keep them OUT of
    the scored window.

    Policy decided in r9 (the r8 rotation broke the old form of this
    guard): under the freshness-rotation prefix policy the CAPPED
    counterpart is NOT pinned inside the 50-row window — its driver
    evidence is cumulative like every other query's.  The safety
    property the guard actually protects is (a) neither heavy form can
    ever be scored, and (b) the scale-safe capped form stays
    registered, oracle-backed, IN the prefix ordering, and bench-timed
    (so a perf regression on it is still caught every round even when
    it is not in the scored window)."""
    import bench
    from ab_metadata_pusher_spark.plans.registry import (
        DRIVER_PREFIX, REGISTRY, _load_all)

    _load_all()
    window = set(DRIVER_PREFIX[:50])
    assert "graph_link_prediction" not in window
    assert "text_bpe_train" not in window
    # the scale-safe counterpart: registered, oracle-backed, ordered,
    # and covered by the bench's per-query regression gate
    capped = "graph_link_prediction_capped"
    assert capped in DRIVER_PREFIX
    assert REGISTRY[capped].oracle is not None
    assert capped in bench.REGISTRY_BENCH
    # the heavy forms must never sneak into the bench either
    assert "graph_link_prediction" not in bench.REGISTRY_BENCH
    assert "text_bpe_train" not in bench.REGISTRY_BENCH
