"""Funnel state-machine edge semantics (beyond the registry's oracle
parity): out-of-order steps, strict-tie behaviour, missing steps, and
arbitrary step counts."""

from __future__ import annotations

import datetime as dt

from ab_metadata_pusher_spark.operators.funnel import funnel_steps


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp_ntz, event_type string")


def _force_assign_tier(monkeypatch, tier: str) -> None:
    """Force the literal or Arrow cell/cluster assignment tier through
    its crossover constant (the only tier switch the code has)."""
    from ab_metadata_pusher_spark.operators import clustering as C

    monkeypatch.setattr(C, "ASSIGN_CELLS_LITERAL_MAX",
                        0 if tier == "arrow" else 1 << 62)


def test_funnel_ignores_steps_before_prior(spark):
    # click@1 precedes the first view@2 -> only click@3 counts
    ev = _events(spark, [(1, _ts(1), "click"), (1, _ts(2), "view"),
                         (1, _ts(3), "click"), (1, _ts(4), "purchase")])
    r = funnel_steps(ev, ("view", "click", "purchase")).collect()[0]
    assert (r["view_ts"], r["click_ts"], r["purchase_ts"]) == \
        (_ts(2), _ts(3), _ts(4))


def test_funnel_missing_middle_step_blocks_later(spark):
    # purchase exists but no click after the view -> purchase stays null
    ev = _events(spark, [(2, _ts(1), "purchase"), (2, _ts(2), "view"),
                         (2, _ts(3), "purchase")])
    r = funnel_steps(ev, ("view", "click", "purchase")).collect()[0]
    assert r["view_ts"] == _ts(2)
    assert r["click_ts"] is None and r["purchase_ts"] is None


def test_funnel_same_timestamp_is_strict(spark):
    ev = _events(spark, [(3, _ts(5), "view"), (3, _ts(5), "click")])
    r = funnel_steps(ev, ("view", "click")).collect()[0]
    assert r["view_ts"] == _ts(5) and r["click_ts"] is None


def test_funnel_takes_earliest_valid_of_each_step(spark):
    ev = _events(spark, [(4, _ts(1), "view"), (4, _ts(9), "view"),
                         (4, _ts(4), "click"), (4, _ts(2), "click")])
    r = funnel_steps(ev, ("view", "click")).collect()[0]
    assert (r["view_ts"], r["click_ts"]) == (_ts(1), _ts(2))


def test_funnel_four_steps(spark):
    ev = _events(spark, [(5, _ts(m), t) for m, t in
                         [(1, "view"), (2, "click"), (3, "purchase"),
                          (4, "signup")]])
    r = funnel_steps(
        ev, ("view", "click", "purchase", "signup")).collect()[0]
    assert [r[f"{s}_ts"] for s in ("view", "click", "purchase", "signup")] \
        == [_ts(1), _ts(2), _ts(3), _ts(4)]


def test_kmeans_separable_clusters(spark):
    from ab_metadata_pusher_spark.operators.clustering import (
        assign_clusters, fit_centroids, kmeans_fit_assign, seed_centroids,
        update_centroids,
    )
    pts = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [1.0, 0.0]),
           (3, [0.0, 1.0]), (4, [10.0, 9.0]), (5, [9.0, 10.0])]
    e = spark.createDataFrame(
        [(i, v) for i, v in pts], "vec_id bigint, embedding array<double>")

    out = {r["vec_id"]: r["cluster"]
           for r in kmeans_fit_assign(e, k=2, iters=2).collect()}
    assert out == {0: 0, 2: 0, 3: 0, 1: 1, 4: 1, 5: 1}

    # centroid update is the mean of the assigned points, read from
    # the embedding the assignment carries (the trainer's call shape)
    cents = seed_centroids(e, 2)
    carried = assign_clusters(e, cents, keep_emb=True)
    updated = dict(update_centroids(carried, dim=2))
    assert updated[0] == [1.0 / 3, 1.0 / 3]
    assert updated[1] == [29.0 / 3, 29.0 / 3]
    # one trainer round is exactly that seed -> assign -> update
    assert dict(fit_centroids(e, 2, iters=1)) == updated


def test_update_centroids_null_tolerant(spark):
    """r8 ADVICE: NULL embeddings / NULL elements must not skew the
    mean, and an all-NULL cluster must drop instead of raising
    TypeError(float(None))."""
    from ab_metadata_pusher_spark.operators.clustering import (
        update_centroids,
    )
    e = spark.createDataFrame(
        [(0, 0, [2.0, 4.0]), (1, 0, [4.0, None]), (2, 0, None),
         (3, 1, None)],
        "vec_id bigint, cluster int, embedding array<double>")
    got = dict(update_centroids(e, dim=2))
    # cluster 0: dim0 mean over {2,4}=3, dim1 over {4} alone=4
    # (the NULL element and NULL row contribute to neither)
    assert got == {0: [3.0, 4.0]}, got


def test_double_literals_nonfinite_and_empty(spark):
    """r8 ADVICE: double_array_lit/double_sql must survive NaN, ±inf
    (no 'nanD' parse error) and an empty list must still type as
    array<double>."""
    import math

    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators._shared import (
        double_array_lit, double_sql,
    )
    df = spark.range(1).select(
        double_array_lit([1.5, float("nan"), float("inf"),
                          float("-inf")]).alias("a"),
        double_array_lit([]).alias("e"))
    assert dict(df.dtypes) == {"a": "array<double>", "e": "array<double>"}
    row = df.first()
    assert row["a"][0] == 1.5 and math.isnan(row["a"][1])
    assert row["a"][2] == float("inf") and row["a"][3] == float("-inf")
    assert row["e"] == []
    # downstream double arithmetic on the empty literal must not break
    assert df.select(F.expr(
        "aggregate(e, 0.0D, (acc, x) -> acc + x)").alias("s")
    ).first()["s"] == 0.0
    # bit-exactness of the parsed literal vs F.lit for a hostile value
    v = 0.1 + 0.2
    got = spark.range(1).select(
        F.expr(double_sql(v)).alias("p"), F.lit(v).alias("l")).first()
    assert got["p"] == got["l"]


def test_assign_cells_zero_norm_ranks_last(spark):
    """Degenerate (zero-norm) similarity is NaN; the r9 contract pins
    it to rank LAST (nanvl -> +inf sort key): a zero centroid never
    wins a probe slot, and a zero-norm vector still probes
    deterministically (all-NaN ties break to the lower cell)."""
    from ab_metadata_pusher_spark.operators.similarity import _assign_cells

    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    got = {(r["vec_id"], r["cell"])
           for r in _assign_cells(df, cents, "vec_id", "embedding",
                                  nprobe=2).collect()}
    # vector 10: real cosines rank cells 1 then 2; the zero centroid
    # (cell 0, NaN) ranks last and must NOT appear in the top-2
    # vector 11: every cosine is NaN -> ties break to cells 0, 1
    assert got == {(10, 1), (10, 2), (11, 0), (11, 1)}


def test_assign_cells_tiers_agree(spark, monkeypatch):
    """The literal and arrow tiers implement one contract: identical
    (vec_id, cell) picks on tie-free data, including nprobe truncation.

    Deliberately tie-free: a DUPLICATED centroid ties in math but BLAS
    computes different matmul output columns through different
    SIMD/remainder paths, so the duplicate can differ by 1 ULP in the
    arrow tier and flip the pick (observed: batch of 80 rows x 7 cells
    picked cell 6 over the identical cell 0; a 2-row batch picked 0).
    That trade is documented on _assign_cells_arrow; EXACT computed
    ties (the all-inf degenerate path) are covered by the zero-norm
    test below."""
    from ab_metadata_pusher_spark.operators.similarity import _assign_cells

    import random
    rng = random.Random(42)
    cents = [(c, [rng.uniform(-1, 1) for _ in range(8)]) for c in range(6)]
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    for nprobe in (1, 3):
        picks = {}
        for tier in ("literal", "arrow"):
            _force_assign_tier(monkeypatch, tier)
            picks[tier] = {
                (r["vec_id"], r["cell"])
                for r in _assign_cells(df, cents, "vec_id", "embedding",
                                       nprobe).collect()}
        assert picks["literal"] == picks["arrow"] \
            and len(picks["literal"]) == 80 * nprobe, f"nprobe={nprobe}"


def test_assign_cells_arrow_zero_norm_and_dispatch(spark, monkeypatch):
    """Arrow tier honors the degenerate contract (zero-norm ranks
    last, all-NaN ties to lower cells) and auto dispatch crosses to
    arrow past ASSIGN_CELLS_LITERAL_MAX."""
    from ab_metadata_pusher_spark.operators import clustering as C
    from ab_metadata_pusher_spark.operators import similarity as S

    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>")
    _force_assign_tier(monkeypatch, "arrow")
    got = {(r["vec_id"], r["cell"])
           for r in S._assign_cells(df, cents, "vec_id", "embedding",
                                    nprobe=2).collect()}
    assert got == {(10, 1), (10, 2), (11, 0), (11, 1)}

    # arrow runs once k x dim exceeds the threshold
    monkeypatch.setattr(C, "ASSIGN_CELLS_LITERAL_MAX", 5)
    plan = S._assign_cells(df, cents, "vec_id", "embedding", nprobe=1)
    assert "MapInArrow" in plan._jdf.queryExecution().toString()
    monkeypatch.setattr(C, "ASSIGN_CELLS_LITERAL_MAX", 8192)
    plan = S._assign_cells(df, cents, "vec_id", "embedding", nprobe=1)
    qe = plan._jdf.queryExecution().toString()
    assert not any(node in qe for node in (
        "InPandas", "InArrow", "ArrowEvalPython", "BatchEvalPython"))


def test_assign_tiers_degenerate_embeddings_agree(spark, monkeypatch):
    """r9 ADVICE: the arrow tiers crashed on NULL / ragged / null-element
    embeddings (np.asarray over a ragged list) while the literal tiers
    degrade gracefully.  Both tiers now share the degenerate contract:
    _assign_cells ties every cell to the lowest ids; assign_clusters
    emits (lowest cluster id, NULL dist).  A NaN element is a value,
    not NULL: it ties to the lowest ids too, and its dist is NaN in
    both tiers (the Arrow boundary must not turn it into NULL)."""
    from ab_metadata_pusher_spark.operators.clustering import assign_clusters
    from ab_metadata_pusher_spark.operators.similarity import _assign_cells

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.5])]
    df = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, None), (12, [0.5]),
         (13, [None, 1.0]), (14, [0.2, 0.9, 0.4]),
         (15, [float("nan"), 1.0])],
        "vec_id bigint, embedding array<double>")

    cells = {}
    for tier in ("literal", "arrow"):
        _force_assign_tier(monkeypatch, tier)
        cells[tier] = sorted(
            (r["vec_id"], r["cell"])
            for r in _assign_cells(df, cents, "vec_id", "embedding",
                                   nprobe=2).collect())
    assert cells["literal"] == cells["arrow"]
    # degenerate rows tie to the two lowest cells
    assert [c for v, c in cells["arrow"] if v == 11] == [0, 1]
    assert [c for v, c in cells["arrow"] if v == 13] == [0, 1]
    assert [c for v, c in cells["arrow"] if v == 15] == [0, 1]

    clus = {}
    for tier in ("literal", "arrow"):
        _force_assign_tier(monkeypatch, tier)
        clus[tier] = sorted(
            (r["vec_id"], r["cluster"],
             # NaN != NaN: compare it as a token
             None if r["dist"] is None
             else "NaN" if r["dist"] != r["dist"] else round(r["dist"], 6))
            for r in assign_clusters(df, cents).collect())
    assert clus["literal"] == clus["arrow"]
    by_id = {v: (c, d) for v, c, d in clus["arrow"]}
    for degenerate in (11, 12, 13, 14):
        assert by_id[degenerate] == (0, None)
    assert by_id[15] == (0, "NaN")


def test_lpa_alignments_agree(spark, monkeypatch):
    """The broadcast and shuffled LPA alignments are one algorithm in
    two physical plans (r9: the r7-measured flip is now code, selected
    on the label-frame footprint against the shared node-set budget) —
    forcing the above-budget (shuffled) alignment yields identical
    communities."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from conftest import SF_DIR

    from ab_metadata_pusher_spark.operators import _shared
    from ab_metadata_pusher_spark.plans.analytics_queries import (
        _cooccur_edges, _lpa_run,
    )

    def communities():
        out = _lpa_run(spark, _cooccur_edges(spark, SF_DIR), 3)
        return sorted((r["node"], r["community"]) for r in out.collect())

    base = communities()
    monkeypatch.setattr(_shared, "NODESET_BROADCAST_MAX_BYTES", 0)
    assert communities() == base and len(base) > 0


def test_loop_width_scales_with_edges_and_caps_at_cores():
    """The iterative-loop shuffle width is a data rule, not a fixture
    constant (r10 multi-decade study: width 16 at x100 ran LPA on half
    the box — 161.5 s vs 77.0 s at the 4x-cores cap, outputs equal,
    lpa_width_probe.py, last in commit 9bc81c2).  Floor = the r4 fixture
    A/B; density = that floor restated per edge row; cap = 4x default
    parallelism."""
    from ab_metadata_pusher_spark.plans.analytics_queries import (
        _loop_width,
    )
    # fixture scale: sf0.1's ~1.1M symmetrized rows stay at the r4 floor
    assert _loop_width(1_100_000, 32) == 16
    assert _loop_width(100, 32) == 16           # tiny graphs: floor
    # the measured x100 decade: ~110M rows on a 32-core box -> the cap
    assert _loop_width(110_000_000, 32) == 128
    # between floor and cap the width tracks edge density
    assert _loop_width(2_800_000, 1024) == 40
    # the cap scales with the cluster, not the fixture machine
    assert _loop_width(110_000_000, 1000) == 1572


def test_assign_clusters_tiers_agree(spark, monkeypatch):
    """assign_clusters mirrors _assign_cells' two tiers (same crossover
    constant): identical (id, cluster) picks and round-6 dists on
    tie-free data, and dispatch crosses to MapInArrow past the
    threshold.  A NaN-coordinate centroid ranks last in both."""
    import random

    from ab_metadata_pusher_spark.operators import clustering as C
    from ab_metadata_pusher_spark.operators.clustering import (
        assign_clusters,
    )

    rng = random.Random(7)
    cents = [(c, [rng.uniform(-1, 1) for _ in range(8)]) for c in range(5)]
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    _force_assign_tier(monkeypatch, "literal")
    lit = {(r["vec_id"], r["cluster"], round(r["dist"], 6))
           for r in assign_clusters(df, cents).collect()}
    _force_assign_tier(monkeypatch, "arrow")
    arr = {(r["vec_id"], r["cluster"], round(r["dist"], 6))
           for r in assign_clusters(df, cents, keep_emb=True).collect()}
    assert lit == arr and len(lit) == 60

    # A centroid with a NaN coordinate (update_centroids can emit one
    # from a NaN-element row) is at NaN distance from every row; both
    # tiers rank NaN last, so it wins nothing.
    nan_cents = cents + [(1 + len(cents), [float("nan")] + [0.0] * 7)]
    picks = {}
    for tier in ("literal", "arrow"):
        _force_assign_tier(monkeypatch, tier)
        picks[tier] = {(r["vec_id"], r["cluster"], round(r["dist"], 6))
                       for r in assign_clusters(df, nan_cents).collect()}
    assert picks["literal"] == picks["arrow"] == lit

    monkeypatch.setattr(C, "ASSIGN_CELLS_LITERAL_MAX", 5)
    plan = assign_clusters(df, cents)
    assert "MapInArrow" in plan._jdf.queryExecution().toString()


def test_kmeans_tie_breaks_to_lower_cluster(spark):
    from ab_metadata_pusher_spark.operators.clustering import assign_clusters
    e = spark.createDataFrame([(9, [5.0])], "vec_id bigint, embedding array<double>")
    r = assign_clusters(e, [(0, [4.0]), (1, [6.0])]).collect()[0]
    assert r["cluster"] == 0 and r["dist"] == 1.0


def test_lloyd_operators_skip_null_seed_embedding(spark):
    """A NULL embedding at a seed id (vec_id 0) seeds nothing: every
    Lloyd-trained operator runs, and its rows that do not involve id 0
    equal a run on the same corpus without row 0 (same seeds, same
    updates — NULL rows never enter a mean)."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators.clustering import (
        kmeans_fit_assign, pq_fit_assign,
    )
    from ab_metadata_pusher_spark.operators.similarity import (
        ann_ivf_knn_self, ann_ivf_topk, semantic_dedup_pairs,
    )

    rng = random.Random(11)
    bases = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    rows = [(0, None)] + [
        (i, [x + rng.uniform(-0.05, 0.05) for x in bases[i % 4]])
        for i in range(1, 40)]
    corpus = spark.createDataFrame(rows,
                                   "vec_id bigint, embedding array<double>")
    without_0 = corpus.filter(F.col("vec_id") != 0)
    runs = {
        "kmeans": (lambda c: kmeans_fit_assign(c, k=4, iters=2),
                   ["vec_id"]),
        "pq": (lambda c: pq_fit_assign(c, m=4, k=4, iters=2), ["vec_id"]),
        "semantic": (lambda c: semantic_dedup_pairs(c, 0.9, n_cells=4),
                     ["vec_a", "vec_b"]),
        "ivf_knn_self": (lambda c: ann_ivf_knn_self(c, k=3, n_cells=4,
                                                    nprobe=2),
                         ["query_id", "neighbor_id"]),
        "ivf_topk": (lambda c: ann_ivf_topk(
            c, c.filter(F.col("vec_id") < 6), k=3, nprobe=2,
            n_cells=4), ["query_id", "neighbor_id"]),
    }
    for name, (run, ids) in runs.items():
        keep = F.lit(True)
        for c in ids:
            keep = keep & (F.col(c) != 0)
        got = sorted(tuple(r) for r in run(corpus).filter(keep).collect())
        want = sorted(tuple(r) for r in run(without_0).filter(keep)
                      .collect())
        assert got == want and got, name

    # no id below k carries an embedding: the seeding contract is named
    with pytest.raises(ValueError, match="seeded from vec_id j"):
        kmeans_fit_assign(corpus.filter(F.col("vec_id") != 0)
                          .withColumn("vec_id", F.col("vec_id") + 100),
                          k=4)


def _two_group_corpus(spark, first):
    """10 rows: vec_id 0 is ``first``; odd ids sit near (0, 0), even ids
    near (10, 10), so seeds 1 and 2 split the rest into two groups."""
    rows = [(0, first)] + [
        (i, [0.1 * i, 0.0] if i % 2 else [10.0, 10.0 + 0.1 * i])
        for i in range(1, 10)]
    return spark.createDataFrame(rows,
                                 "vec_id bigint, embedding array<double>")


def test_kmeans_skips_seed_with_null_element(spark):
    """A seed embedding with a NULL element ([NULL, 1.0] at vec_id 0)
    seeds nothing, like a NULL embedding: seeds 1 and 2 train, row 0
    has no defined distance, every other row lands with its group."""
    from ab_metadata_pusher_spark.operators.clustering import (
        kmeans_fit_assign,
    )

    got = {r["vec_id"]: (r["cluster"], r["dist"])
           for r in kmeans_fit_assign(_two_group_corpus(spark, [None, 1.0]),
                                      k=3).collect()}
    assert len(got) == 10
    assert got[0][1] is None
    assert {i: c for i, (c, _) in got.items() if i} == {
        i: 1 if i % 2 else 2 for i in range(1, 10)}
    assert all(d is not None for i, (_, d) in got.items() if i)


def test_kmeans_refuses_seeds_of_different_lengths(spark):
    """A 1-long seed among 2-long ones would train 1-long centroids and
    NULL distances; the trainer names the ids and lengths instead."""
    import pytest

    from ab_metadata_pusher_spark.operators.clustering import (
        kmeans_fit_assign,
    )

    corpus = _two_group_corpus(spark, [1.0])
    with pytest.raises(ValueError,
                       match=r"vec_id 0: 1, vec_id 1: 2, vec_id 2: 2"):
        kmeans_fit_assign(corpus, k=3, iters=1).collect()


def test_funnel_randomized_vs_bruteforce(spark):
    # fixed-seed randomized differential: many users, shuffled event
    # streams, compared against a pure-Python funnel reference
    import random

    rng = random.Random(1234)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = []
    for u in range(60):
        for _ in range(rng.randint(0, 12)):
            rows.append((u, _ts(rng.randint(0, 59)), rng.choice(types)))
    rows = [r for r in rows if r[0] != 0] or [(1, _ts(0), "view")]

    def brute(evs):
        evs = sorted(evs, key=lambda e: (e[1], e[2]))
        got, prev = {}, None
        for step in ("view", "click", "purchase"):
            hit = next((ts for _, ts, t in evs
                        if t == step and (prev is None or ts > prev)), None)
            got[step] = prev = hit
            if hit is None:
                break
        return (got.get("view"), got.get("click"), got.get("purchase"))

    by_user = {}
    for r in rows:
        by_user.setdefault(r[0], []).append(r)
    expected = {u: brute(evs) for u, evs in by_user.items()}

    ev = _events(spark, rows)
    out = {r["user_id"]: (r["view_ts"], r["click_ts"], r["purchase_ts"])
           for r in funnel_steps(ev, ("view", "click", "purchase")).collect()}
    assert out == expected


def test_expectations_split_and_report_agree(spark):
    """apply_expectations' quarantine must carry the exact broken-rule
    names, null rule results must quarantine (conservative gate), and
    the report's counts must equal the split's."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators.quality import (
        apply_expectations, expectations_report,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, -5.0, "b"), (3, None, "c"), (4, 7.0, None)],
        "id long, price double, tag string")
    rules = {"price_pos": F.col("price") > 0,
             "tag_set": F.col("tag").isNotNull()}
    valid, quar = apply_expectations(df, rules)
    assert {r.id for r in valid.collect()} == {1}
    got = {r.id: sorted(r._broken_rules) for r in quar.collect()}
    assert got == {2: ["price_pos"], 3: ["price_pos"], 4: ["tag_set"]}

    rep = {r.rule: r for r in expectations_report(df, rules).collect()}
    assert rep["price_pos"].n_violations == 2  # -5 and NULL both fail
    assert rep["tag_set"].n_violations == 1
    assert rep["price_pos"].n_rows == 4
    assert rep["price_pos"].violated_ppm == 500000

    import pytest as _p
    with _p.raises(ValueError):
        apply_expectations(df, {})


def test_triangle_orientations_agree_on_hub_graph(spark):
    """The id and (degree, id) orientations are one algorithm in two
    physical plans (r9: the SCALE.md hub prose is now code): identical
    (n_nodes, n_edges, n_triangles) on a hub-dominated graph where the
    id orientation hands node 0 the whole forward neighborhood, and
    both match the brute-force count."""
    from itertools import combinations

    from ab_metadata_pusher_spark.plans.analytics_queries import (
        _triangles_run)

    n = 120
    # hub 0 -- every ring node, plus the ring itself (i, i+1)
    und = {(0, i) for i in range(1, n)}
    und |= {(min(i, i % (n - 1) + 1), max(i, i % (n - 1) + 1))
            for i in range(1, n)}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = sum(1 for x, y, z in combinations(sorted(adj), 3)
                   if y in adj[x] and z in adj[x] and z in adj[y])
    pairs = spark.createDataFrame(sorted(und), "a bigint, b bigint")

    from ab_metadata_pusher_spark.operators._shared import MATERIALIZE_CONF

    res = {}
    for orientation in ("id", "degree", "auto"):
        row = _triangles_run(spark, pairs, orientation).collect()[0]
        res[orientation] = (row["n_nodes"], row["n_edges"],
                            row["n_triangles"])
    # under eager mode auto MEASURES the signal and flips to degree on
    # this hub graph (max out-list = |V|-1 >> 4*sqrt(2m)); in the lazy
    # default it resolves to id without running a construction job
    prev = spark.conf.get(MATERIALIZE_CONF, None)
    spark.conf.set(MATERIALIZE_CONF, "eager")
    try:
        row = _triangles_run(spark, pairs, "auto").collect()[0]
        res["auto_eager"] = (row["n_nodes"], row["n_edges"],
                             row["n_triangles"])
    finally:
        if prev is None:
            spark.conf.unset(MATERIALIZE_CONF)
        else:
            spark.conf.set(MATERIALIZE_CONF, prev)
    assert res["id"] == res["degree"] == res["auto"] == \
        res["auto_eager"] == (len(adj), len(und), expected)


def test_triangle_orientation_flip_threshold():
    """The flip is the documented resource rule: degree orientation only
    past _TRI_HUB_FACTOR x sqrt(2m); NULL scalars (empty graph) stay id."""
    from ab_metadata_pusher_spark.plans.analytics_queries import (
        _TRI_HUB_FACTOR, _pick_orientation)

    m = 5000  # sqrt(2m) = 100
    assert _pick_orientation(None, None) == "id"
    assert _pick_orientation(0, 0) == "id"
    assert _pick_orientation(int(_TRI_HUB_FACTOR * 100), m) == "id"
    assert _pick_orientation(int(_TRI_HUB_FACTOR * 100) + 1, m) == "degree"


def test_double_array_lit_bit_exact_over_adversarial_doubles(spark):
    """The literal path's whole contract is BIT-exactness: repr() is
    the shortest round-trip form and Spark's parse must recover the
    identical IEEE-754 bits, or centroid/LSH consumers drift from
    their oracles.  Checked over the classic parser-hostile doubles
    (subnormals incl. the 2.2250738585072011e-308 hang value, -0.0,
    max/min normals, 2^53 neighbors) plus 200 seeded random bit
    patterns — one Spark action for the whole corpus."""
    import random
    import struct

    from ab_metadata_pusher_spark.operators._shared import double_array_lit

    edge = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072011e-308,
            2.2250738585072014e-308, 1.7976931348623157e308,
            -1.7976931348623157e308, 2.0**53, 2.0**53 + 2, 2.0**53 - 1,
            1e-310, 0.1 + 0.2, 1 / 3, -1e16 - 1]
    rng = random.Random(0xD0B1E5)
    raw = [struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
           for _ in range(200)]
    vals = edge + [v for v in raw if v == v and abs(v) != float("inf")]

    got = spark.range(1).select(
        double_array_lit(vals).alias("a")).first()["a"]
    bits = lambda x: struct.pack("<d", x)  # noqa: E731 — -0.0 vs 0.0 visible
    assert len(got) == len(vals)
    mismatches = [(v, g) for v, g in zip(vals, got)
                  if bits(v) != bits(g)]
    assert mismatches == []


def test_kcore_survivor_alignments_agree(spark, monkeypatch):
    """The broadcast and shuffled survivor semi-joins are one peel in
    two physical plans (r9: the per-round flip rides the fixpoint
    count): forcing the above-budget path (as a 100 TB round-1 survivor
    set would) yields the identical core."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from conftest import SF_DIR

    from ab_metadata_pusher_spark.operators import _shared
    from ab_metadata_pusher_spark.plans import analytics_queries as aq

    base = sorted((r["node"], r["core_degree"]) for r in
                  aq.q_graph_kcore(spark, SF_DIR).collect())
    monkeypatch.setattr(_shared, "NODESET_BROADCAST_MAX_BYTES", 0)
    shuffled = sorted((r["node"], r["core_degree"]) for r in
                      aq.q_graph_kcore(spark, SF_DIR).collect())
    assert base == shuffled and len(base) > 0


def test_nodeset_hint_threshold():
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators._shared import (
        NODESET_BROADCAST_MAX_BYTES, nodeset_hint)

    fit = NODESET_BROADCAST_MAX_BYTES // 16
    assert nodeset_hint(fit) is F.broadcast
    assert nodeset_hint(fit + 1) is not F.broadcast
    assert nodeset_hint(fit, row_bytes=24) is not F.broadcast


def test_bfs_alignments_agree(spark, monkeypatch):
    """Forcing the above-budget path (a saturated 100 TB visited set)
    yields identical BFS distances to the broadcast plan."""
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
    from conftest import SF_DIR

    from ab_metadata_pusher_spark.operators import _shared
    from ab_metadata_pusher_spark.plans import analytics_queries as aq

    base = sorted((r["node"], r["dist"]) for r in
                  aq.q_graph_bfs_distance(spark, SF_DIR).collect())
    monkeypatch.setattr(_shared, "NODESET_BROADCAST_MAX_BYTES", 0)
    shuffled = sorted((r["node"], r["dist"]) for r in
                      aq.q_graph_bfs_distance(spark, SF_DIR).collect())
    assert base == shuffled and len(base) > 1


def test_parquet_rowcount_matches_engine(spark, sf_dir, tmp_path):
    """The footer count (job-free, feeds nodeset_hint bounds at plan
    construction) equals the engine's count for both a single file and
    a multi-file directory."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators._shared import parquet_rowcount

    single = f"{sf_dir}/part.parquet"
    assert parquet_rowcount(single) == \
        spark.read.parquet(single).count()

    multi = str(tmp_path / "multi")
    spark.range(1234).repartition(3).write.parquet(multi)
    assert parquet_rowcount(multi) == 1234

    # r9 ADVICE: hive-partitioned layouts keep files under key=value
    # SUBDIRECTORIES — a top-level-only listing undercounted silently
    nested = str(tmp_path / "nested")
    (spark.range(500).withColumn("k", (F.col("id") % 4).cast("int"))
     .write.partitionBy("k").parquet(nested))
    assert parquet_rowcount(nested) == \
        spark.read.parquet(nested).count() == 500
