"""Benchmark runner — one JSON line for the driver's BENCH record.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], timing full plan
execution (noop sink — materializes every row, writes nothing), and prints

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Headline set = the reference-parity flagship (metadata graph build) +
the heaviest operator families (TPC-H-shaped agg/join/window) + the
UNBOUNDED LLM-pipeline operators over the full documents/embeddings
tables (the correctness registry intentionally bounds these; the bench
must exercise the scale paths).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from ab_metadata_pusher_spark.operators import dedup as D  # noqa: E402
from ab_metadata_pusher_spark.operators import similarity as S  # noqa: E402
from ab_metadata_pusher_spark.operators import text as X  # noqa: E402
from ab_metadata_pusher_spark.operators._shared import (  # noqa: E402
    MATERIALIZE_CONF,
)
from ab_metadata_pusher_spark.plans.registry import queries  # noqa: E402
from ab_metadata_pusher_spark.session import get_spark  # noqa: E402
from ab_metadata_pusher_spark.sources.fixtures import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: registry queries benched as-is (correctness-shaped, still meaningful).
REGISTRY_BENCH = [
    "metadata_nodes",
    "agg_pricing_summary",
    "agg_rollup",
    "agg_percentiles",
    "join_multiway_revenue",
    "join_left_outer_orders",
    "join_asof_clicks",
    "window_topk_per_group",
    "window_lag_delta",
    "sessionize_events",
    "explode_word_counts",
    "udf_grouped_geomean",
    "stream_tumbling_counts",
    "stream_stateful_user_stats",
    "stream_stream_join",
    "funnel_steps",
    "window_range_1h",
    "cohort_retention",
    "text_vocab",
    "embedding_kmeans",
    "text_lm_score",
    "graph_triangles",
    "text_bm25",
    "join_temporal_dim",
    "rollup_incremental_merge",
    "join_interval_overlap",
    "corpus_snapshot_diff",
    # round-3 additions
    "dedup_substring_spans",
    "text_html_strip",
    "text_unicode_nfc",
    "sample_global_shuffle",
    "multimodal_decode_audio",
    "multimodal_decode_video",
    "jsonl_corpus_ingest",
    "warc_corpus_ingest",
    "agg_heavy_hitters_guaranteed",
    "similarity_ann_ivf",
    "text_bpe_pair_counts",
    "corpus_build_pipeline",
    "window_ema_bounded",
    "text_quality_classifier",
    "corpus_token_budget",
    "dedup_url_canonical",
    "multimodal_audio_fingerprint",
    "dedup_paragraph_rewrite",
    "quality_adaptive_threshold",
    "dedup_semantic",
    "text_bpe_apply",
    "dedup_bloom_incremental",
    "text_bigram_lm",
    "sample_dsir",
    "embedding_covariance",
    "quality_ppl_buckets",
    "dedup_suffix_prefix",
    "quality_mixture_kl",
    "dedup_ppjoin",
    "graph_label_propagation",
    "timeseries_seasonal_decompose",
    "timeseries_anomaly_zscore",
    "join_asof_tolerance",
    "metadata_fk_inference",
    "events_markov_transitions",
    "dedup_weighted_minhash",
    "sample_kcenter",
    "text_ngram_novelty",
    "multimodal_phash_pairs",
    # round-3 second batch
    "graph_kcore",
    "text_boilerplate_lines",
    "entity_resolution_customers",
    "layout_zorder_stats",
    "analytics_winsorize",
    "subquery_correlated_scalar",
    "agg_having_in",
    "join_disjunctive_pred",
    "cdc_join_view_delta",
    "analytics_ks_drift",
    "analytics_chi_square",
    "quality_quantile_normalize",
    "embedding_random_projection",
    "agg_countmin_sketch",
    "stream_countmin_cells",
    "metadata_masked_view",
    "analytics_ols_normal_equations",
    "analytics_join_size_estimate",
    "quality_label_consistency_ann",
    "timeseries_downsample_lttb",
    "orc_corpus_ingest",
    "join_geo_proximity",
    "analytics_skyline_2d",
    "events_trigram_paths",
    "events_rfm_segments",
    "orders_basket_lift",
    # round-9: the scale-safe capped link prediction leaves the scored
    # window under the freshness rotation — the bench gate becomes its
    # standing perf watchdog (tests/test_registry.py pins this).
    "graph_link_prediction_capped",
    # round-10: the sketch-bracketed exact percentile (replaced the
    # rows-only agg_approx_percentiles) — two aggregate passes whose
    # cost profile should stay sketch-shaped, so it is perf-gated from
    # its first round.
    "agg_percentiles_guaranteed",
]


def _unbounded_llm(spark, sf_dir):
    """Bench-only formulations over the FULL documents/embeddings tables.

    The fixture tables are single-file/single-row-group parquet, so the
    scan cannot split and all pre-shuffle expression work (per-shingle
    md5, cosine math) would run on ONE core.  A real 100 TB corpus arrives
    as many files; the explicit repartition stands in for that natural
    parallelism and is counted inside the measured time (4x on the
    hash-heavy operators, measured).
    """
    from ab_metadata_pusher_spark.operators._shared import spread_if_narrow
    docs_raw = load_table(spark, sf_dir, "documents")
    # conditional: a multi-file (real-corpus-shaped) input already scans
    # wide, and the blanket repartition is a pure-cost full shuffle there
    # (r11 decade study: Count-Min 1.5x slower with it at x100)
    docs = spread_if_narrow(docs_raw)
    emb = spread_if_narrow(load_table(spark, sf_dir, "embeddings"))
    return {
        # one md5 per doc — repartition costs more than it parallelizes
        "dedup_exact_full": lambda: D.exact_dedup_keep_min(docs_raw),
        "dedup_minhash_lsh_full": lambda: D.lsh_candidate_pairs(
            docs, k=16, bands=4),
        "dedup_simhash_full": lambda: D.simhash(docs),
        "text_quality_full": lambda: X.quality_features(docs),
        "text_fingerprint_full": lambda: X.fingerprint(docs),
        "similarity_topk_full": lambda: S.topk_cosine_bruteforce(
            emb, emb.filter(F.col("vec_id") < 8), k=10),
        "similarity_ann_full": lambda: S.ann_lsh_topk(
            emb, emb.filter(F.col("vec_id") < 8), k=10),
        "similarity_ivf_full": lambda: S.ann_ivf_topk(
            emb, emb.filter(F.col("vec_id") < 8), k=10),
        "text_repetition_full": lambda: X.repetition_features(docs),
        "text_pii_full": lambda: X.pii_redact(docs_raw),
        "dedup_clusters_full": lambda: _clusters_full(
            docs, f"{sf_dir}/documents.parquet"),
        "dedup_containment_full": lambda: D.containment_pairs(
            docs, 0.8, max_df=100),
        # round-11: the label-noise screen over the FULL embeddings
        # table (the registry form gates at vec_id < 500 for the
        # oracle; this is the corpus-scale shape the r10 verdict wanted
        # decade data for — LSH-bucketed kNN self-join + majority vote)
        "quality_label_full": lambda: _quality_label_full(
            emb, f"{sf_dir}/embeddings.parquet"),
        # round-11: weighted minhash over the FULL documents table (the
        # registry form bounds _doc_corpus at 300 docs for the oracle)
        "dedup_weighted_minhash_full": lambda: _wmh_full(docs),
        # round-12: SemDeDup over the FULL embeddings table with
        # DATA-SIZED cells (the registry form's bounded corpus keeps the
        # oracle-pinned 8 cells; at corpus scale fixed cells make
        # Sigma|cell|^2 quadratic — ivf_cells_for holds occupancy, and
        # so per-cell pair work, constant)
        "dedup_semantic_full": lambda: _semantic_full(
            emb, f"{sf_dir}/embeddings.parquet"),
    }


def _semantic_full(emb, emb_path):
    """Unbounded SemDeDup: full embeddings table + the same
    deterministic perturbed copies the registry form plants (so true
    near-dup pairs exist to find), cells DATA-SIZED from the doubled
    corpus's footer count — with the oracle head's fixed 8 cells,
    within-cell pair volume is Sigma|cell|^2 = n^2/8, quadratic."""
    from ab_metadata_pusher_spark.operators._shared import parquet_rowcount
    pert = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding",
                    lambda x: (x * 1.01 + 0.005).cast("float"))
         .alias("embedding"),
        F.col("label"))
    corpus = emb.select("vec_id", "embedding", "label").unionByName(pert)
    return S.semantic_dedup_pairs(
        corpus, 0.9, n_cells=None,
        n_vectors=2 * parquet_rowcount(emb_path))


def _wmh_full(docs):
    """Unbounded weighted-MinHash pairs (plans/llm_queries.py wmh_pairs
    without the oracle gate's doc_id bound)."""
    from ab_metadata_pusher_spark.plans.llm_queries import wmh_pairs
    return wmh_pairs(docs.select("doc_id", "text"))


def _quality_label_full(emb, emb_path):
    """Unbounded ANN label-consistency screen: 5-NN by learned-IVF-cell
    self-join over every vector, each label checked against its neighbor
    majority (the corpus-scale form of plans/llm_queries.py
    q_quality_label_consistency_ann, which keeps the oracle-pinned LSH
    shape on its bounded slice).  IVF over LSH here is a MEASURED choice
    (knn_recall_probe.py, last in commit 9bc81c2; SCALE.md r11): on this
    embedding geometry (true 5-NN at cosine ~0.42) data-learned cells
    reach 4-7x the recall of sized+capped hyperplane buckets at the same
    candidate budget.  Cell count is data-sized from the parquet
    footer count; nprobe is fixed at 8 — the measured nprobe in
    {8,16,32} x {x10,x100} curve is in SCALE.md round-12 (r11 VERDICT
    ask #3: recall rises with nprobe at exactly proportional candidate
    cost; candidates stay nprobe * occupancy per query, linear in
    corpus at any fixed setting)."""
    from ab_metadata_pusher_spark.operators._shared import parquet_rowcount
    from ab_metadata_pusher_spark.plans.llm_queries import _qlc_flags
    return _qlc_flags(emb, S.ann_ivf_knn_self(
        emb, k=5, nprobe=8, n_vectors=parquet_rowcount(emb_path)))


def _clusters_full(docs, docs_path):
    """Unbounded cluster-dedup: fingerprint keys over the FULL documents
    table -> star edges -> hash-to-min connected components (the iterative
    loop runs inside the timed build)."""
    keys = X.fingerprint(docs).select(
        "doc_id", F.col("md5_full").alias("k1"),
        F.col("min_shingle_hash").alias("k2"))
    # The label frame is document-count-sized (5k at sf0.1), so the loop
    # width derives from the parquet-footer doc count (no job) instead
    # of a fixture constant (r13 VERDICT #5): one partition per ~64k
    # ids, FLOORED at the measured local optimum (8 beat 32 near-empty
    # partitions per round at sf0.1) and capped at 4x cluster
    # parallelism like the LPA/k-core loop widths.  At sf0.1 this still
    # resolves to 8 — the driver's bench stays comparable.
    from ab_metadata_pusher_spark.operators._shared import parquet_rowcount
    n_docs = parquet_rowcount(docs_path)
    spark = docs.sparkSession
    width = max(8, min(-(-n_docs // 65_536),
                       4 * spark.sparkContext.defaultParallelism))
    return D.cluster_labels(keys, ["k1", "k2"], shuffle_partitions=width)


def main() -> None:
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false",
                    # The eager checkpoints freed "by the ContextCleaner
                    # on driver GC" need a driver GC to actually happen:
                    # with a 48 GiB heap and 109 sequential heads the
                    # JVM can go the whole run without one, so superseded
                    # checkpoint blocks pile up in the local-mode block
                    # manager.  The cleaner's own periodic-GC knob bounds
                    # that accumulation (default 30min — longer than the
                    # entire run).
                    "spark.cleaner.periodicGC.interval": "5min"})
    spark.sparkContext.setLogLevel("ERROR")
    # The bench keeps the audited EAGER plan shapes for every shared
    # self-join stream (dedup pairs, ANN bucket keys, the converted
    # plan-level adjacency/score/sketch materializations): eager
    # localCheckpoint blocks are freed by the ContextCleaner between the
    # 104 timed queries, where the library's lazy-persist default would
    # accumulate cache-manager entries across the whole run.
    spark.conf.set(MATERIALIZE_CONF, "eager")

    reg = queries()
    timings: dict[str, float] = {}
    splits: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}

    def run(name: str, build) -> None:
        # Fault-isolated: a failing query records an error entry instead of
        # killing the run — the JSON summary line must always print.
        # build() time is recorded separately from execution time: it is
        # pure DRIVER cost (py4j round trips, plan literal construction,
        # analysis) — the r8 literal fix showed this component can
        # dominate and the whole-session gate needs to see it move
        # independently of executor time (r8 VERDICT ask #2).
        t0 = time.time()
        try:
            df = build()
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            return
        t2 = time.time()
        timings[name] = round(t2 - t0, 3)
        splits[name] = {"build": round(t1 - t0, 3),
                        "exec": round(t2 - t1, 3)}

    try:
        _warmup(spark, reg)
    except Exception as exc:  # noqa: BLE001
        # A dead warmup only costs JIT time on the first measured query.
        errors["_warmup"] = f"{type(exc).__name__}: {exc}"[:300]

    builders = {}
    for name in REGISTRY_BENCH:
        builders[name] = (lambda name=name: reg[name](spark, SF_DIR))
    try:
        builders.update(_unbounded_llm(spark, SF_DIR))
    except Exception as exc:  # noqa: BLE001
        errors["_unbounded_llm_setup"] = f"{type(exc).__name__}: {exc}"[:300]
    for name, build in builders.items():
        run(name, build)

    # De-noise: a one-shot measurement occasionally eats a JIT/GC spike
    # (measured: dedup_containment cold 9.0s vs warm 3.2s in one
    # session).  Any query that would be FLAGGED as regressed gets one
    # targeted re-run, keeping the faster time — real regressions
    # reproduce, spikes don't.  Cost is bounded by the flagged set.
    flagged0 = _regressions_vs_previous_round(timings)
    if flagged0:
        # Normalized flags retry too: in a fast session (factor < 1) a
        # one-shot JIT spike can pass the raw gate yet normalized-flag
        # (measured: text_ngram_novelty 8.96s cold vs 2.7s warm).
        retry = (set(flagged0["flagged"])
                 | set(flagged0.get("flagged_normalized", {})))
        for name in retry:
            if name not in builders or name not in timings:
                continue
            first, first_split = timings[name], splits.get(name)
            run(name, builders[name])
            if timings.get(name, first) > first:  # keep the faster run
                timings[name] = first
                if first_split is not None:
                    splits[name] = first_split

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    regressions = _regressions_vs_previous_round(timings)
    detail_line, final_line = build_summary_lines(
        timings, errors, regressions, float(sf), splits=splits)
    print(detail_line)
    (REPO / "BENCH_DETAIL.json").write_text(
        json.dumps(json.loads(detail_line[detail_line.index("{"):]),
                   indent=1))
    print(final_line)


def build_summary_lines(timings: dict[str, float], errors: dict[str, str],
                        regressions: dict | None, sf: float,
                        splits: dict[str, dict[str, float]] | None = None,
                        ) -> tuple[str, str]:
    """Render the two output lines: full detail first, then the compact
    FINAL line.  The driver records only the LAST ~2000 bytes of stdout
    and parses the final JSON line (BENCH_r03 had `parsed: null` because
    the full 104-query summary outgrew that window), so the final line is
    hard-capped under 1600 bytes no matter how many queries the bench
    grows — the worst-N map shrinks, then drops, before the cap can
    break.  Unit-tested in tests/test_registry.py against a 500-query
    synthetic run."""
    detail = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # headline-set membership changes, noted inside the record itself
        # (r10 VERDICT process nit: totals across rounds are not directly
        # comparable when the set grows; the per-query gate handles it)
        "membership_note": (
            "r11: +quality_label_full, +dedup_weighted_minhash_full "
            "(unbounded full-table forms of the two bounded oracle heads, "
            "added for decade-scale coverage); r12: +dedup_semantic_full "
            "(unbounded SemDeDup with data-sized cells — the bounded "
            "oracle head's fixed 8 cells are Sigma|cell|^2 = n^2/8, "
            "quadratic, at corpus scale)"),
    }
    if splits:
        detail["splits"] = splits
    if regressions is not None:
        detail["regressions"] = regressions
    if errors:
        detail["errors"] = errors

    worst = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    summary = {
        "metric": "headline_queries_total_sec",
        "value": detail["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "detail": "BENCH_DETAIL.json",
    }
    if regressions is not None:
        summary["n_regressions"] = len(regressions["flagged"])
        if "session_factor" in regressions:
            summary["session_factor"] = regressions["session_factor"]
            summary["n_regressions_normalized"] = len(
                regressions.get("flagged_normalized", {}))
        # Whole-suite aggregate (r13 VERDICT ask #2): the final line's
        # worst-20 map is a biased sample that SELECTS for stall victims,
        # so the driver's round-over-round comparison judged optimization
        # rounds on their 20 noisiest heads.  These three numbers cover
        # ALL common heads against the pinned BENCH_BASELINE.json.
        for key in ("geomean_vs_baseline_raw",
                    "geomean_vs_baseline_normalized", "n_common"):
            if key in regressions:
                summary[key] = regressions[key]
    line = ""
    for top in (20, 10, 5, 0):
        summary["queries"] = {q: worst[q] for q in list(worst)[:top]}
        line = json.dumps(summary)
        if len(line) < 1600:
            break
    return json.dumps({"kind": "detail", **detail}), line


def _regressions_vs_previous_round(
        timings: dict[str, float]) -> dict[str, dict] | None:
    """Per-query diff against the PREVIOUS ROUND's committed bench: flag
    >1.5x slowdowns (and queries that newly error out, visible as
    timed-before-but-not-now).  Self-reporting so a regression cannot
    hide inside a still-green total.  Baseline preference:
    BENCH_BASELINE.json — a round-start snapshot of the previous round's
    driver-recorded per-query map, updated ONLY at round start — else
    the newest BENCH_r*.json whose parsed line carries per-query numbers
    (only the worst subset since the r4 compact-summary change).
    BENCH_DETAIL.json is deliberately NOT a baseline candidate: it is
    refreshed by every bench run, so using it rebaselines the gate
    against the same round's own plans and masks cumulative cross-round
    slowdowns (the r4 failure mode ADVICE flagged).  Returns None when
    no comparable record exists (round 1 shape)."""
    prior = None
    base_round = None
    sf_now = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    baseline_path = REPO / "BENCH_BASELINE.json"
    if baseline_path.exists():
        try:
            rec = json.loads(baseline_path.read_text())
            # Only a same-SF record is a valid baseline: comparing a
            # driver sf0.1 run against a local sf0.001 smoke run would
            # flag every query.
            if rec.get("queries") and rec.get("sf") == sf_now:
                name = baseline_path.name
                if rec.get("_round") is not None:
                    name += f" (r{rec['_round']}@{rec.get('_commit', '?')})"
                    base_round = int(rec["_round"])
                prior = (name, rec["queries"])
        except Exception:  # noqa: BLE001
            pass
    if prior is None:
        for path in sorted(REPO.glob("BENCH_r*.json"), reverse=True):
            try:
                rec = json.loads(path.read_text())
            except Exception:  # noqa: BLE001
                continue
            parsed = rec.get("parsed") or {}
            if (isinstance(parsed, dict) and parsed.get("queries")
                    and parsed.get("sf") == sf_now):
                prior = (path.name, parsed["queries"])
                try:  # BENCH_r{N}.json name carries the round
                    base_round = int(path.stem.rsplit("_r", 1)[-1])
                except ValueError:
                    pass
                break
    if prior is None:
        return None
    name, prev = prior
    flagged = {}
    for q, prev_sec in prev.items():
        if q not in timings:
            flagged[q] = {"prev_sec": prev_sec, "now": "missing-or-error"}
        elif _is_regression(prev_sec, timings[q]):
            flagged[q] = {"prev_sec": prev_sec, "now_sec": timings[q],
                          "ratio": round(timings[q] / prev_sec, 2)}
    factor, n_stable = _session_factor(prev, timings)
    flagged_norm = {}
    for q, prev_sec in prev.items():
        if q in timings and _is_regression(prev_sec, timings[q] / factor):
            flagged_norm[q] = {
                "prev_sec": prev_sec, "now_sec": timings[q],
                "normalized_sec": round(timings[q] / factor, 3),
                "ratio_normalized": round(timings[q] / factor / prev_sec, 2)}
    out = {"baseline": name, "baseline_round": base_round,
           "flagged": flagged,
           "session_factor": factor, "session_factor_n_stable": n_stable,
           "flagged_normalized": flagged_norm}
    g_raw, n_common = _geomean_vs_baseline(prev, timings)
    if g_raw is not None:
        out["geomean_vs_baseline_raw"] = g_raw
        # normalized = geomean over prev / (now / factor): dividing every
        # head by the session factor multiplies the geomean by it
        out["geomean_vs_baseline_normalized"] = round(g_raw * factor, 4)
        out["n_common"] = n_common
    return out


def _geomean_vs_baseline(prev: dict[str, float],
                         timings: dict[str, float]
                         ) -> tuple[float | None, int]:
    """Whole-suite geometric-mean SPEEDUP vs the pinned baseline
    (> 1 = this run is faster), over EVERY head timed in both sessions
    — not the worst-20 subset the final line's ``queries`` map carries
    (r13 VERDICT ask #2: that subset selects for stall victims, so the
    driver judged optimization rounds on their noisiest heads).  The
    geomean over ~109 heads is robust to a few sub-second flaps in a
    way per-head ratios are not."""
    import math

    logs = [math.log(prev_sec / timings[q])
            for q, prev_sec in prev.items()
            if q in timings and prev_sec > 0 and timings[q] > 0]
    if not logs:
        return None, 0
    return round(math.exp(sum(logs) / len(logs)), 4), len(logs)


def _session_factor(prev: dict[str, float],
                    timings: dict[str, float],
                    min_stable: int = 8) -> tuple[float, int]:
    """Whole-session calibration: the MEDIAN now/baseline ratio over
    the stable (>= 1s baseline) queries timed in both sessions.

    r6-r8 showed a 15-20% builder-vs-driver session gap spread across
    the whole suite (driver records 138.0 -> 141.2 -> 150.4s while the
    same code measured 134.2/125.3s on the builder's machine), which
    the per-query gate cannot see: every ratio passes, the baseline
    re-pins next round, and a slow creep never trips anything — while a
    real per-query win drowns in session noise (r8 VERDICT ask #2).
    The median over dozens of untouched queries isolates the session
    component (a code change moves its own queries, not the median);
    per-query flags recomputed on now/factor are then machine-drift
    independent.  Sub-second baselines are excluded (scheduler noise
    dominates them); below ``min_stable`` common stable queries the
    factor stays 1.0 — not enough evidence to recalibrate."""
    ratios = sorted(
        timings[q] / prev[q]
        for q, prev_sec in prev.items()
        if q in timings and prev_sec >= 1.0 and timings[q] > 0)
    n = len(ratios)
    if n < min_stable:
        return 1.0, n
    mid = n // 2
    med = ratios[mid] if n % 2 else (ratios[mid - 1] + ratios[mid]) / 2
    return round(med, 4), n


def _is_regression(prev_sec: float, now_sec: float) -> bool:
    """Flagging predicate, one place for the thresholds.

    Ratio AND absolute floor: sub-second queries flap 1.5x+ on scheduler
    noise alone (run-to-run 0.3s -> 0.6s observed with identical code);
    a real regression on a query that matters moves the needle by
    >= 0.75s even after the retry pass.  Queries with a >= 3s baseline
    get a TIGHTER 1.25x ratio: the r6 gate was structurally blind to
    similarity_ivf_full drifting 4.32s -> 6.21s (1.44x) because
    1.44 < 1.5 — on the bench's most expensive queries a quarter of the
    runtime is never noise after the min-of-two retry pass (r6 VERDICT
    ask #2; the settlement measured the same code at 3.9-4.3s across
    three full sequential runs).
    """
    if prev_sec <= 0.05:
        return False
    if now_sec > 1.5 * prev_sec and now_sec - prev_sec >= 0.75:
        return True
    return prev_sec >= 3.0 and now_sec > 1.25 * prev_sec


def _warmup(spark, reg) -> None:
    # warmup: JVM + parquet footers + whole-stage-codegen JIT for the
    # operator shapes under test (agg/join/union/window), so the first
    # measured query doesn't pay one-time compilation (~6s observed).
    li = load_table(spark, SF_DIR, "lineitem")
    nat = load_table(spark, SF_DIR, "nation")
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    warm = (li.limit(1000)
              .join(F.broadcast(nat), li.l_suppkey % 25 == nat.n_nationkey)
              .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")))
    warm.unionByName(warm).withColumn(
        "r", F.row_number().over(
            w.partitionBy("l_returnflag").orderBy("s"))).count()
    nested = (nat.groupBy("n_regionkey")
                 .agg(F.sort_array(F.collect_list(
                     F.struct("n_nationkey", "n_name"))).alias("xs")))
    nested.select("n_regionkey", F.explode("xs").alias("x")) \
          .unionByName(nested.select("n_regionkey",
                                     F.explode("xs").alias("x"))).count()
    # python-worker pool spin-up (RDD-backed local frames pay this once)
    spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "x")], 1), "a int, b string").count()
    # flagship plan shape at the smallest SF: codegen classes are
    # plan-shape-specific, so this warms the generated code without
    # touching the measured data
    reg["metadata_nodes"](spark, "/root/testdata/sf0.001") \
        .write.format("noop").mode("overwrite").save()
    # sort-based aggregate shape (exact percentile / percentile_approx):
    # its ObjectHashAggregate codegen is distinct from the hash-agg shapes
    # above and measured ~3s of one-time JIT when first hit at full SF
    reg["agg_percentiles"](spark, "/root/testdata/sf0.001") \
        .write.format("noop").mode("overwrite").save()
    # sliding-window-over-tokens shape (transform + md5 per window):
    # measured 8.9s cold vs 2.6s warm at sf0.1 — the JIT spike that
    # false-flagged dedup_substring_spans as a 1.9x regression in one run
    reg["dedup_substring_spans"](spark, "/root/testdata/sf0.001") \
        .write.format("noop").mode("overwrite").save()
    # iterative min-label propagation shape (star edges + checkpointed
    # loop): measured 9.0s cold vs 2.0-3.0s warm at sf0.1 — the spike
    # that false-flagged dedup_clusters_full as a 4.3x regression
    reg["dedup_clusters"](spark, "/root/testdata/sf0.001") \
        .write.format("noop").mode("overwrite").save()
    # interval-overlap range-join shape: 10.4s cold vs 1.3s warm at
    # sf0.1 — the same one-time-JIT flap, observed as a 1.67x false flag
    reg["join_interval_overlap"](spark, "/root/testdata/sf0.001") \
        .write.format("noop").mode("overwrite").save()
    # hyperplane-LSH self-join + label screen: the deepest warmup curve
    # on the bench (measured 10.1 -> 3.7 -> 2.9 -> 2.6s at sf0.1) —
    # min-of-two still caught a 3.99s second run and normalized-flagged
    # a query whose warm time is BELOW baseline (r9)
    reg["quality_label_consistency_ann"](spark, "/root/testdata/sf0.001") \
        .write.format("noop").mode("overwrite").save()


if __name__ == "__main__":
    main()
