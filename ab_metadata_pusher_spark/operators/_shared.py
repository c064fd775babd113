"""Shared-subplan materialization — one helper for every operator family.

Catalyst shares no subplans across self-join aliases: a stream referenced
by BOTH sides of a join (shingle streams, Hamming blocking indexes,
ANN bucket keys) is otherwise rebuilt once per reference.  The dedup pair
family (operators/dedup.py) and the ANN kNN self-join
(operators/similarity.py) both route through :func:`materialize_shared`;
this module is their common home so neither imports a private helper of
the other (r6 ADVICE).

The conf key keeps its historical name
(``spark.ab_metadata_pusher.dedup.materialize``) because registered bench
plans and library callers already set it; it governs every family that
routes through here, not just dedup.  The session conf is the only
selector: no operator takes a per-call materialization override, so
one session runs one physical path.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from ab_metadata_pusher_spark.observability import capture_plan_segment

__all__ = [
    "double_array_lit", "emb_matrix",
    "MATERIALIZE_CONF", "materialize_shared", "release_materialized",
    "fixpoint", "spread_if_narrow", "hash_build_guard",
]

logger = logging.getLogger(__name__)

#: Session conf selecting how shared self-join streams are materialized
#: (see :func:`materialize_shared`): ``persist`` (default, lazy) |
#: ``eager``.
MATERIALIZE_CONF = "spark.ab_metadata_pusher.dedup.materialize"

#: Frames persisted by :func:`materialize_shared` in ``persist`` mode.
#: The cache manager keys entries by logical plan, so dropping the Python
#: DataFrame does NOT release the entry — this registry keeps the handle
#: so :func:`release_materialized` can.  Entries are small plan objects,
#: not data.
_PERSISTED: list[DataFrame] = []


def _materialize_mode(conf_get) -> str:
    """Resolve the materialization strategy from ``MATERIALIZE_CONF``.

    Pure function of a ``conf_get(key, default)`` callable so the
    decision table is unit-testable without a session.  Default is
    ``persist`` — the LAZY strategy: building a plan runs no Spark job
    (an eager/lazy localCheckpoint both execute upstream AQE stages at
    construction), and persisted blocks stay recomputable from lineage
    after executor loss.  ``eager`` is demoted back to ``persist`` when
    dynamic allocation or executor decommissioning is enabled —
    localCheckpoint blocks are non-replicated executor-local state, and
    losing one mid-job is a job FAILURE there, not a slow path.
    """
    mode = conf_get(MATERIALIZE_CONF, None)
    mode = "persist" if mode is None else str(mode).lower()
    if mode not in ("eager", "persist"):
        raise ValueError(
            f"materialize mode must be eager|persist, got {mode!r}")
    if mode == "eager" and any(
            str(conf_get(k, "false")).lower() == "true"
            for k in ("spark.dynamicAllocation.enabled",
                      "spark.decommission.enabled")):
        return "persist"
    return mode


def materialize_shared(df: DataFrame) -> DataFrame:
    """Materialize a stream referenced by BOTH sides of a self-join.

    Catalyst shares no subplans across aliases, so without
    materialization the upstream pipeline (shingling, df gates,
    fingerprint decode) is rebuilt once per reference.  Strategy comes
    from the ``spark.ab_metadata_pusher.dedup.materialize`` session
    conf:

    * ``persist`` (default) — ``persist(MEMORY_AND_DISK)``: LAZY (no
      Spark job at DataFrame-construction time — library callers can
      build plans they never execute for free), shared across both join
      aliases via the cache manager, and recompute-safe after executor
      loss (lineage kept), so it is also the right mode under dynamic
      allocation / decommissioning.  Cache-manager entries are NOT freed
      when the plan is garbage-collected — blocks are LRU-evictable but
      the entry (and any spilled disk blocks) live until ``unpersist``.
      Every persist-mode frame is therefore registered here; call
      :func:`release_materialized` after consuming the results, or set
      ``eager`` when invoking an operator many times in one session
      (checkpoint blocks ARE freed by the ContextCleaner on plan GC).
    * ``eager`` — ``localCheckpoint(eager=True)``: materializes NOW and
      truncates lineage.  The bench session sets it (stable audited
      plan shape, no cache-entry accumulation across bench loops).
      Demoted to ``persist`` on elastic clusters — see
      :func:`_materialize_mode`.

    Under ``eager`` the checkpoint truncates lineage, so downstream
    filters do NOT push below the materialization point — pre-filter
    the input or use ``persist`` when that matters.
    """
    if _materialize_mode(df.sparkSession.conf.get) == "persist":
        from pyspark import StorageLevel
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        _PERSISTED.append(out)
        return out
    capture_plan_segment(df)
    return df.localCheckpoint(eager=True)


def fixpoint(state: DataFrame, step, *, rounds: int, probe=None,
             until=None, width: int | None = None) -> DataFrame:
    """The driver loop of the iterative graph operators:
    ``state = step(state, i)`` for up to ``rounds`` rounds.

    Every round ends in a lineage cut (``capture_plan_segment``, then
    ``localCheckpoint``), so round r never re-executes rounds 1..r-1.
    The cut is lazy when ``probe`` is given: ``probe(state)`` is then
    the round's one action and materializes it.  Otherwise the cut is
    eager.  The loop stops after a round where ``until(previous,
    current)`` holds on the probe results (``previous`` is ``None``
    after round 0).  ``width`` pins ``spark.sql.shuffle.partitions``
    for the loop; the session's value is restored on any exit."""
    conf = state.sparkSession.conf
    key = "spark.sql.shuffle.partitions"
    if width is not None:
        saved = conf.get(key)
        conf.set(key, str(width))
    try:
        last = None
        for i in range(rounds):
            state = step(state, i)
            capture_plan_segment(state)
            state = state.localCheckpoint(eager=probe is None)
            if probe is not None:
                cur = probe(state)
                if until is not None and until(last, cur):
                    break
                last = cur
        return state
    finally:
        if width is not None:
            conf.set(key, saved)


def release_materialized(spark=None) -> int:
    """Unpersist every persist-mode shared stream registered by
    :func:`materialize_shared` and drop it from the registry.

    ``spark`` (optional) restricts the release to frames belonging to
    that session — pass it when several sessions share the process.
    Returns the number of frames released.  Frames whose session has
    already stopped are dropped without error (their cache entries died
    with the session).  This is the caller-facing unpersist handle the
    persist default otherwise lacks (r6 ADVICE): pair operators return
    derived frames, so the persisted UPSTREAM would be unreachable.
    """
    released = 0
    kept: list[DataFrame] = []
    for frame in _PERSISTED:
        if spark is not None and frame.sparkSession is not spark:
            kept.append(frame)
            continue
        try:
            frame.unpersist()
            released += 1
        except Exception:  # session stopped — entry already gone
            released += 1
    _PERSISTED[:] = kept
    return released


#: Per-step broadcast budget for node-set build sides inside iterative
#: graph loops and |V|-keyed margin joins (the LPA alignment flip's
#: resource rule, generalized): a set that fits the budget broadcasts;
#: past it the join falls back to its shuffled form instead of OOMing
#: the build side.  Row-byte estimates include hashed-relation slack:
#: single-long sets ~16 B, (long, int/long) rows ~24 B, string-keyed
#: rank rows ~64 B.
NODESET_BROADCAST_MAX_BYTES = 512 << 20


def nodeset_hint(n_rows: int, row_bytes: int = 16):
    """F.broadcast below the budget, identity above (shuffled join)."""
    from pyspark.sql import functions as F

    if n_rows * row_bytes <= NODESET_BROADCAST_MAX_BYTES:
        return F.broadcast
    return lambda df: df


#: Logical nodes under which probing ``df.rdd`` is pure driver-side
#: planning.  Anything else (Join/Aggregate/Window/...) plans an
#: exchange, and under AQE ``.rdd`` on a plan containing exchanges
#: EAGERLY EXECUTES the upstream shuffle stages — a hidden job at
#: plan-construction time (r11 ADVICE).
#: EXACT names (r12 ADVICE): the old substring test (``"Relation" in
#: name``) classified ``CTERelationRef`` — a reference to an arbitrary
#: CTE plan, possibly full of joins — as scan-safe.  Scan nodes spell
#: out as ``LogicalRelation`` (DSv1), ``RelationV2`` (DSv2),
#: ``HiveTableRelation``; anything else is not a scan.
_SPREAD_SAFE_NODES = frozenset({
    "LogicalRelation", "RelationV2", "HiveTableRelation", "Relation",
    "LogicalRDD", "Project", "Filter", "SubqueryAlias",
    "GlobalLimit", "LocalLimit", "Sample", "View",
})


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin the frame to cluster width ONLY when its scan cannot
    split that wide on its own.

    SCAN-ROOTED FRAMES ONLY (r11 ADVICE): the width probe is
    ``rdd.getNumPartitions()``, which is driver-side planning for a
    scan (+ projections/filters) but under AQE eagerly RUNS the
    upstream shuffle stages of any plan containing exchanges.  Rather
    than trust every future caller with that contract, the helper
    checks the analyzed plan's node kinds itself and returns the frame
    UNTOUCHED (no probe, no repartition) when any shuffle-capable node
    is present — a post-shuffle frame is already cluster-wide, so the
    spread would be pure cost anyway.

    The single-file fixture tables scan into ~3 partitions, which
    serializes pre-shuffle expression work (per-row md5, cosine math)
    onto 3 cores — the unconditional ``repartition`` that used to fix
    that became a pure-cost full-data shuffle once the input was a real
    multi-file dataset: the r11 decade study measured the Count-Min
    build at x100 (32-file input) 1.5x slower WITH the repartition
    (13.9 s vs 9.3 s)."""
    plan = df._jdf.queryExecution().analyzed()
    try:  # r12 ADVICE: a Filter/Project can HOST a shuffling subquery
        # expression (IN / scalar subquery) — the node walk below never
        # sees it, but .rdd would eagerly run its exchange stages.
        if plan.subqueriesAll().nonEmpty():
            return df
    except Exception:  # py4j surface drift: fail closed, no probe
        return df
    node = plan
    while True:
        name = node.nodeName()
        if name in _SPREAD_SAFE_NODES:
            pass  # scan-safe (exact match — r12 ADVICE: the old
            # substring test let CTERelationRef hide arbitrary plans)
        else:
            return df  # shuffle-capable node: no probe, no spread
        n = node.children().size() if hasattr(node, "children") else 0
        if n == 0:
            break
        if n > 1:
            return df  # multi-child (join/union): not scan-rooted
        node = node.children().apply(0)
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df


#: Per-task budget for a NON-SPILLABLE shuffle-hash build relation.
#: Sized well under a multi-GiB executor task's share: past this the
#: build-side hash table risks OOM instead of spilling (SMJ spills;
#: shuffled-hash cannot).
HASH_BUILD_TASK_BUDGET_BYTES = 2 << 30


def hash_build_guard(df: DataFrame, what: str,
                     budget_bytes: int | None = None) -> DataFrame:
    """Guarded SHUFFLE_HASH build side: returns ``df`` carrying the
    ``shuffle_hash`` hint while its per-task slice fits the budget.

    Uses Catalyst's own optimized-plan size estimate divided by the
    session shuffle width — pure driver-side planning, no job (the
    optimizer run is milliseconds; the lazy-construction contract in
    tests/test_plan_shapes.py holds).  Estimates inherit file-scan
    sizes through filters, so they are rough.  Past the budget it
    WARNs with the width/budget arithmetic spelled out and DROPS the
    hint: Catalyst falls back to sort-merge, which SPILLS instead of
    OOMing the non-spillable hash build.  Under the budget the hint
    stays (the hint sites measured 2.7x faster than SMJ at x100).

    AQE caveat (r12 ADVICE): the per-task arithmetic divides by the
    CONFIGURED ``spark.sql.shuffle.partitions``, but AQE can coalesce
    the build shuffle DOWN to fewer partitions, so the real per-task
    slice can exceed the budget while the guard stays quiet — the
    budget is deliberately conservative (2 GiB against multi-GiB task
    shares) to absorb that.  When the deployment pins
    ``spark.sql.adaptive.coalescePartitions.minPartitionNum``, the
    guard divides by that floor instead (the worst-case post-coalesce
    width), making the bound exact rather than optimistic."""
    if budget_bytes is None:  # resolved at CALL time so tests and
        budget_bytes = HASH_BUILD_TASK_BUDGET_BYTES  # deploys can patch
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        conf = df.sparkSession.conf
        width = int(conf.get("spark.sql.shuffle.partitions"))
        # AQE coalesce can shrink the build shuffle below the configured
        # width; when the deployment pins the coalesce floor, use it —
        # the worst-case per-task slice is then exact, not optimistic
        mn = conf.get("spark.sql.adaptive.coalescePartitions.minPartitionNum",
                      None)
        if mn is not None and str(mn).isdigit() and int(mn) > 0:
            width = min(width, int(mn))
        per_task = size // max(width, 1)
        if per_task > budget_bytes:
            logger.warning(
                "%s: estimated shuffle-hash build ~%.1f GiB / %d shuffle "
                "partitions = %.1f GiB per task (> %.1f GiB budget) — the "
                "hash build cannot spill; dropping the shuffle_hash hint "
                "(falling back to spillable sort-merge). (AQE may coalesce "
                "the build shuffle below the configured width; the budget "
                "is sized conservatively for that.)",
                what, size / 2**30, width, per_task / 2**30,
                budget_bytes / 2**30)
            return df
    except Exception:  # estimate unavailable: never block the plan
        logger.debug("%s: hash-build size estimate unavailable — "
                     "guard skipped", what, exc_info=True)
    return df.hint("shuffle_hash")


def parquet_rowcount(path: str) -> int:
    """Exact row count from parquet FOOTER metadata — a driver-side
    file read, never a Spark job.  Exists so plan-construction-time
    size decisions (nodeset_hint bounds) stay compatible with the
    lazy-construction contract (tests/test_plan_shapes.py): Spark's own
    scan planning reads the same footers.

    The walk is RECURSIVE (r9 ADVICE): a hive-partitioned dataset keeps
    its files under key=value subdirectories, and a top-level-only
    listing silently returned an undercount — which would feed
    nodeset_hint an under-estimate and keep a broadcast hint on an
    over-budget build side."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d, _dirs, files in sorted(os.walk(path))
            for f in sorted(files) if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def double_sql(v) -> str:
    """One double as a Spark-SQL-parseable literal fragment.

    ``repr(float)`` is the shortest round-trip decimal form and
    ``Double.parseDouble`` recovers the identical IEEE-754 bits, so the
    parsed literal is bit-exact with ``F.lit(v)``.  Non-finite values
    have no ``...D`` spelling (``nanD``/``infD`` are parse errors — r8
    ADVICE): emit the documented CAST forms instead."""
    f = float(v)
    if f != f:
        return "CAST('NaN' AS DOUBLE)"
    if f == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if f == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{f!r}D"


def _dbl(col: "Column") -> "Column":
    """``col`` (an array) with every element cast to double — the
    widening every vector fold and centroid collect applies first."""
    from pyspark.sql import functions as F

    return F.transform(col, lambda x: x.cast("double"))


def double_array_lit(values) -> "Column":
    """A literal ``array<double>`` column parsed from ONE SQL string.

    Building the same literal as ``F.array(*[F.lit(v) ...])`` costs one
    py4j round trip per element — measured ~0.5s of pure driver time for
    an 8x64 centroid table before any job runs.  Element rendering is
    :func:`double_sql` (bit-exact, non-finite-safe); an EMPTY input is
    cast explicitly because a bare ``array()`` literal types as
    ``array<string>`` and breaks downstream double arithmetic.
    """
    from pyspark.sql import functions as F

    vals = list(values)
    if not vals:
        return F.expr("CAST(array() AS array<double>)")
    return F.expr("array({})".format(", ".join(map(double_sql, vals))))


def emb_matrix(arr, dim: int):
    """Decode an Arrow ``list<float|double>`` embedding column into an
    ``(n x dim)`` float64 matrix plus a boolean validity mask.

    This is the embedding contract of every Python-side vector kernel.
    A row is INVALID when its list is NULL, its length is not ``dim``,
    or an element is NULL — the rows on which the JVM folds
    (``zip_with``/``aggregate``) turn NULL — and its matrix row is
    zero-filled, so kernels mask it out of their outputs instead of
    crashing the batch.  NaN elements are values: they stay in the
    matrix and propagate as they do in the folds.  float elements widen
    to double exactly, the same cast the folds apply.  ``arr`` may be a
    ``pyarrow`` Array or ChunkedArray (a Table column); a batch with no
    invalid row reshapes the flattened child array directly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    # flatten() drops NULL lists, so a NULL row contributes 0 values
    lens = pc.list_value_length(arr).fill_null(0).to_numpy()
    ok = (lens == dim) & arr.is_valid().to_numpy(zero_copy_only=False)
    flat = arr.flatten()
    if flat.null_count:
        row_of = np.repeat(np.arange(n), lens)
        ok[row_of[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    vals = flat.to_numpy(zero_copy_only=False).astype(np.float64,
                                                        copy=False)
    if ok.all():
        return vals.reshape(n, dim), ok
    m = np.zeros((n, dim), dtype=np.float64)
    m[ok] = vals[np.repeat(ok, lens)].reshape(-1, dim)
    return m, ok
