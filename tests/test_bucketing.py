"""Bucketed staging for co-located joins (SCALE.md: "co-locate joins via
bucketing"): writing both fact tables bucketed on the join key makes the
join shuffle-free — the Exchange nodes disappear from the physical plan.

This is the 100 TB pattern for repeated fact-fact joins (staging written
once, joined many times); the test proves the plan shape, not just the
result.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def bucket_db(spark, tmp_path):
    db = "bucketing_test"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}'")
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_bucketed_join_is_shuffle_free(spark, sf_dir, bucket_db):
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")

    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable(f"{bucket_db}.li_b"))
    (o.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable(f"{bucket_db}.o_b"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lib = spark.table(f"{bucket_db}.li_b")
        ob = spark.table(f"{bucket_db}.o_b")
        joined = lib.join(ob, lib.l_orderkey == ob.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, \
            "bucketed join must not shuffle:\n" + plan

        # and the result matches the shuffled join
        shuffled = li.join(o, li.l_orderkey == o.o_orderkey)
        assert joined.count() == shuffled.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_range_clustered_layout_prunes(spark, sf_dir, tmp_path):
    """write_clustered must produce disjoint per-file key ranges (the
    precondition for footer-stats file skipping) with rows sorted inside
    each file."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.sinks.layout import (
        file_key_ranges, write_clustered,
    )
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    path = str(tmp_path / "li_clustered")
    li = load_table(spark, sf_dir, "lineitem")
    write_clustered(li, path, "l_orderkey", n_files=8)

    ranges = file_key_ranges(spark, path, "l_orderkey").collect()
    assert len(ranges) == 8
    spans = sorted((r["key_min"], r["key_max"]) for r in ranges)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert lo1 <= hi1 < lo2  # disjoint, ordered ranges

    # rows are sorted within every file (page-level pruning precondition)
    import pandas as pd
    from pathlib import Path
    for f in Path(path).glob("*.parquet"):
        keys = pd.read_parquet(f, columns=["l_orderkey"])["l_orderkey"]
        assert keys.is_monotonic_increasing

    # and a point-lookup plan actually pushes the predicate to the scan
    probe = spans[3][0]
    plan_df = spark.read.parquet(path).filter(F.col("l_orderkey") == probe)
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey" \
        in buf.getvalue()


def test_zordered_layout_prunes_on_both_keys(spark, sf_dir, tmp_path):
    """write_zordered must let footer min/max stats skip files for
    predicates on EITHER key — the property single-key range clustering
    cannot provide for the second key."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.sinks.layout import (
        file_key_ranges, write_clustered, write_zordered,
    )
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    orders = load_table(spark, sf_dir, "orders")
    zpath = str(tmp_path / "orders_z")
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=8)

    def overlapping(path, key, value):
        ranges = file_key_ranges(spark, path, key).collect()
        assert len(ranges) == 8
        return sum(1 for r in ranges if r["key_min"] <= value <= r["key_max"])

    mid = orders.agg(F.expr("percentile(o_custkey, 0.5)")).first()[0]
    midp = orders.agg(F.expr("percentile(o_totalprice, 0.5)")).first()[0]

    # z-order: point predicates on BOTH dimensions skip files
    assert overlapping(zpath, "o_custkey", mid) < 8
    assert overlapping(zpath, "o_totalprice", midp) < 8

    # single-key clustering: prunes its own key, NOT the second one
    cpath = str(tmp_path / "orders_c")
    write_clustered(orders, cpath, "o_custkey", n_files=8)
    assert overlapping(cpath, "o_custkey", mid) < 8
    assert overlapping(cpath, "o_totalprice", midp) == 8


def test_dynamic_partition_pruning_on_staged_events(spark, sf_dir, tmp_path):
    """A fact table partitioned by a derived day column, joined to a
    filtered dim, must plan a dynamicpruning subquery on the partition
    column — Spark's runtime answer to 'only read the partitions the dim
    filter selects', which at 100 TB is the difference between scanning
    one day and scanning three years."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.sources.fixtures import load_table

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day")
    ev.write.mode("overwrite").partitionBy("day").parquet(path)

    # the dim must be a real scan with a non-foldable filter: a filter on
    # a LocalRelation constant-folds away, and without a selective
    # predicate node the DPP rule declines to insert the subquery
    dimpath = str(tmp_path / "dim_days")
    (ev.select("day").distinct()
     .withColumn("rank", F.dense_rank().over(Window.orderBy("day")))
     .write.mode("overwrite").parquet(dimpath))

    fact = spark.read.parquet(path)
    dim = spark.read.parquet(dimpath).filter(F.col("rank") == 1)
    joined = fact.join(dim, "day")
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan.lower(), \
        "expected a dynamic-partition-pruning subquery:\n" + plan
    assert joined.select("day").distinct().count() == 1


def test_bloom_runtime_filter_prunes_probe_side(spark, sf_dir):
    """A selective dim filter must inject a Bloom runtime filter on the
    fact side of a shuffle join (bloom_filter_agg on the build side,
    might_contain guarding the probe scan) — Spark's row-group-level
    answer to semi-join pushdown when broadcast is off the table.

    The size thresholds are scaled to the fixture: at 100 TB the
    defaults (probe side >= 10 GB) gate this on exactly the joins where
    it pays; applicationSideScanSizeThreshold=0 stands in for a fact
    table that large."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.sources.fixtures import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = (load_table(spark, sf_dir, "orders")
             .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
             .groupBy("o_orderstatus").count())
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # and the filtered plan still computes the right answer
        expect = (li.join(o, li.l_orderkey == o.o_orderkey)
                  .groupBy("o_orderstatus").count().collect())
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, expect))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_compaction_bin_packs_to_target_size(spark, sf_dir, tmp_path):
    """write_compacted must (a) produce file counts that scale inversely
    with the target size, (b) keep every row, and (c) land mean actual
    file size within ~4x of target (estimator is plan-stats-based, not
    a data pass — calibration, not precision, is the contract)."""
    from ab_metadata_pusher_spark.sinks.layout import write_compacted
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    small = str(tmp_path / "small")
    big = str(tmp_path / "big")
    n_small = write_compacted(ev, small, target_file_bytes=64 * 1024)
    n_big = write_compacted(ev, big, target_file_bytes=512 * 1024)
    assert n_small > n_big >= 1
    got = spark.read.parquet(small)
    assert got.count() == ev.count()
    import pathlib
    files = [f for f in pathlib.Path(small).glob("*.parquet")]
    assert len(files) == n_small
    mean = sum(f.stat().st_size for f in files) / len(files)
    assert 64 * 1024 / 4 < mean < 64 * 1024 * 4, mean


def test_aqe_splits_skewed_join_partition(spark):
    """A hot key must trigger AQE's skew-join split (the no-code-change
    alternative to manual salting): the final adaptive plan marks the
    sort-merge join skew=true and reads the hot partition in slices.
    Thresholds are scaled down to fixture size; on a real cluster the
    256 MiB defaults fire the same rule."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("v"))
        cold = spark.range(10_000).select(
            (F.col("id") % 100 + 100).alias("k"), F.col("id").alias("v"))
        right = spark.range(200).select(
            F.col("id").alias("k"), F.lit("dim").alias("d"))
        j = hot.unionByName(cold).join(right.hint("merge"), "k")
        assert len(j.collect()) == 210_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sharded_manifest_is_deterministic_and_verifiable(spark, sf_dir,
                                                          tmp_path):
    """Corpus release write: shard assignment must be reproducible across
    reruns, every row lands in exactly one shard, and the manifest's
    order-insensitive content digest must match an independent re-scan."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.functions.hashing import md5_long
    from ab_metadata_pusher_spark.sinks.layout import write_sharded_manifest
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    m1 = write_sharded_manifest(
        docs, str(tmp_path / "rel1"), "doc_id", n_shards=8).collect()
    m2 = write_sharded_manifest(
        docs, str(tmp_path / "rel2"), "doc_id", n_shards=8).collect()
    assert [tuple(r) for r in m1] == [tuple(r) for r in m2]

    total = sum(r.n_rows for r in m1)
    assert total == docs.count()

    # consumer-side verification: re-derive one shard's digest by scan
    shard0 = spark.read.parquet(str(tmp_path / "rel1")) \
        .filter(F.col("shard") == m1[0].shard)
    redigest = shard0.agg(
        F.bit_xor(md5_long(F.col("doc_id").cast("string")))).collect()[0][0]
    assert redigest == m1[0].content_digest


def test_dynamic_partition_overwrite_rewrites_only_changed_day(spark, sf_dir,
                                                               tmp_path):
    """The no-table-format upsert: day-partitioned parquet + dynamic
    partition overwrite mode rewrites ONLY the partitions present in the
    incoming batch — untouched days keep their files byte-identical.
    (Static mode would wipe the whole root; that difference is the whole
    point.)"""
    import pathlib

    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.sources.fixtures import load_table

    path = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts"))
    ev.write.partitionBy("day").parquet(path)

    days = sorted(p.name for p in pathlib.Path(path).glob("day=*"))
    assert len(days) >= 2
    target, keep = days[0], days[1]
    keep_files = sorted(
        (f.name, f.stat().st_mtime_ns)
        for f in (pathlib.Path(path) / keep).glob("*.parquet"))

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        day_val = target.split("=", 1)[1]
        patch = (ev.filter(F.col("day") == day_val)
                 .withColumn("value", F.col("value") * 2))
        patch.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # untouched day: exactly the same files, byte-for-byte mtimes
    assert sorted(
        (f.name, f.stat().st_mtime_ns)
        for f in (pathlib.Path(path) / keep).glob("*.parquet")) == keep_files
    # patched day: values doubled, row count preserved
    reread = spark.read.parquet(path)
    orig_sum = ev.filter(F.col("day") == day_val).agg(
        F.round(F.sum("value"), 2)).collect()[0][0]
    new_sum = reread.filter(F.col("day") == day_val).agg(
        F.round(F.sum("value"), 2)).collect()[0][0]
    assert abs(new_sum - 2 * orig_sum) < 0.05
    assert reread.count() == ev.count()


def test_sharded_shuffle_order_is_deterministic_per_salt(spark, sf_dir,
                                                         tmp_path):
    """Training-order writes: the same salt reproduces the exact same
    within-shard row order across reruns; a different salt produces a
    different (but equally deterministic) permutation."""
    from ab_metadata_pusher_spark.sinks.layout import write_sharded_manifest
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def order_of(rel: str, salt: str) -> list[int]:
        write_sharded_manifest(docs, str(tmp_path / rel), "doc_id",
                               n_shards=4, shuffle_salt=salt)
        out = spark.read.parquet(str(tmp_path / rel))
        return [r.doc_id for r in
                out.filter("shard = 0").orderBy("pos")
                   .select("doc_id").collect()]

    a1 = order_of("a1", "epoch1")
    a2 = order_of("a2", "epoch1")
    b = order_of("b", "epoch2")
    assert a1 == a2, "same salt must reproduce the same order"
    assert sorted(a1) == sorted(b), "salt must not change shard membership"
    assert a1 != b, "different salt must permute the order"


def test_orc_roundtrip_pushes_filter_and_prunes_columns(spark, sf_dir):
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.sources.orc_corpus import (
        prepare_documents_orc, read_orc_corpus)

    path = prepare_documents_orc(spark, sf_dir)
    df = (read_orc_corpus(spark, path)
          .filter(F.col("n_chars") > 100)
          .select("lang", "n_chars"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(n_chars,100)" in plan  # stripe-stat pushdown
    assert "text" not in plan.split("ReadSchema")[-1]  # pruned projection
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert df.count() == base.filter("n_chars > 100").count()


def test_band_index_bucketed_probe_is_index_side_shuffle_free(
        spark, sf_dir, bucket_db):
    """The standing-corpus incremental-dedup design
    (plans/llm_queries.py dedup_incremental_minhash docstring): the
    (sid, band_idx, band_hash) frame IS the on-disk index, bucketed by
    band_hash; probing a NEW batch is one equi-join where only the
    (small) batch side shuffles — the corpus-sized index side must read
    its buckets in place, no Exchange.  Proves the claimed 100 TB probe
    shape executes, not just reads well in prose."""
    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators import dedup as D
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    import io
    from contextlib import redirect_stdout

    docs = load_table(spark, sf_dir, "documents")
    banded = D.lsh_bands(docs.filter(F.col("doc_id") % 5 != 0),
                         k=16, bands=4)
    # bucket by BOTH join keys: bucketing on band_hash alone is a
    # subset of the join clustering and the planner DISABLES bucketed
    # reading ("Bucketed: false (disabled by query planner)") — the
    # on-disk index must match the probe's full key set
    (banded.write.mode("overwrite").bucketBy(8, "band_idx", "band_hash")
     .sortBy("band_idx", "band_hash").saveAsTable(f"{bucket_db}.band_idx"))
    idx = spark.table(f"{bucket_db}.band_idx")

    batch = D.lsh_bands(docs.filter(F.col("doc_id") % 5 == 0),
                        k=16, bands=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m = (batch.alias("n")
             .join(idx.alias("o"),
                   (F.col("n.band_idx") == F.col("o.band_idx"))
                   & (F.col("n.band_hash") == F.col("o.band_hash")))
             .groupBy(F.col("n.sid"))
             .agg(F.countDistinct(F.col("o.sid")).alias("n_matches")))
        assert m.count() > 0
        buf = io.StringIO()
        with redirect_stdout(buf):
            m.explain("formatted")
        plan = buf.getvalue()
        # the index scan reads its buckets in place...
        assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan, \
            plan[:1200]
        # ...and carries no Exchange between its scan and the join:
        # walk the tree from the index scan line up its parent chain
        # (strictly decreasing indent) — every ancestor until the
        # SortMergeJoin must be exchange-free (Sort is allowed)
        tree_lines = plan[:plan.index("\n\n")].splitlines()
        i = next(i for i, ln in enumerate(tree_lines)
                 if "Scan parquet" in ln and "band_idx" in ln)
        indent = tree_lines[i].index("+-")
        for j in range(i - 1, -1, -1):
            ln = tree_lines[j]
            pos = ln.find("+-")
            if pos == -1 or pos >= indent:
                continue
            indent = pos
            assert "Exchange" not in ln, ln
            if "SortMergeJoin" in ln:
                break
        else:
            raise AssertionError("index scan not under a SortMergeJoin:\n"
                                 + plan[:1200])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_semdedup_cell_bucketed_self_join_is_shuffle_free(
        spark, sf_dir, bucket_db):
    """The SemDeDup scale claim (operators/similarity.py
    semantic_dedup_pairs): at corpus scale the cell-assigned embedding
    table is written bucketed by cell, and the within-cell pair
    self-join runs shuffle-free on re-use.  Prove it: both sides of the
    pair join read the same bucketed table and reach the SortMergeJoin
    with zero Exchange anywhere in the plan."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ab_metadata_pusher_spark.operators.similarity import (
        _assign_cells, ivf_centroid_list, l2_norm,
    )
    from ab_metadata_pusher_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    cents = ivf_centroid_list(emb, n_cells=4, iters=1)
    assigned = _assign_cells(emb, cents, "vec_id", "embedding", nprobe=1) \
        .select("vec_id", "cell", l2_norm("embedding").alias("nrm"))
    (assigned.write.mode("overwrite").bucketBy(4, "cell")
     .sortBy("cell").saveAsTable(f"{bucket_db}.cells"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table(f"{bucket_db}.cells")
        pairs = (t.alias("a").join(t.alias("b"), "cell")
                 .filter(F.col("a.vec_id") < F.col("b.vec_id"))
                 .select("cell", F.col("a.vec_id").alias("va"),
                         F.col("b.vec_id").alias("vb")))
        assert pairs.count() > 0
        buf = io.StringIO()
        with redirect_stdout(buf):
            pairs.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert ") Exchange" not in plan, \
            "bucketed within-cell self-join must not shuffle:\n" + plan[:1200]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
