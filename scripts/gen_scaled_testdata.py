"""Generate scaled-up replicas of the driver fixtures for multi-decade
scale measurement.

SCALE.md's scaling exponents have so far spanned ONE decade
(sf0.01 -> sf0.1).  This script manufactures the next decade(s) by
unioning N key-shifted replicas of the sf0.1 fixtures, so
``scripts/ab.py --dirs x1,x10`` can measure t(10x)/t(1x) on identical
plan shapes and two generator-identical inputs.

Replica construction (replica column ``rep`` from a crossJoin with
``spark.range(factor)`` — one scan, no driver loop):

* Every key column shifts by ``rep * offset`` with a shared per-entity
  offset (next power of ten above the base max), so FK joins stay valid
  WITHIN a replica and replicas are disjoint: the scaled relational
  graph is block-diagonal — 10x components, same per-component shape,
  which is how a sharded corpus actually grows.
* ``region``/``nation`` stay fixed — TPC-H dimension tables do not grow
  with scale factor.
* ``documents.text`` gets a per-replica word-suffix rewrite
  (``w -> w_r<rep>`` via a JVM higher-order ``transform``): replicas
  must NOT be near-duplicates of each other, or every LSH/minhash
  bucket would grow ~quadratically with factor — an adversarial
  skew test, not a scale measurement.  ``n_chars`` is recomputed to
  keep its invariant.
* ``embeddings.embedding`` is circularly shifted by ``rep`` positions
  (norm- and structure-preserving, but cross-replica cosine structure
  decorrelates, so ANN/IVF cell populations scale linearly).
* Timestamps are kept: a 10x corpus over the same wall-clock window is
  traffic densification, the realistic growth mode for events/orders.

Because the rewrite slightly changes token shapes, BOTH sides of a
measurement should come from this generator: run with --factor 1 for
the baseline decade and --factor 10 (and 100) for the scaled ones.

Usage:
    python scripts/gen_scaled_testdata.py --factor 1  --out .scratch/scaled/x1
    python scripts/gen_scaled_testdata.py --factor 10 --out .scratch/scaled/x10
    python scripts/ab.py --dirs .scratch/scaled/x1,.scratch/scaled/x10 \
        similarity_ivf_full
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ab_metadata_pusher_spark.session import get_spark  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _pow10_offset(df: DataFrame, key: str) -> int:
    mx = df.agg(F.max(key)).first()[0]
    return 10 ** (int(math.log10(mx)) + 1) if mx else 10


def _shift(col: str, off: int):
    return (F.col(col) + F.col("rep") * F.lit(off)).alias(col)


def scale_tables(spark: SparkSession, base: str, out: str,
                 factor: int) -> None:
    src = {t: spark.read.parquet(f"{base}/{t}.parquet") for t in TABLES}
    off = {
        "cust": _pow10_offset(src["customer"], "c_custkey"),
        "supp": _pow10_offset(src["supplier"], "s_suppkey"),
        "part": _pow10_offset(src["part"], "p_partkey"),
        "ord": _pow10_offset(src["orders"], "o_orderkey"),
        "event": _pow10_offset(src["events"], "event_id"),
        "user": _pow10_offset(src["events"], "user_id"),
        "doc": _pow10_offset(src["documents"], "doc_id"),
        "vec": _pow10_offset(src["embeddings"], "vec_id"),
    }
    reps = spark.range(factor).select(F.col("id").alias("rep"))

    def replicate(t: str, *shifted, extra=None) -> DataFrame:
        extra = extra or {}
        shift_map = dict(shifted)
        cols = []
        for c in src[t].columns:
            if c in shift_map:
                cols.append(_shift(c, shift_map[c]))
            elif c in extra:
                cols.append(extra[c].alias(c))
            else:
                cols.append(F.col(c))
        return src[t].crossJoin(reps).select(*cols)

    out_path = Path(out)
    out_path.mkdir(parents=True, exist_ok=True)

    # per-replica word rewrite: every token changes, so replicas share no
    # shingles (JVM transform — no Python in the generator hot path)
    doc_text = F.array_join(
        F.transform(F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.lit("_r"),
                                       F.col("rep").cast("string"))),
        " ")
    dim = F.size("embedding")
    shift = (F.col("rep") % dim).cast("int")
    emb_rot = F.when(shift == 0, F.col("embedding")).otherwise(
        F.concat(F.slice("embedding", shift + 1, dim - shift),
                 F.slice("embedding", F.lit(1), shift)))

    frames = {
        "region": src["region"],
        "nation": src["nation"],
        "customer": replicate("customer", ("c_custkey", off["cust"])),
        "supplier": replicate("supplier", ("s_suppkey", off["supp"])),
        "part": replicate("part", ("p_partkey", off["part"])),
        "orders": replicate("orders", ("o_orderkey", off["ord"]),
                            ("o_custkey", off["cust"])),
        "lineitem": replicate("lineitem", ("l_orderkey", off["ord"]),
                              ("l_partkey", off["part"]),
                              ("l_suppkey", off["supp"])),
        "events": replicate("events", ("event_id", off["event"]),
                            ("user_id", off["user"])),
        "documents": replicate("documents", ("doc_id", off["doc"]),
                               extra={"text": doc_text,
                                      "n_chars": F.length(doc_text)
                                      .cast("long")}),
        "embeddings": replicate("embeddings", ("vec_id", off["vec"]),
                                extra={"embedding": emb_rot}),
    }
    par = spark.sparkContext.defaultParallelism
    for t, df in frames.items():
        n_files = 1 if t in ("region", "nation") else min(par, max(factor, 4))
        t0 = time.time()
        (df.repartition(n_files)
         .write.mode("overwrite").parquet(str(out_path / f"{t}.parquet")))
        n = spark.read.parquet(str(out_path / f"{t}.parquet")).count()
        print(f"  {t:12s} -> {n:>10,} rows  ({time.time() - t0:.1f}s)")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--factor", type=int, required=True)
    args = ap.parse_args()
    spark = get_spark(app_name="gen-scaled-testdata",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    print(f"scaling {args.base} x{args.factor} -> {args.out}")
    scale_tables(spark, args.base, args.out, args.factor)


if __name__ == "__main__":
    main()
