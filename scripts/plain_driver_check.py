"""Hostile-environment correctness check: run every oracled query on a
PLAIN SparkSession (none of the engine's session defaults) with a
non-UTC process timezone — exactly what a third-party driver harness
would do.  Catches dependencies on our own session conf (nanos handling,
UTC) and on host timezone (LTZ outputs collect as local wall time).

Usage: python scripts/plain_driver_check.py [--sf-dir DIR] [query ...]
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
import time
from pathlib import Path

os.environ.setdefault("TZ", "America/New_York")
time.tzset()

import duckdb  # noqa: E402
# the one oracle normalizer, shared with driver_sim and perfbench/checks.py
from driver_sim import norm  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--conf", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="extra Spark conf for the plain session "
                         "(repeatable) — the hostile-env sweep passes "
                         "ansi mode, shuffle width, JVM locale here")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", REPO / "__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    # deliberately NOT ab_metadata_pusher_spark.session.get_spark
    builder = (SparkSession.builder.appName("plain-driver-check")
               .master("local[8]")
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false"))
    extra = dict(kv.split("=", 1) for kv in args.conf)
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if extra:
        print(f"CONF  {extra}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf_dir}/{t}.parquet')")

    # lazy-persist shared streams register cache entries per query;
    # release between queries so one full sweep accumulates none.
    from ab_metadata_pusher_spark.operators._shared import (
        release_materialized,
    )

    qs, oracles = m.queries(), m.oracle_sql()
    names = args.names or sorted(oracles)
    failures = 0
    for name in names:
        release_materialized(spark)
        try:
            sdf = qs[name](spark, args.sf_dir)
            s = norm(sdf.columns, [tuple(r) for r in sdf.collect()])
            if name not in oracles:  # rows-only query (no oracle by design)
                print(f"WEAK  {name}: rows={len(s)}")
                continue
            rel = con.sql(oracles[name])
            d = norm(list(rel.columns), [tuple(r) for r in rel.fetchall()])
            ok = s == d
        except Exception as e:  # noqa: BLE001
            print(f"EXC   {name}: {type(e).__name__}: {e}")
            ok = False
        if not ok:
            failures += 1
            print(f"FAIL  {name}")
    print(f"{'PASS' if failures == 0 else 'FAIL'}: "
          f"{len(names) - failures}/{len(names)} under plain session + "
          f"TZ={os.environ['TZ']}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
