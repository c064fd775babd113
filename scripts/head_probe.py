"""Warm-rep timing probe for any registry query, normalized against a
stable reference query.

Generalizes the r9 LPA drift probe
(lpa_head_probe.py, last in commit 9bc81c2): the driver bench is
single-sample, so a below-gate normalized drift needs N warm reps plus
a stable untouched co-timed reference before it means anything.  Two
runs of this probe against different code states compare on
``query / reference`` medians rather than raw seconds (machine and
session factors cancel).

Usage:
    python scripts/head_probe.py --reps 5 --ref graph_triangles \
        orders_basket_lift quality_label_consistency_ann
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ab_metadata_pusher_spark.operators._shared import (  # noqa: E402
    MATERIALIZE_CONF,
)
from ab_metadata_pusher_spark.plans.registry import queries  # noqa: E402
from ab_metadata_pusher_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--ref", default="graph_triangles",
                    help="stable co-timed reference query")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark(app_name="head-probe",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    # time the bench's materialization mode (bench.py sets the same)
    spark.conf.set(MATERIALIZE_CONF, "eager")
    reg = queries()

    def timed(name: str) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        reg[name](spark, args.sf_dir).write.format("noop") \
            .mode("overwrite").save()
        return time.perf_counter() - t0

    probe_names = list(args.names) + [args.ref]
    for n in probe_names:  # warm: JIT + IO + parquet footer caches
        timed(n)
    times: dict[str, list[float]] = {n: [] for n in probe_names}
    for _ in range(args.reps):
        for n in probe_names:
            times[n].append(timed(n))

    med = {n: sorted(ts)[len(ts) // 2] for n, ts in times.items()}
    for n in args.names:
        reps = " ".join(f"{t:.2f}" for t in times[n])
        print(f"{n:34s} reps [{reps}]  median {med[n]:.2f}s  "
              f"norm({args.ref}) {med[n] / med[args.ref]:.3f}")
    reps = " ".join(f"{t:.2f}" for t in times[args.ref])
    print(f"{args.ref:34s} reps [{reps}]  median {med[args.ref]:.2f}s  (ref)")


if __name__ == "__main__":
    main()
