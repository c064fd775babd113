"""Measure scaling exponents across generator-identical scaled fixtures.

scripts/scale_check.py spans sf0.01 -> sf0.1 (one decade, driver
fixtures).  This script measures the NEXT decade(s) on the replicas
manufactured by scripts/gen_scaled_testdata.py: t(x10)/t(x1) — and
t(x100)/t(x10) where generated — on plan shapes identical at both ends.
Both inputs come from the same generator (factor 1 vs factor 10), so
the per-token rewrite bias cancels and the ratio is pure scale.

The exponent e per decade solves t_hi = t_lo * 10^e; e <= 1 is
at-or-below linear.  Warm second-run times (first run absorbs JIT/IO).

Only UNBOUNDED queries belong here: a correctness-gate form that caps
its input (e.g. ``vec_id < 500``) measures ~flat by construction and
says nothing.  Names resolve from the registry first, then from
bench.py's _unbounded_llm builders.

Usage:
    python scripts/scale_multi_decade.py \
        --dirs .scratch/scaled/x1,.scratch/scaled/x10 q1 q2 ...
"""

from __future__ import annotations

import argparse
import math
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
    ap.add_argument("--dirs", default=".scratch/scaled/x1,.scratch/scaled/x10")
    ap.add_argument("--reps", type=int, default=2,
                    help="timed reps after the warm run (min is reported)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    dirs = [str(REPO / d) if not d.startswith("/") else d
            for d in args.dirs.split(",")]
    for d in dirs:
        if not Path(d).exists():
            sys.exit(f"missing scaled dir {d} — run gen_scaled_testdata.py")

    spark = get_spark(app_name="scale-multi-decade",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    # time the bench's materialization mode (bench.py sets the same)
    spark.conf.set(MATERIALIZE_CONF, "eager")
    reg = queries()

    import bench

    def builder(name: str, sf: str):
        if name in reg:
            return lambda: reg[name](spark, sf)
        full = bench._unbounded_llm(spark, sf)
        if name in full:
            return full[name]
        raise KeyError(f"{name}: not in registry or bench._unbounded_llm")

    for name in args.names:
        times = []
        for sf in dirs:
            b = builder(name, sf)
            b().write.format("noop").mode("overwrite").save()  # warm
            best = math.inf
            for _ in range(args.reps):
                # a prior query's (or rep's) persisted frames otherwise
                # survive into this measurement: an x100 LPA persist
                # evicting blocks under an x1 kcore run measured 25.7 s
                # for a 3.5 s query — cache pressure, not the plan
                spark.catalog.clearCache()
                t0 = time.time()
                b().write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            times.append(best)
        spark.catalog.clearCache()
        steps = " ".join(
            f"e={math.log10(hi / lo):+.2f}"
            for lo, hi in zip(times, times[1:]))
        ts = " ".join(f"{t:.2f}s" for t in times)
        print(f"{name:32s} {ts}  {steps}")


if __name__ == "__main__":
    main()
