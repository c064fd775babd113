"""Measure warm sf0.01 -> sf0.1 wall time for named queries and fit the
scaling exponent recorded in SCALE.md.

The exponent e solves t(sf0.1) = t(sf0.01) * 10^e over the 10x-rows
step: e = log10(t_0.1 / t_0.01).  e <= 1 is at-or-below linear ("would
survive 100x"); e > ~1.2 names a super-linear stage to fix.  Warm
second-run times, so JIT/IO noise lands on the discarded first run.

Names resolve from the registry first, then from bench.py's
_unbounded_llm builders (the full-corpus forms like similarity_ivf_full
that the bounded correctness registry intentionally excludes).

Usage: python scripts/scale_check.py q1 q2 ...
"""

from __future__ import annotations

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

SFS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark(app_name="scale-check",
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

    for name in sys.argv[1:]:
        times = []
        for sf in SFS:
            b = builder(name, sf)
            # warm once (JIT/IO), measure second run
            b().write.format("noop").mode("overwrite").save()
            t0 = time.time()
            b().write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        a, bt = times
        exp = math.log10(bt / a)
        print(f"{name:32s} sf0.01={a:.2f}s sf0.1={bt:.2f}s "
              f"ratio={bt / a:.1f}x exponent={exp:.2f}")


if __name__ == "__main__":
    main()
