"""Alternated min-of-N A/B timing of registry heads across code trees and
fixture directories — the repository's one head-timing harness.

    python scripts/ab.py [--trees A[,B]] [--dirs D1[,D2...]] [--pairs N]
        head...

A tree is a checkout directory (default: the repository holding this
script).  Get a parent to compare against with
``git worktree add /tmp/parent <rev>`` and pass ``--trees /tmp/parent,.``.
Each tree runs in its own child process, which imports that tree's
package, registry and ``bench._unbounded_llm`` (so the bench-only
``*_full`` heads resolve) and builds the bench session this script owns:
UI off, ``MATERIALIZE_CONF=eager``, bench.py's periodic cleaner GC.

Per dir and head a child does one warm run, one crc32 of the sorted
collected rows, then ``REPS`` timed reps, each after ``clearCache()`` and
``release_materialized``.  A rep splits into build (the builder call,
eager jobs included) and exec (the noop write), with the Spark jobs each
phase ran counted through job groups.  The parent runs ``--pairs`` pairs
of children, alternating which tree goes first, and reports per (head,
dir, tree) the median over pairs (the lower one for an even count) of
each child's fastest rep with that rep's build/exec split, whether
the crc is equal across trees and pairs, the B/A ratio with B's wins
(ties count for neither tree), and with two or more dirs the exponent
``e = log10(t_hi / t_lo)`` per step (a decade for sf0.01 -> sf0.1 or for
the x1 -> x10 replicas of ``scripts/gen_scaled_testdata.py``).  The last
line printed is one JSON object holding every cell.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import subprocess
import sys
import time
import zlib
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
REPS = 3


def child(tree: str, dirs: list[str], heads: list[str]) -> dict:
    """Time ``heads`` over ``dirs`` in this process, on ``tree``'s code."""
    sys.path.insert(0, tree)
    import ab_metadata_pusher_spark as pkg
    if not Path(pkg.__file__).resolve().is_relative_to(Path(tree)):
        raise RuntimeError(f"imported {pkg.__file__}, not {tree}'s package")
    import bench
    from ab_metadata_pusher_spark.operators._shared import (
        MATERIALIZE_CONF, release_materialized)
    from ab_metadata_pusher_spark.plans.registry import queries
    from ab_metadata_pusher_spark.session import get_spark

    spark = get_spark(app_name="ab",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false",
                                  "spark.cleaner.periodicGC.interval": "5min"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(MATERIALIZE_CONF, "eager")
    sc, reg = spark.sparkContext, queries()
    groups = itertools.count()

    def phase(fn):
        """(result, seconds, Spark jobs) of ``fn()`` in a fresh job group."""
        group = f"ab-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, dt, len(sc.statusTracker().getJobIdsForGroup(group))

    def fresh():
        spark.catalog.clearCache()
        release_materialized(spark)

    out: dict = {}
    for d in dirs or [bench.SF_DIR]:
        full = None
        for head in heads:
            if head in reg:
                build = (lambda d=d, head=head: reg[head](spark, d))
            else:
                full = full or bench._unbounded_llm(spark, d)
                build = full[head]
            build().write.format("noop").mode("overwrite").save()  # warm
            fresh()
            rows = "\n".join(sorted(repr(tuple(r)) for r in build().collect()))
            crc = f"{zlib.crc32(rows.encode()):08x}"
            reps = []
            for _ in range(REPS):
                fresh()
                df, b_s, b_jobs = phase(build)
                _, e_s, e_jobs = phase(
                    lambda: df.write.format("noop").mode("overwrite").save())
                reps.append({"build_s": b_s, "exec_s": e_s,
                             "build_jobs": b_jobs, "exec_jobs": e_jobs})
            fresh()
            out.setdefault(d, {})[head] = {"crc": crc, "reps": reps}
    return out


def fastest(reps: list[dict]) -> dict:
    """The rep with the least build + exec time, its total as ``s``."""
    best = min(reps, key=lambda r: r["build_s"] + r["exec_s"])
    return {"s": best["build_s"] + best["exec_s"], **best}


def summarize(trees: list[str], runs: list[dict]) -> dict:
    """Aggregate ``runs`` (one {tree: child result} per pair) into cells."""
    cells, compare, exponents = [], [], []
    first = runs[0][trees[0]]
    for d, heads in first.items():
        for head in heads:
            mins = {t: [fastest(r[t][d][head]["reps"]) for r in runs]
                    for t in trees}
            crcs = {r[t][d][head]["crc"] for r in runs for t in trees}
            med = {}
            for t in trees:
                ranked = sorted(mins[t], key=lambda m: m["s"])
                med[t] = ranked[(len(ranked) - 1) // 2]
                cells.append({"head": head, "dir": d, "tree": t, **med[t],
                              "mins": [m["s"] for m in mins[t]],
                              "crc": sorted({r[t][d][head]["crc"]
                                             for r in runs})})
            row = {"head": head, "dir": d, "crc_equal": len(crcs) == 1}
            if len(trees) == 2:
                a, b = ([m["s"] for m in mins[t]] for t in trees)
                row.update(ratio=med[trees[1]]["s"] / med[trees[0]]["s"],
                           b_wins=sum(y < x for x, y in zip(a, b)),
                           a_wins=sum(x < y for x, y in zip(a, b)),
                           pairs=len(runs))
            compare.append(row)
    if len(first) > 1:
        secs = {(c["head"], c["dir"], c["tree"]): c["s"] for c in cells}
        for head in next(iter(first.values())):
            for t in trees:
                ts = [secs[head, d, t] for d in first]
                exponents.append({"head": head, "tree": t, "e": [
                    math.log10(hi / lo) for lo, hi in zip(ts, ts[1:])]})
    return {"trees": trees, "dirs": list(first), "pairs": len(runs),
            "cells": cells, "compare": compare, "exponents": exponents}


def report(summary: dict) -> None:
    for c in summary["cells"]:
        print(f"{c['head']:30s} {Path(c['dir']).name:8s} {c['tree']}: "
              f"{c['s']:.2f}s = build {c['build_s']:.2f}s/"
              f"{c['build_jobs']:g} jobs + exec {c['exec_s']:.2f}s/"
              f"{c['exec_jobs']:g} jobs  mins "
              + " ".join(f"{m:.2f}" for m in c["mins"]))
    for r in summary["compare"]:
        crc = "crc equal" if r["crc_equal"] else "CRC DIFFERS"
        ab = (f"  B/A {r['ratio']:.3f}  B wins {r['b_wins']}/{r['pairs']}"
              f" (A wins {r['a_wins']})" if "ratio" in r else "")
        print(f"{r['head']:30s} {Path(r['dir']).name:8s} {crc}{ab}")
    for x in summary["exponents"]:
        print(f"{x['head']:30s} {x['tree']}: e per step "
              + " ".join(f"{e:+.2f}" for e in x["e"]))
    print(json.dumps(summary))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--trees", default=str(HERE),
                    help="one or two checkout dirs, comma-separated")
    ap.add_argument("--dirs", default="",
                    help="fixture dirs, comma-separated (default: the "
                         "bench's SF dir)")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--child", help=argparse.SUPPRESS)
    ap.add_argument("heads", nargs="+")
    args = ap.parse_args()
    dirs = [str(Path(d).resolve()) for d in args.dirs.split(",") if d]
    if args.child:
        print(json.dumps(child(args.child, dirs, args.heads)))
        return 0
    trees = [str(Path(t).resolve()) for t in args.trees.split(",")]
    if len(trees) > 2:
        ap.error("--trees takes one or two checkouts")
    runs = []
    for i in range(args.pairs):
        pair = {}
        for t in trees[::-1] if i % 2 else trees:
            p = subprocess.run(
                [sys.executable, __file__, "--child", t, "--dirs",
                 ",".join(dirs), *args.heads],
                cwd=t, capture_output=True, text=True)
            if p.returncode:
                sys.stderr.write(p.stderr[-4000:])
                sys.exit(f"child on {t} failed (exit {p.returncode})")
            pair[t] = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(pair)
    report(summarize(trees, runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
