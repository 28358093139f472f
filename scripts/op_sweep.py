#!/usr/bin/env python
"""Optimization sweep: wall-time every registered operator at sf0.1
under the bench methodology (warm cache, interactive profile, noop sink
per the optimization guide §1.4 — times the computation of every column
of every row, not the sink).

Each rep builds a FRESH DataFrame (new shuffle deps — re-executing one
instance skips finished map stages, the round-8 bench correction) and
times one noop write. Ops whose warm-up run exceeds 0.3 s get best-of-5
instead of best-of-N, so loaded draws on the expensive ops don't
masquerade as regressions. best/median of the reps plus the build time
are emitted as JSON so before/after comparisons are reproducible.

Usage: python scripts/op_sweep.py --out plans/rNN [--sf-dir DIR]
           [--reps N] [--tag TAG] [--only opA,opB]
Writes: <out>/op_sweep_<tag>.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLOW_OP_SEC = 0.3  # warm-up wall above this buys extra reps
SLOW_OP_REPS = 5


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="output directory, e.g. plans/r20")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default="base")
    ap.add_argument("--only", help="comma-separated op keys")
    args = ap.parse_args()
    only = args.only.split(",") if args.only else None

    from ocdb_server_spark.io import warm_cache
    from ocdb_server_spark.registry import load_all
    from ocdb_server_spark.session import get_spark

    spark = get_spark(app_name="op_sweep", profile="interactive")
    spark.sparkContext.setLogLevel("ERROR")
    ops = load_all()
    warm_cache(spark, args.sf_dir)

    out: dict[str, dict] = {}
    names = [n for n in sorted(ops) if only is None or n in only]
    for i, name in enumerate(names):
        spark.sparkContext.setJobDescription(f"sweep:{name}")
        rec: dict[str, object] = {}
        try:
            # warm-up build+run (codegen/JIT/Arrow caches out of the numbers)
            t0 = time.perf_counter()
            df = ops[name].fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            warm_wall = time.perf_counter() - t0
            slow = warm_wall > SLOW_OP_SEC
            n_reps = max(args.reps, SLOW_OP_REPS) if slow else args.reps
            builds, runs = [], []
            for _ in range(n_reps):
                t0 = time.perf_counter()
                df = ops[name].fn(spark, args.sf_dir)  # fresh shuffle deps
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                builds.append(t1 - t0)
                runs.append(t2 - t1)
            runs.sort()
            builds.sort()
            rec["best"] = round(runs[0], 4)
            rec["median"] = round(runs[len(runs) // 2], 4)
            rec["build"] = round(builds[0], 4)
            rec["reps"] = n_reps
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(e).__name__}: {e}"[:200]
        out[name] = rec
        print(f"[{i + 1}/{len(names)}] {name}: {rec}", flush=True)
        spark.sparkContext.setJobDescription(None)

    os.makedirs(args.out, exist_ok=True)
    dest = os.path.join(args.out, f"op_sweep_{args.tag}.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    timed = {k: v["best"] for k, v in out.items() if "best" in v}
    print(f"\nwrote {dest}; {len(timed)} timed, {len(out) - len(timed)} errors")
    for k in sorted(timed, key=timed.get, reverse=True)[:25]:
        print(f"  {timed[k]:8.3f}s  {k}")


if __name__ == "__main__":
    main()
