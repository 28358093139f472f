#!/usr/bin/env python
"""Capture `.explain("formatted")` for named ops into a plans directory.

Usage: python scripts/explain.py --out plans/rNN <suffix> op17_agg_groupby [op42_...]
Writes <out>/<op>_<suffix>.txt for each op (suffix: before/after).
Captured on the bench session (interactive profile, warm sf0.1 cache)
so the plans match what bench.py actually executes.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="output directory, e.g. plans/r20")
    ap.add_argument("suffix", help="file suffix, e.g. before/after")
    ap.add_argument("names", nargs="+", help="op keys")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from ocdb_server_spark.io import warm_cache
    from ocdb_server_spark.registry import load_all
    from ocdb_server_spark.session import get_spark

    spark = get_spark(app_name="explain", profile="interactive")
    spark.sparkContext.setLogLevel("ERROR")
    ops = load_all()
    warm_cache(spark, sf_dir)

    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        df = ops[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
