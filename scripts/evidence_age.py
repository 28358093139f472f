#!/usr/bin/env python3
"""Generate EVIDENCE_AGE.md: per-op latest-green driver-evidence round.

Round-6 verdict item 7: the judge and the builder kept re-deriving
"which ops carry stale driver evidence" from six CORRECTNESS_r*.json
files. This table states it once per round: for every registered op,
the round of its LATEST green driver row (same green semantics as
sweep_order._row_is_green — the sweep-order source of truth), its
oracle kind, and the age histogram on top.

Usage: python scripts/evidence_age.py > EVIDENCE_AGE.md
"""

from __future__ import annotations

from collections import Counter

from sweep_order import ROOT, certified_rounds, load_all


def main() -> None:
    # The fold (incl. the r9 oracle-upgrade demotion: a SQL-oracled op
    # whose latest green was a rows-only row counts as r0 — the hash
    # gate never ran) is sweep_order.certified_rounds, SHARED with the
    # sweep order so the sweep and this report can't disagree.
    ops = load_all()
    certified = certified_rounds(ROOT, ops)
    hist = Counter(certified.get(name, 0) for name in ops)
    print("# EVIDENCE_AGE — per-op latest-green driver round")
    print()
    print("Generated by `scripts/evidence_age.py` from CORRECTNESS_r*.json")
    print("(green = latest row passed: hash-match for SQL-oracled ops, the")
    print("designed rows-ran check for ROWS ops). `r0` = no green driver row")
    print("yet: new this round, latest row failed, or the op's oracle was")
    print("upgraded since its last rows-only green (the r9 demotion rule —")
    print("the hash gate has never run for it). The sweep order")
    print("(scripts/sweep_order.py) certifies r0 first, then stalest round.")
    print()
    print("Histogram (round → ops whose latest green evidence is that round):")
    parts = [f"r{r}: {n}" for r, n in sorted(hist.items())]
    print("  " + ", ".join(parts))
    print()
    print("| op | oracle | latest green |")
    print("|---|---|---|")
    for name in sorted(ops):
        kind = "SQL" if ops[name].oracle is not None else "ROWS"
        rnd = certified.get(name, 0)
        print(f"| {name} | {kind} | {'r' + str(rnd) if rnd else '—'} |")


if __name__ == "__main__":
    main()
