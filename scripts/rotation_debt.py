#!/usr/bin/env python
"""Rotation-debt planner: which out-of-window queries trip the
staleness guard at each future round, under the simulation "the next
CORRECTNESS artifact greens the current window".

The r9→r10 rounds each computed this by hand in the round notes (and
r10 prepaid two rounds of debt with it); this makes the computation a
one-command artifact so future rotations are planned from the same
numbers the CI guard (`tests/test_window_policy.py`) enforces.

Usage: python scripts/rotation_debt.py [--rounds 4]
Prints, per future round r: the queries whose newest driver-green row
would be older than ``r - STALE_AFTER`` while sitting outside the
current window — the names to rotate into
``raft_c_spark.plans.registry.WINDOW_QUERIES`` before round r.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=4,
                    help="how many future rounds to project")
    args = ap.parse_args()

    from raft_c_spark.plans.registry import all_queries
    from raft_c_spark.plans.verification import (
        STALE_AFTER,
        WINDOW,
        driver_rows,
        newest_driver_round,
        stale_out_of_window,
    )

    names = list(all_queries())
    # the guard's freshness definition: newest driver row of ANY
    # status (driver_rows), exactly as stale_out_of_window computes it
    # — NOT newest green row (a red r9 row still counts as fresh
    # coverage for the staleness bound; greenness is enforced by the
    # never-green window rule instead)
    rows = driver_rows(REPO)
    newest = newest_driver_round(REPO)

    print(f"registry: {len(names)} queries, window {WINDOW}, "
          f"newest artifact r{newest}, STALE_AFTER {STALE_AFTER}")

    stale_now = stale_out_of_window(REPO, names)
    print(f"\nstale NOW (CI-enforced; rotate into registry.WINDOW_QUERIES): "
          f"{stale_now or 'none'}")

    # projection: later rounds are computed against TODAY's
    # out-of-window set (each future WINDOW_QUERIES edit changes the
    # window — this shows the debt that exists unless one does);
    # in-window queries are refreshed by the upcoming driver run by
    # definition, and they never appear in the scanned tail, so no
    # simulation augmentation is needed
    for r in range(newest + 1, newest + 1 + args.rounds):
        cutoff = r - STALE_AFTER
        debt = sorted(
            (max(rows.get(q, {}), default=0), q)
            for q in names[WINDOW:]
            if max(rows.get(q, {}), default=0) < cutoff
        )
        print(f"\nr{r} (cutoff newest < {cutoff}): {len(debt)} stale")
        for newest_row, q in debt:
            print(f"  r{newest_row or '-'} {q}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
