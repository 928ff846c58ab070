#!/usr/bin/env python
"""Regenerate the BENCH_HEAD blocks in BASELINE.md and every ROUND*.md
that carries one from the committed BENCH_FULL.json (judge r9 ask #5:
the r9 round-table row said "floor-adjusted 78.4 s" while the
committed artifact carried 77.15 — prose claims about the HEAD
artifact are now generated, so they cannot disagree with it;
tests/test_artifact_consistency.py re-derives the blocks and fails CI
on any drift).

Usage: python scripts/gen_bench_row.py [--check]
  --check: exit 1 if BASELINE.md's block differs from the regenerated
           one instead of rewriting the blocks (the CI mode). The guard's
           contract is committed-prose-matches-committed-ARTIFACT, so
           --check accepts the block if it matches the BENCH_FULL.json
           at ``git show HEAD:`` OR the working-tree copy: the
           external driver legitimately overwrites the working-tree
           artifact with its own bench run after every round (judge
           r10 "what's wrong" #1 — that refresh must never fail the
           suite, so HEAD is authoritative), while the builder's
           refresh-then-commit flow updates both files together and
           must stay green BEFORE the commit lands (working tree
           authoritative). The rewrite mode reads only the working
           tree, since its job is to sync the notes to the artifact
           about to be committed. Outside a git checkout (or when HEAD
           lacks the file) the HEAD read falls back to the working
           tree.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

BEGIN = "<!-- BENCH_HEAD:BEGIN"
END = "<!-- BENCH_HEAD:END -->"


def _load_artifact(committed: bool) -> dict:
    """BENCH_FULL.json — the HEAD-committed copy when ``committed``
    (falling back to the working tree outside a repo / before the
    first commit of the file), else the working-tree copy."""
    if committed:
        try:
            proc = subprocess.run(
                ["git", "show", "HEAD:BENCH_FULL.json"],
                capture_output=True,
                text=True,
                cwd=REPO,
            )
            if proc.returncode == 0 and proc.stdout.strip():
                return json.loads(proc.stdout)
        except OSError:
            pass
    with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
        return json.load(fh)


def render_block(committed: bool = False) -> str:
    d = _load_artifact(committed)
    n = len(d["queries"])
    ratio = d.get("value_per_calib")
    shared = d.get("shared_cache_queries", [])
    h12 = d.get("headline12_total")
    lines = [
        f"{BEGIN} — generated by scripts/gen_bench_row.py from the "
        "committed BENCH_FULL.json; do NOT hand-edit (CI re-derives "
        "and diffs this block) -->",
        "",
        f"**HEAD artifact** ({n} queries, sf={d['sf']}): warm "
        f"**{d['value']} s** / cold {d.get('cold_total')} s; calib "
        f"{d.get('calib_sec')} → ratio {ratio}; scan→noop floor "
        f"{d.get('floor_sec_per_query')} s/query → floor-adjusted "
        f"**{d.get('floor_adjusted_value')} s**; frozen headline-12 "
        f"subset {h12} s"
        + (
            f"; {len(shared)} queries' warm mins share a disk-cache "
            "materialization (listed in shared_cache_queries — read "
            "queries_cold for their plan cost)"
            if shared
            else ""
        )
        + ".",
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()

    path = os.path.join(REPO, "BASELINE.md")
    with open(path) as fh:
        text = fh.read()
    pat = re.compile(re.escape(BEGIN) + r".*?" + re.escape(END), re.S)
    if not pat.search(text):
        print("BASELINE.md has no BENCH_HEAD block", file=sys.stderr)
        return 1
    if args.check:
        for committed in (True, False):
            if pat.sub(lambda _: render_block(committed), text) == text:
                src = "HEAD" if committed else "working-tree"
                print(f"BENCH_HEAD block matches {src} BENCH_FULL.json")
                # advisor r11: a builder who refreshed the artifact but
                # forgot to regenerate BASELINE.md would land a desynced
                # pair on a green HEAD-only match — warn LOUDLY so the
                # refresh-then-commit flow reruns the generator before
                # committing (exit stays 0: the external driver's
                # post-round working-tree refresh is legitimate and
                # must never fail the suite — HEAD is authoritative
                # for committed prose).
                if committed and _load_artifact(True) != _load_artifact(
                    False
                ):
                    print(
                        "WARNING: the working-tree BENCH_FULL.json "
                        "differs from HEAD's and the BENCH_HEAD block "
                        "matches only the HEAD copy. If YOU refreshed "
                        "the artifact and are about to commit it, run "
                        "scripts/gen_bench_row.py first or BASELINE.md "
                        "will land desynced. (A driver-refreshed "
                        "working tree is the benign cause.)",
                        file=sys.stderr,
                    )
                return 0
        print(
            "BASELINE.md BENCH_HEAD block matches neither the "
            "HEAD-committed nor the working-tree BENCH_FULL.json — "
            "run scripts/gen_bench_row.py",
            file=sys.stderr,
        )
        return 1
    block = render_block(False)
    notes = sorted(glob.glob(os.path.join(REPO, "ROUND*.md")))
    for note in [path, *notes]:
        with open(note) as fh:
            text = fh.read()
        if pat.search(text):
            with open(note, "w") as fh:
                fh.write(pat.sub(lambda _: block, text))
            print(f"{os.path.basename(note)} BENCH_HEAD block regenerated")
    return 0


if __name__ == "__main__":
    sys.exit(main())
