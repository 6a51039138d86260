#!/usr/bin/env python3
"""Derive tools/bench_medians.json (Bench's run order, hard-wall and
stall-flag reference, and tools/make_demote.py's input) from a merged
median artifact produced by tools/bench_median.py.

Usage: tools/make_medians.py out/bench_r9.json > tools/bench_medians.json

Bench orders its suite by: queries ABSENT from this file first (no
clean evidence yet — typically everything added since the last sweep),
then ascending recorded warm median, so a run cut by the hard wall
loses the expensive, already-characterized tail.
"""
import json
import sys


def main(path, key):
    with open(path) as f:
        rec = json.load(f)
    warm = {k: v for k, v in sorted(rec[key].items()) if v >= 0}
    json.dump(warm, sys.stdout, indent=1)
    sys.stdout.write("\n")


if __name__ == "__main__":
    # --cold emits the COLD medians (tools/bench_medians_cold.json):
    # the reference the r16 cold-sample stall flag compares against —
    # some queries (q_mahalanobis: 3.4 s cold / 0.14 s warm, a real
    # one-time plan/codegen cost) have a stable 20x+ cold/warm ratio,
    # so flagging cold samples against WARM medians marks them as
    # host-stall ghosts every single run.
    args = [a for a in sys.argv[1:] if a != "--cold"]
    main(args[0], "queries_cold" if "--cold" in sys.argv else "queries")
