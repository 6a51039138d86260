#!/usr/bin/env python3
"""Merge N graft.Bench JSON lines into a per-query median record.

Usage: tools/bench_median.py out/bench_r6_a.json [more.json ...] > out/bench_r6.json

Per-query warm/cold = median across runs (NaN-sentinel -1 samples and
budget-degraded single-pass samples are excluded per query when a
clean sample exists); totals are the sums of those medians. This is the
methodology the round-5 record used — single runs on this host are a
stall lottery (see README bench note).

SHA consistency (VERDICT r12 #7): every pass stamps the git SHA of the
tree it measured ("sha" field, "<sha>-dirty" when uncommitted changes
were present). Mixing passes from different SHAs silently merges
samples of DIFFERENT plans (the q_edit_pairs r12 episode: 6 passes
measured a dead plan and had to be hand-excluded at merge time) — so
this merge REFUSES cross-SHA and dirty-tree inputs unless
--allow-mixed-sha is given explicitly.
"""
import json, statistics, sys


def load(path):
    with open(path) as f:
        txt = f.read()
    line = next(l for l in txt.splitlines() if l.lstrip().startswith("{"))
    return json.loads(line)


def main(paths):
    allow_mixed = "--allow-mixed-sha" in paths
    paths = [p for p in paths if p != "--allow-mixed-sha"]
    runs = [load(p) for p in paths]
    shas = {p: r.get("sha", "unknown") for p, r in zip(paths, runs)}
    problems = []
    if len(set(shas.values())) > 1:
        problems.append("cross-SHA inputs: %s" % json.dumps(shas))
    dirty = [p for p, s in shas.items()
             if s.endswith("-dirty") or s == "unknown"]
    if dirty:
        problems.append("dirty/unstamped inputs: %s" % ", ".join(dirty))
    if problems and not allow_mixed:
        sys.exit("bench_median: REFUSING to merge (pass --allow-mixed-sha "
                 "to override):\n  " + "\n  ".join(problems))
    names = sorted({q for r in runs for q in r["queries"]})

    def med(key, name):
        clean, degraded = [], []
        for r in runs:
            v = r[key].get(name, -1)
            if v < 0:
                continue
            (degraded if name in set(r.get("single_pass", [])) else clean).append(v)
        pool = clean or degraded
        return statistics.median(pool) if pool else -1

    warm = {n: med("queries", n) for n in names}
    cold = {n: med("queries_cold", n) for n in names}
    out = {
        "metric": "total",
        "value": sum(v for v in warm.values() if v >= 0),
        "unit": "sec",
        "cold_total": sum(v for v in cold.values() if v >= 0),
        "n_queries": len(names),
        "method": "per-query median of %d runs (%s); -1/single-pass samples "
                  "excluded when a clean sample exists" % (len(runs), ",".join(paths)),
        "sha": sorted(set(shas.values()))[0] if len(set(shas.values())) == 1
               else "MIXED:" + ",".join(sorted(set(shas.values()))),
        "queries": warm,
        "queries_cold": cold,
        "sf": runs[0].get("sf", ""),
    }
    json.dump(out, sys.stdout)
    print()


if __name__ == "__main__":
    main(sys.argv[1:])
