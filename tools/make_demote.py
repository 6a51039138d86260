#!/usr/bin/env python3
"""Generate tools/bench_demote.json — the committed single-pass set.

graft.Bench runs each entry in a fixed mode: a substrate build, one
single pass, or one cold plus one warm pass. The entries on this list run
single at every core count, so runs on different hosts compare
like-for-like. Bench itself holds no cost model; this script does.

Cost model, per entry with committed warm median m (seconds):
  two-pass (cold + warm)  2.45 m + 0.10 + 2 TAX
  single pass             1.35 m + 0.05 + TAX
  substrate build         m + TAX
plus WARMUP_S for session start and the untimed JIT warm-up. TAX is the
additive per-pass cost a 32-cpu host adds over the 4-8 cpu runs the
medians come from. The list is sized so that BAND x the projected run
fits under Bench's 500 s hard wall with HEADROOM_S to spare, so a run on
a host BAND times slower than the medians still skips nothing.

Greedy, largest median first, over non-iterative median-backed queries:
demoting the expensive tail saves the most seconds per lost warm sample.
Iterative entries (`iterative = true` in the registry) are never
demoted; their warm/cold split is the product under test.

Usage: tools/make_demote.py [medians.json] > tools/bench_demote.json
"""
import json, re, sys, pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
HARD_WALL_S = 500.0             # graft.Bench.HardWallS
HEADROOM_S = 10.0
BAND = 1.3                      # host slowdown the list must absorb
TARGET = (HARD_WALL_S - HEADROOM_S) / BAND
TAX = 0.25
WARMUP_S = 8.0                  # untimed JIT warmup + session start


def iterative_names():
    names = set()
    for f in (ROOT / "src/main/scala/graft/queries").glob("*.scala"):
        src = f.read_text()
        # each Q("name", ...) block ends at the next Q("; iterative flag
        # is declared inside the block
        starts = [(m.start(), m.group(1)) for m in re.finditer(r'Q\("(q_\w+)"', src)]
        for (pos, name), end in zip(starts, [s for s, _ in starts[1:]] + [len(src)]):
            if "iterative = true" in src[pos:end]:
                names.add(name)
    return names


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else str(ROOT / "tools/bench_medians.json")
    med = json.load(open(path))
    subs = {k: v for k, v in med.items() if k.startswith("substrate:")}
    qs = {k: v for k, v in med.items() if not k.startswith("substrate:")}
    it = iterative_names()

    def two(m): return 2.45 * m + 0.1 + 2 * TAX
    def one(m): return 1.35 * m + 0.05 + TAX

    demote = set()
    def projection():
        base = WARMUP_S + sum(subs.values()) + len(subs) * TAX
        return base + sum(one(m) if n in demote else two(m)
                          for n, m in qs.items())

    cand = sorted((m, n) for n, m in qs.items() if n not in it)
    while projection() > TARGET and cand:
        m, n = cand.pop()         # largest median first
        demote.add(n)
    sys.stderr.write(
        f"projection {projection():.0f}s x {BAND} = {BAND * projection():.0f}s "
        f"(hard wall {HARD_WALL_S:.0f}s - {HEADROOM_S:.0f}s headroom), "
        f"demoted {len(demote)} of {len(qs)} queries "
        f"({sum(med[n] for n in demote):.1f}s of median mass)\n")
    print(json.dumps(sorted(demote), indent=1))


if __name__ == "__main__":
    main()
