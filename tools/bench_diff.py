#!/usr/bin/env python3
"""Per-query bench comparison over BENCH_FULL.json records.

Usage: python3 tools/bench_diff.py <old.json> <new.json>

First, when both records carry per-query counters, lists the queries
whose jobs, stages, tasks or shuffle bytes differ: counters are exact
on identical code, so any difference is a change in what ran.

Then reports queries whose warm-min moved by more than 1.5x + 0.3 s in
either direction, annotated with both runs' per-query spreads: a move
inside (old.spread + new.spread) is VM noise, not a regression — the
self-diagnosing audit BENCH_FULL.json's spreads exist for.
"""
import json
import sys


COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes")


def load(p):
    d = json.load(open(p))
    qs = d["queries"]
    # both the full record ({"sec": s, "spread_sec": sp}) and the
    # legacy stdout line ({"qNN": s}) parse
    out = {}
    for k, v in qs.items():
        if isinstance(v, dict):
            out[k] = (float(v["sec"]), float(v.get("spread_sec", 0)))
        else:
            out[k] = (float(v), 0.0)
    return d, out


def counters(d):
    """{short id: counters} of the queries whose record carries them."""
    return {k.split("_")[0]: v["counters"] for k, v in d["queries"].items()
            if isinstance(v, dict) and "counters" in v}


def counter_diff(old_d, new_d):
    old_c, new_c = counters(old_d), counters(new_d)
    if not (old_c and new_c):
        return
    common = sorted(set(old_c) & set(new_c))
    moved = [k for k in common
             if any(old_c[k][f] != new_c[k][f] for f in COUNTERS)]
    print(f"{len(common)} queries with counters in both records, "
          f"{len(moved)} differ:")
    for k in moved:
        print(f"  {k}: " + ", ".join(
            f"{f} {old_c[k][f]} -> {new_c[k][f]}" for f in COUNTERS
            if old_c[k][f] != new_c[k][f]))


def main():
    old_d, old = load(sys.argv[1])
    new_d, new = load(sys.argv[2])
    counter_diff(old_d, new_d)
    def short(k):
        return k.split("_")[0]
    old_s = {short(k): v for k, v in old.items()}
    new_s = {short(k): v for k, v in new.items()}
    common = sorted(set(old_s) & set(new_s))
    tot_o = sum(old_s[k][0] for k in common if old_s[k][0] >= 0)
    tot_n = sum(new_s[k][0] for k in common if new_s[k][0] >= 0)
    print(f"{len(common)} common queries: "
          f"{tot_o:.1f}s -> {tot_n:.1f}s "
          f"({(tot_n - tot_o) / max(tot_o, 1e-9) * 100:+.1f}%)")
    moved = 0
    for k in common:
        (o, osp), (n, nsp) = old_s[k], new_s[k]
        if o < 0 or n < 0:
            print(f"  {k}: FAILED run (old={o}, new={n})")
            moved += 1
            continue
        if n > o * 1.5 + 0.3 or o > n * 1.5 + 0.3:
            noise = osp + nsp
            verdict = ("within spread (noise)"
                       if abs(n - o) <= noise else
                       ("REGRESSION" if n > o else "improvement"))
            print(f"  {k}: {o:.3f}s -> {n:.3f}s "
                  f"(spreads {osp:.3f}+{nsp:.3f}) {verdict}")
            moved += 1
    only_new = sorted(set(new_s) - set(old_s))
    if only_new:
        print(f"new queries: {', '.join(only_new)}")
    if not moved:
        print("no per-query moves beyond 1.5x + 0.3s")


if __name__ == "__main__":
    main()
