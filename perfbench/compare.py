"""Read benchmark run records (.bench_build/records/*.json, written by
perfbench/run.py) and summarise or compare them.

  python3 perfbench/compare.py spread RECORD...
      Per workload and end-to-end metric: median, quartiles and the
      quartile spread as a share of the median, over untraced runs.

  python3 perfbench/compare.py compare --parent RECORD... --change RECORD...
      Per workload and end-to-end metric: each side's median and
      quartiles, the pair win-rate of the change (runs paired by seed),
      and a verdict:
        improved   the change wins at least 9 in 10 pairs (ties count
                   for neither) and the medians differ by more than the
                   parent's quartile spread;
        no worse   the change's median is not worse than the parent's by
                   more than the metric's bound, and the parent's spread
                   is within the bound;
        unresolved the parent's spread is wider than the bound, unless
                   every change run beats every parent run;
        worse      the change's median is worse by more than the bound.

  python3 perfbench/compare.py counters RECORD_A RECORD_B
      Determinism self-check over two traced runs of the same code and
      seed: lists the counters that repeat exactly and those that do not.
      Only counters that repeat exactly may serve as count evidence.

  python3 perfbench/compare.py overhead RECORD...
      Tracing overhead: per workload and end-to-end metric, the traced
      median minus the untraced median, and that difference as a share
      of the untraced median.

Bounds and directions come from BENCHMARK.json in the current directory.
"""
import argparse
import collections
import json
import pathlib
import statistics
import sys


def load(paths):
    recs = []
    for p in paths:
        path = pathlib.Path(p)
        files = sorted(path.glob("*.json")) if path.is_dir() else [path]
        for f in files:
            r = json.loads(f.read_text())
            if "end_to_end" in r:
                recs.append(r)
    return recs


def spec():
    return {m["name"]: m for m in
            json.loads(pathlib.Path("BENCHMARK.json").read_text())["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def by_workload(recs, trace=False):
    out = collections.defaultdict(list)
    for r in recs:
        if bool(r["trace"]) == trace:
            out[r["workload"]].append(r)
    return out


def cmd_spread(a):
    metrics = spec()
    for wl, rs in sorted(by_workload(load(a.records)).items()):
        print(f"{wl}: {len(rs)} runs, seeds "
              f"{sorted(r['seed'] for r in rs)}, "
              f"{sum(not r['correct'] for r in rs)} incorrect")
        for name, m in metrics.items():
            xs = [r["end_to_end"][name] for r in rs]
            q1, med, q3 = quartiles(xs)
            share = (q3 - q1) / med if med else float("inf")
            flag = "" if share <= m["bound"] / 3 else (
                "  > bound/3" if share <= m["bound"] else "  > BOUND")
            print(f"  {name:18s} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {share:6.3f} "
                  f"(bound {m['bound']}){flag}")


def verdict(m, parent, change, pairs):
    lower = m["better"] == "lower"
    q1, pm, q3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in pairs)
    losses = sum(better(p, c) for p, c in pairs)
    rate = wins / len(pairs) if pairs else 0.0
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    spread = (q3 - q1) / pm if pm else float("inf")
    if pairs and rate >= 0.9 and abs(cm - pm) > (q3 - q1):
        v = "improved"
    elif spread > m["bound"]:
        all_better = all(better(c, p) for p in parent for c in change)
        v = "no worse" if all_better else "unresolved"
    elif worse_by <= m["bound"]:
        v = "no worse"
    else:
        v = "worse"
    return v, rate, wins, losses, worse_by


def cmd_compare(a):
    metrics = spec()
    parent = by_workload(load(a.parent))
    change = by_workload(load(a.change))
    for wl in sorted(set(parent) | set(change)):
        ps, cs = parent.get(wl, []), change.get(wl, [])
        if not ps or not cs:
            print(f"{wl}: runs on one side only; nothing to compare")
            continue
        cs_by_seed = {r["seed"]: r for r in cs}
        paired = [(p, cs_by_seed[p["seed"]]) for p in ps
                  if p["seed"] in cs_by_seed]
        if not paired:
            paired = list(zip(ps, cs))
        shas = {r.get("classes_sha") for r in ps}, {r.get("classes_sha") for r in cs}
        print(f"{wl}: parent {len(ps)} runs, change {len(cs)} runs, "
              f"{len(paired)} pairs; classes_sha parent {sorted(shas[0])} "
              f"change {sorted(shas[1])}")
        bad = [r for r in ps + cs if not r["correct"] or r["failed"]]
        if bad:
            print(f"  {len(bad)} runs incorrect or with failed operations")
        for name, m in metrics.items():
            px = [r["end_to_end"][name] for r in ps]
            cx = [r["end_to_end"][name] for r in cs]
            pairs = [(p["end_to_end"][name], c["end_to_end"][name])
                     for p, c in paired]
            v, rate, wins, losses, worse_by = verdict(m, px, cx, pairs)
            pq, cq = quartiles(px), quartiles(cx)
            print(f"  {name:18s} parent {pq[1]:.4f} [{pq[0]:.4f}, {pq[2]:.4f}]"
                  f"  change {cq[1]:.4f} [{cq[0]:.4f}, {cq[2]:.4f}]"
                  f"  wins {wins}/{len(pairs)} losses {losses}"
                  f"  worse by {worse_by:+.3f} (bound {m['bound']})  {v}")


def cmd_counters(a):
    ra, rb = load([a.a])[0], load([a.b])[0]
    for r in (ra, rb):
        if not r["trace"]:
            sys.exit(f"{r['workload']} seed {r['seed']}: not a traced run")
    if (ra["workload"], ra["seed"]) != (rb["workload"], rb["seed"]):
        sys.exit("the two records are of different workloads or seeds")
    if ra.get("classes_sha") != rb.get("classes_sha"):
        print("warning: the two runs ran different program classes")
    ca, cb = ra["counters"], rb["counters"]
    varying = set(ra.get("varying", [])) | set(rb.get("varying", []))
    idle = sorted(k for k in ca if ca[k] == 0 and cb.get(k) == 0)
    same = sorted(k for k in ca if k in cb and ca[k] == cb[k] and ca[k] != 0)
    differ = sorted(k for k in ca if k in cb and ca[k] != cb[k])
    print(f"{ra['workload']} seed {ra['seed']}: {len(same)} counters repeat "
          f"exactly, {len(differ)} differ, {len(idle)} are 0 in both "
          "(layer not run)")
    for k in same:
        note = "  (marked varying)" if k in varying else ""
        print(f"  exact   {k} = {ca[k]:g}{note}")
    for k in differ:
        note = "  (marked varying)" if k in varying else ""
        print(f"  differs {k}: {ca[k]:g} vs {cb[k]:g}{note}")


def cmd_overhead(a):
    recs = load(a.records)
    plain, traced = by_workload(recs), by_workload(recs, trace=True)
    for wl in sorted(set(plain) & set(traced)):
        print(f"{wl}: {len(plain[wl])} untraced, {len(traced[wl])} traced runs")
        for name in spec():
            u = statistics.median(r["end_to_end"][name] for r in plain[wl])
            t = statistics.median(r["end_to_end"][name] for r in traced[wl])
            print(f"  {name:18s} untraced {u:.4f}  traced {t:.4f}  "
                  f"overhead {t - u:+.4f} ({(t - u) / u:+.3f})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("spread")
    p.add_argument("records", nargs="+")
    p = sub.add_parser("compare")
    p.add_argument("--parent", nargs="+", required=True)
    p.add_argument("--change", nargs="+", required=True)
    p = sub.add_parser("counters")
    p.add_argument("a")
    p.add_argument("b")
    p = sub.add_parser("overhead")
    p.add_argument("records", nargs="+")
    a = ap.parse_args()
    {"spread": cmd_spread, "compare": cmd_compare, "counters": cmd_counters,
     "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
