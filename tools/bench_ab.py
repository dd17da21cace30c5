#!/usr/bin/env python3
"""Same-box bench A/B.

Usage:
  tools/bench_ab.py <baseline.json> <candidate.json> [changed_keys_csv]
  tools/bench_ab.py --pairs <parent.txt> <change.txt> [BENCHMARK.json]

Default mode compares two graft.Bench JSON artifacts per query: the
shared-set min-sum ratio EXCLUDING intentionally-changed queries (pass
them as the third arg), plus the biggest per-query regressions and
improvements by min and by cpu. The min-of-reps is the load-insensitive
wall signal; cpu is the load-insensitive compute signal (see Bench.scala).

--pairs mode compares perfbench runs. Each file holds the stdout of
perfbench/run.py runs, one after another (or just their `env` and
result-JSON lines); the i-th run of the parent file is paired with the
i-th run of the same workload in the change file, so run them
alternately. For each workload and end-to-end metric (from
BENCHMARK.json, default ./BENCHMARK.json) it prints both sides' median
and quartiles, how many pairs the change wins, whether the median gap
exceeds the parent's interquartile range, and the change's median
relative to the metric's regression bound; then the failed-op shares.
"""
import sys, json, os, statistics


def load(p):
    d = json.load(open(p))
    return d["stats"]


def main(base_p, cand_p, changed_csv=""):
    base, cand = load(base_p), load(cand_p)
    changed = set(x for x in changed_csv.split(",") if x)
    shared = sorted((set(base) & set(cand)) - changed)
    bs = sum(base[q]["min"] for q in shared)
    cs = sum(cand[q]["min"] for q in shared)
    bc = sum(base[q]["cpu"] for q in shared)
    cc = sum(cand[q]["cpu"] for q in shared)
    print(f"shared {len(shared)} queries (excluded {len(changed)} changed)")
    print(f"min-sum:  base {bs:7.1f}s  cand {cs:7.1f}s  ratio {cs / bs:.3f}")
    print(f"cpu-sum:  base {bc:7.1f}s  cand {cc:7.1f}s  ratio {cc / bc:.3f}")
    rows = []
    for q in shared:
        b, c = base[q], cand[q]
        if b["min"] > 0.3 or c["min"] > 0.3:
            rows.append((c["min"] - b["min"], q, b, c))
    rows.sort(reverse=True)
    print("\nbiggest regressions (candidate min - baseline min, >0.3s queries):")
    for dlt, q, b, c in rows[:8]:
        print(f"  {q:28s} {b['min']:6.2f} -> {c['min']:6.2f}  "
              f"(cpu {b['cpu']:6.2f} -> {c['cpu']:6.2f})")
    print("biggest improvements:")
    for dlt, q, b, c in rows[-8:]:
        print(f"  {q:28s} {b['min']:6.2f} -> {c['min']:6.2f}  "
              f"(cpu {b['cpu']:6.2f} -> {c['cpu']:6.2f})")
    if changed:
        print("\nchanged queries (excluded from the ratio):")
        for q in sorted(changed):
            if q in base and q in cand:
                print(f"  {q:28s} {base[q]['min']:6.2f} -> {cand[q]['min']:6.2f}")
            elif q in cand:
                print(f"  {q:28s}    new -> {cand[q]['min']:6.2f}")


def load_runs(p):
    """workload -> list of result dicts, in file order. A result line is
    tagged with the workload of the `env` line before it."""
    runs, workload = {}, "unknown"
    for line in open(p):
        line = line.strip()
        if line.startswith("env "):
            env = json.loads(line[4:])
            workload = env.get("input", {}).get("workload", workload)
        elif line.startswith("{"):
            res = json.loads(line)
            if "metrics" in res:
                runs.setdefault(workload, []).append(res)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def pairs(parent_p, change_p, bench_p="BENCHMARK.json"):
    bench = json.load(open(bench_p)) if os.path.exists(bench_p) else {}
    specs = bench.get("end_to_end") or []
    parent, change = load_runs(parent_p), load_runs(change_p)
    for workload in sorted(set(parent) & set(change)):
        a, b = parent[workload], change[workload]
        n = min(len(a), len(b))
        print(f"== {workload}: {n} pairs ({len(a)} parent runs, {len(b)} change runs)")
        names = [m["name"] for m in specs] or sorted(a[0]["metrics"])
        for name in names:
            spec = next((m for m in specs if m["name"] == name), {})
            lower = spec.get("better", "lower") == "lower"
            xa = [r["metrics"][name]["value"] for r in a[:n] if name in r["metrics"]]
            xb = [r["metrics"][name]["value"] for r in b[:n] if name in r["metrics"]]
            if not xa or len(xa) != len(xb):
                print(f"  {name}: missing in some runs")
                continue
            wins = sum((y < x) if lower else (y > x) for x, y in zip(xa, xb))
            a1, am, a3 = quartiles(xa)
            b1, bm, b3 = quartiles(xb)
            gap = (am - bm) if lower else (bm - am)
            rel = (bm / am - 1) if lower else (am / bm - 1)  # > 0 = worse
            bound = spec.get("bound")
            print(f"  {name:12s} parent {am:10.1f} [{a1:.1f}, {a3:.1f}]  "
                  f"change {bm:10.1f} [{b1:.1f}, {b3:.1f}]  "
                  f"wins {wins}/{n}  gap {gap:+.1f} vs parent IQR {a3 - a1:.1f}"
                  f" ({'>' if gap > a3 - a1 else '<='})  "
                  f"change {rel * -100:+.1f}% better"
                  + (f" (worse-bound {bound:.0%}: {'OK' if rel <= bound else 'EXCEEDED'})"
                     if bound is not None else ""))
        for side, runs in (("parent", a[:n]), ("change", b[:n])):
            att = sum(r.get("attempted", 0) for r in runs)
            fail = sum(r.get("failed", 0) for r in runs)
            print(f"  failed ops ({side}): {fail}/{att}")


if __name__ == "__main__":
    if sys.argv[1] == "--pairs":
        pairs(*sys.argv[2:5])
    else:
        main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "")
