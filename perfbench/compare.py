#!/usr/bin/env python3
"""Compare a parent and a change on the benchmark, pair by pair.

Collect runs (each pair runs both sides on the same seed, alternating which
side goes first; both checkouts must carry the same perfbench/ directory):

    python3 perfbench/compare.py run --parent ../parent --change . --pairs 10 --out runs.jsonl

Report on runs already collected:

    python3 perfbench/compare.py report runs.jsonl

For every workload and metric the report gives each side's median and
quartiles, the change's win share over all pairs (ties count for neither)
and a verdict:

  improved               the change wins at least 9/10 of the pairs and the
                         medians differ by more than the parent's own
                         quartile spread (or, when that spread exceeds the
                         bound, every change run beats every parent run)
  no worse within bound  the change's median is no worse than the parent's
                         by more than the metric's bound
  worse                  it is worse by more than the bound
  unresolved             the parent's own spread exceeds the bound, so the
                         runs cannot tell

Per-layer metrics have no bound; they get `improved` or `no bound`.
A line of failed/attempted operations per side follows each workload:
a gain does not count when more operations fail than at the parent.
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from collections import defaultdict
from pathlib import Path


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def bench_hash(checkout):
    h = hashlib.sha256()
    base = Path(checkout) / "perfbench"
    for f in sorted(p for p in base.rglob("*") if p.is_file()
                    and not {"out", "target"} & set(p.relative_to(base).parts)):
        h.update(str(f.relative_to(base)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def collect(a):
    sides = {"parent": a.parent, "change": a.change}
    if bench_hash(a.parent) != bench_hash(a.change):
        sys.exit("compare: the two checkouts carry different perfbench/ code; "
                 "copy one side's perfbench/ over the other's first")
    spec = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    with open(a.out, "a") as out:
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                for side in order:
                    p = subprocess.run(
                        [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                         "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                        cwd=sides[side], stdout=subprocess.PIPE, text=True)
                    lines = p.stdout.strip().splitlines()
                    if not lines:
                        sys.exit(f"compare: {side} {w} seed {seed} printed no result "
                                 f"(exit {p.returncode})")
                    rec = {"pair": i, "seed": seed, "side": side, "workload": w,
                           "trace": a.trace, "result": json.loads(lines[-1])}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {i} {w} {side}: exit {p.returncode}", file=sys.stderr)


def verdict(better, bound, par, chg, wins, n_pairs):
    sign = 1 if better == "lower" else -1
    q1, pmed, q3 = quartiles(par)
    cmed = statistics.median(chg)
    spread = (q3 - q1) / abs(pmed) if pmed else 0.0
    worse_by = sign * (cmed - pmed) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (c - p) < 0 for c in chg for p in par)
    if wins >= 0.9 * n_pairs and sign * (cmed - pmed) < 0 and abs(cmed - pmed) > (q3 - q1):
        if bound is None or spread <= bound or all_better:
            return "improved"
    if bound is None:
        return "no bound"
    if spread > bound:
        return "improved" if all_better else "unresolved"
    return "no worse within bound" if worse_by <= bound else "worse"


def report(a):
    recs = [json.loads(l) for l in Path(a.runs).read_text().splitlines() if l.strip()]
    spec = json.loads(Path(a.spec).read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    by = defaultdict(dict)  # (workload, pair) -> side -> result
    for r in recs:
        by[(r["workload"], r["pair"])][r["side"]] = r["result"]
    ok = True
    for w in sorted({k[0] for k in by}):
        pairs = [v for (wl, _), v in sorted(by.items()) if wl == w and len(v) == 2]
        print(f"\n== {w}: {len(pairs)} complete pairs")
        if len(pairs) < 10:
            print("   (fewer than 10 pairs: too few to claim a gain)")
        print(f"   {'metric':38s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
              f"{'wins':>6s}  verdict")
        names = [n for n in metrics if all(n in p[s]["metrics"] for p in pairs for s in p)]
        for n in names:
            m = metrics[n]
            par = [p["parent"]["metrics"][n]["value"] for p in pairs]
            chg = [p["change"]["metrics"][n]["value"] for p in pairs]
            sign = 1 if m["better"] == "lower" else -1
            wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) < 0)
            v = verdict(m["better"], m.get("bound"), par, chg, wins, len(pairs))
            ok &= v != "worse"
            pq, cq = quartiles(par), quartiles(chg)
            print(f"   {n + ' (' + m['unit'] + ')':38s} "
                  f"{pq[0]:9.4g}/{pq[1]:9.4g}/{pq[2]:9.4g} {cq[0]:9.4g}/{cq[1]:9.4g}/{cq[2]:9.4g} "
                  f"{wins:3d}/{len(pairs):<2d}  {v}")
        for side in ("parent", "change"):
            att = sum(p[side]["attempted"] for p in pairs)
            fail = sum(p[side]["failed"] for p in pairs)
            bad = sum(1 for p in pairs if not p[side]["correct"])
            print(f"   {side}: {fail}/{att} operations failed; {bad} runs not correct")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect alternating parent/change pairs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1000, help="seed of pair 0; pair i uses seed0+i")
    r.add_argument("--workload", action="append", help="repeatable; default every workload")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True, help="JSONL file the runs are appended to")
    p = sub.add_parser("report", help="print medians, quartiles, win shares and verdicts")
    p.add_argument("runs")
    p.add_argument("--spec", default=str(Path(__file__).resolve().parent.parent / "BENCHMARK.json"))
    a = ap.parse_args()
    if a.cmd == "run":
        collect(a)
        return 0
    return report(a)


if __name__ == "__main__":
    sys.exit(main())
