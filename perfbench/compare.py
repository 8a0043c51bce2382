#!/usr/bin/env python3
"""Compare two checkouts with the benchmark, or check that one is steady.

  python3 perfbench/compare.py pairs  --parent DIR --change DIR
  python3 perfbench/compare.py steady --change DIR

DIR is the root of a checkout holding perfbench/run.py (each side builds
its own program). Every workload in BENCHMARK.json is run, and every run's
result line is appended to --log (JSON lines).

pairs: for each workload, 10 parent/change pairs; pair i runs both sides
on seed 1000+i, alternating which side runs first. For each end-to-end
metric it prints one row per workload, with each side's median and
quartiles:
  gain        the change wins >= 9 of the 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range
  regressed   the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the spread (IQR / median) of either side exceeds the bound,
              unless every change run beats every parent run
  same        none of the above
steady: two sets of 10 runs of the one checkout, each run on its own
seed; prints each metric's spread in both sets and the drift of the second
median from the first, and marks the metric steady when both spreads and
the drift stay within its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
RUNS = 10        # pairs per workload, or runs per set
SEED_BASE = 1000


def spec(root):
    return json.loads((Path(root) / "BENCHMARK.json").read_text())


def run_one(root, workload, seed, seconds, trace=0):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def log_run(log, **rec):
    with open(log, "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def values(recs, side, workload, metric, group=None):
    return [r["result"]["metrics"][metric]["value"] for r in recs
            if r["side"] == side and r["workload"] == workload and r["result"]
            and (group is None or r.get("group") == group)]


def iqr_share(xs):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def better(a, b, direction):
    return a < b if direction == "lower" else a > b


def judge_pairs(recs, metrics, workloads):
    rows = []
    for w in workloads:
        for m in metrics:
            name, bound, d = m["name"], m["bound"], m["better"]
            par = values(recs, "parent", w, name)
            chg = values(recs, "change", w, name)
            pairs = [(r1, r2) for r1 in recs for r2 in recs
                     if r1["side"] == "parent" and r2["side"] == "change"
                     and r1["workload"] == w == r2["workload"]
                     and r1["seed"] == r2["seed"] and r1["result"] and r2["result"]]
            if len(par) < 2 or len(chg) < 2:
                rows.append((w, name, "missing", "", "", ""))
                continue
            wins = sum(better(b["result"]["metrics"][name]["value"],
                              a["result"]["metrics"][name]["value"], d) for a, b in pairs)
            mp, mc = statistics.median(par), statistics.median(chg)
            qp = statistics.quantiles(par, n=4)
            qc = statistics.quantiles(chg, n=4)
            worse = (mc - mp) / mp if d == "lower" else (mp - mc) / mp
            spread = max(iqr_share(par), iqr_share(chg))
            dominates = all(better(c, p, d) for c in chg for p in par)
            if wins >= 9 and abs(mc - mp) > qp[2] - qp[0] and better(mc, mp, d):
                verdict = "gain"
            elif worse > bound:
                verdict = "regressed"
            elif spread > bound and not dominates:
                verdict = "unresolved"
            else:
                verdict = "same"
            rows.append((w, name, verdict,
                         f"{mp:.4g} [{qp[0]:.4g}, {qp[2]:.4g}] -> {mc:.4g} [{qc[0]:.4g}, {qc[2]:.4g}]",
                         f"{wins}/{len(pairs)}", f"{spread:.3f}/{bound}"))
    return rows


def judge_steady(recs, metrics, workloads):
    rows = []
    for w in workloads:
        for m in metrics:
            name, bound, d = m["name"], m["bound"], m["better"]
            a = values(recs, "change", w, name, group=0)
            b = values(recs, "change", w, name, group=1)
            if len(a) < 2 or len(b) < 2:
                rows.append((w, name, "missing", "", "", ""))
                continue
            sa, sb = iqr_share(a), iqr_share(b)
            ma, mb = statistics.median(a), statistics.median(b)
            drift = (mb - ma) / ma if d == "lower" else (ma - mb) / ma
            ok = drift <= bound and max(sa, sb) <= bound
            rows.append((w, name, "steady" if ok else "NOT steady",
                         f"{ma:.4g} / {mb:.4g}", f"drift {drift:+.3f}",
                         f"spread {sa:.3f} {sb:.3f} (bound {bound}, aim < {bound / 3:.3f})"))
    return rows


def show(rows):
    widths = [max(len(str(r[i])) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(str(x).ljust(wd) for x, wd in zip(r, widths)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("pairs", "steady"))
    ap.add_argument("--parent")
    ap.add_argument("--change", default=str(HERE.parent))
    ap.add_argument("--log", default="")
    args = ap.parse_args()

    root = args.change
    b = spec(root)
    workloads = [w["name"] for w in b["workloads"]]
    log = args.log or str(Path(root) / ".bench_build" / "perfbench" / f"compare-{args.mode}.jsonl")
    Path(log).parent.mkdir(parents=True, exist_ok=True)
    recs = []
    if args.mode == "pairs":
        if not args.parent:
            ap.error("pairs needs --parent")
        for w in workloads:
            for i in range(RUNS):
                seed = SEED_BASE + i
                sides = [("parent", args.parent), ("change", root)]
                for side, d in (sides if i % 2 == 0 else sides[::-1]):
                    recs.append(log_run(log, side=side, workload=w, seed=seed,
                                        result=run_one(d, w, seed, b["run_seconds"])))
    else:
        for group in (0, 1):
            for w in workloads:
                for i in range(RUNS):
                    seed = SEED_BASE + 100 * group + i
                    recs.append(log_run(log, side="change", group=group, workload=w, seed=seed,
                                        result=run_one(root, w, seed, b["run_seconds"])))
    failed = [r for r in recs if not r["result"] or r["result"]["failed"]]
    for r in failed:
        print(f"run with failures: {r['side']} {r['workload']} seed {r['seed']}")
    metrics = b["end_to_end"]
    show(judge_pairs(recs, metrics, workloads) if args.mode == "pairs"
         else judge_steady(recs, metrics, workloads))
    print(f"log: {log}")


if __name__ == "__main__":
    main()
