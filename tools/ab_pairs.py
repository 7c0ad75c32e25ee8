#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, and their verdict.

    python3 tools/ab_pairs.py run --work DIR --parent SHA [--change REV]
        --workload sparkify_etl --seed 1 [--pairs 10] [--trace 0]
    python3 tools/ab_pairs.py report DIR/ab.jsonl

`run` exports the two revisions with `git archive` into DIR/parent and
DIR/change (once; an existing copy is reused as it stands), then runs
`perfbench/run.py` in each copy, in the order parent-change on odd pairs
and change-parent on even ones, with the command line of BENCHMARK.json.
Every run appends one JSON line to DIR/ab.jsonl (side, pair, workload,
seed, trace and the run's contract line), so later invocations add pairs
and never replace them. DIR must lie outside this checkout; the copies'
perfbench/.work holds everything the runs write.

`report` prints, per workload, seed and end-to-end metric of
BENCHMARK.json (untraced runs only): each side's median and quartiles
(statistics.quantiles, method='inclusive'), the change's wins over its
paired parent run (ties count for neither side), and the verdict of the
gain rule: the change wins at least 9 of every 10 pairs and the medians
differ, in the better direction, by more than the parent's interquartile
range. It also prints the regression check: whether the change's median
is worse than the parent's by more than the metric's bound, and whether
either side's interquartile range is wider than that bound (then the
metric is unresolved rather than unchanged).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    CONTRACT = json.load(f)


def export(rev, dest):
    if os.path.isdir(dest):
        return
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(args):
    work = os.path.abspath(args.work)
    if os.path.commonpath([work, ROOT]) == ROOT:
        sys.exit(f"--work {work} lies inside the checkout {ROOT}")
    copies = {"parent": os.path.join(work, "parent"),
              "change": os.path.join(work, "change")}
    export(args.parent, copies["parent"])
    export(args.change, copies["change"])
    cmd = CONTRACT["command"] + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(CONTRACT["run_seconds"]),
        "--trace", str(args.trace)]
    out = os.path.join(work, "ab.jsonl")
    same = (args.workload, args.seed, args.trace)
    done = [r["pair"] for r in map(json.loads, open(out))
            if (r["workload"], r["seed"], r["trace"]) == same] \
        if os.path.exists(out) else []
    first = max(done, default=0) + 1
    for pair in range(first, first + args.pairs):
        order = ("parent", "change") if pair % 2 else ("change", "parent")
        for side in order:
            p = subprocess.run(cmd, cwd=copies[side], capture_output=True,
                               text=True)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                res = {"error": f"exit {p.returncode}",
                       "stderr_tail": p.stderr[-2000:]}
            rec = dict(side=side, pair=pair, workload=args.workload,
                       seed=args.seed, trace=args.trace, result=res)
            with open(out, "a") as f:
                f.write(json.dumps(rec, sort_keys=True) + "\n")
            m = res.get("metrics", {})
            print(f"pair {pair} {side}: correct={res.get('correct')} "
                  + " ".join(f"{e['name']}={m[e['name']]['value']:.6g}"
                             for e in CONTRACT["end_to_end"]
                             if e["name"] in m),
                  flush=True)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(args):
    runs = defaultdict(dict)  # (workload, seed, pair) -> side -> metrics
    bad = defaultdict(int)
    for line in open(args.file):
        r = json.loads(line)
        if r["trace"]:
            continue
        res = r["result"]
        key = (r["workload"], r["seed"])
        if not res.get("correct") or "metrics" not in res:
            bad[key] += 1
            continue
        runs[key + (r["pair"],)][r["side"]] = res["metrics"]
    for (workload, seed) in sorted({k[:2] for k in runs}):
        pairs = [v for k, v in sorted(runs.items())
                 if k[:2] == (workload, seed) and len(v) == 2]
        print(f"== {workload} seed {seed}: {len(pairs)} complete pairs, "
              f"{bad[(workload, seed)]} incorrect or failed runs")
        print(f"{'metric':30} {'parent q1/med/q3':>28} "
              f"{'change q1/med/q3':>28} {'wins':>7}  verdict")
        for e in CONTRACT["end_to_end"]:
            name, higher = e["name"], e["better"] == "higher"
            both = [(p["parent"][name]["value"], p["change"][name]["value"])
                    for p in pairs
                    if name in p["parent"] and name in p["change"]]
            if not both:
                continue
            ps, cs = [b[0] for b in both], [b[1] for b in both]
            wins = sum((c > p) if higher else (c < p) for p, c in zip(ps, cs))
            losses = sum((c < p) if higher else (c > p)
                         for p, c in zip(ps, cs))
            pq, cq = quartiles(ps), quartiles(cs)
            gain = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
            iqr = pq[2] - pq[0]
            ok = len(ps) >= 10 and wins * 10 >= 9 * len(ps) and gain > iqr
            base = abs(pq[1]) or 1.0
            spread = max(iqr, cq[2] - cq[0]) / base
            regress = ("WORSE than bound" if -gain / base > e["bound"]
                       else "unresolved (spread > bound)"
                       if spread > e["bound"] else "within bound")
            print(f"{name:30} {pq[0]:>9.4g}/{pq[1]:>8.4g}/{pq[2]:<9.4g} "
                  f"{cq[0]:>9.4g}/{cq[1]:>8.4g}/{cq[2]:<9.4g} "
                  f"{wins:>3}-{losses:<3}  "
                  f"{'GAIN' if ok else 'no gain'}, {regress} "
                  f"(median {100 * (cq[1] - pq[1]) / base:+.1f}%, "
                  f"parent IQR {iqr:.4g}, bound {e['bound']:.0%})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--work", required=True)
    r.add_argument("--parent", required=True)
    r.add_argument("--change", default="HEAD")
    r.add_argument("--workload", required=True)
    r.add_argument("--seed", type=int, required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("report")
    p.add_argument("file")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else report(a)


if __name__ == "__main__":
    main()
