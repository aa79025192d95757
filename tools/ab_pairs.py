#!/usr/bin/env python3
"""Paired A/B runs of the benchmark in two checkouts, with a verdict per metric.

    python3 tools/ab_pairs.py --parent ../parent --change . \
        --workload cdc_to_table --pairs 10 --seed-base 100 --out ab.jsonl

Pair i (from 0) runs `python3 perfbench/run.py --workload W --seed
<seed-base + i> --seconds S --trace T` once in each checkout, the parent
first on even pairs and the change first on odd ones, and appends one
JSON line per run to --out. Then, for each end-to-end metric of BENCHMARK.json, it prints
each side's median and quartiles, the pairs the change won (ties count
for neither) and a verdict:

  gain           at least 10 pairs, the change wins at least 9/10 of them
                 and its median beats the parent's by more than the
                 parent's Q3 - Q1
  regression     the change's median is worse than the parent's by more
                 than the metric's bound (a fraction of the parent median)
  no regression  neither, and either every change run beats every parent
                 run or both sides spread ((Q3 - Q1) / median) within the bound
  unresolved     otherwise: the runs spread wider than the bound

With `--trace 1` the runs report the per-layer metrics of BENCHMARK.json
instead, and the table lists each of them with quartiles and pairs won but
no verdict: per-layer metrics have no bound. That table shows the layer a
change moved.

`--summarize FILE` prints the tables for an existing JSONL file without
running anything: one per workload and trace setting.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

GAIN_MIN_PAIRS = 10
GAIN_WIN_SHARE = 0.9


def quartiles(values):
    """(Q1, median, Q3) by the inclusive method (Q1 = Q3 = the value for one run)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def pairs_won(parent, change, better):
    """Pairs in which the change beats the parent (ties count for neither)."""
    sign = 1 if better == "higher" else -1
    return sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)


def verdict(parent, change, better, bound):
    """Verdict for one metric from its paired runs (parent[i] and change[i]
    come from pair i). `better` is "higher" or "lower"; `bound` is the
    largest allowed worsening as a fraction of the parent's median."""
    sign = 1 if better == "higher" else -1
    wins = pairs_won(parent, change, better)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    if len(parent) >= GAIN_MIN_PAIRS and wins >= GAIN_WIN_SHARE * len(parent) \
            and sign * (cm - pm) > p3 - p1:
        return "gain", wins
    if sign * (cm - pm) < -bound * abs(pm):
        return "regression", wins
    if all(sign * (c - p) > 0 for c in change for p in parent):
        return "no regression", wins
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    return ("unresolved" if spread > bound else "no regression"), wins


def summarize(lines, metrics):
    """Table rows, one per metric, from the JSONL records. A metric with a
    `bound` (end-to-end) gets a verdict; one without (per-layer) gets
    verdict None. A metric some paired run did not report, or every metric
    when no seed ran on both sides, is left out."""
    runs = {"parent": {}, "change": {}}
    for r in lines:
        runs[r["side"]][r["seed"]] = r
    seeds = sorted(set(runs["parent"]) & set(runs["change"]))
    rows = []
    for m in metrics:
        if not seeds or any(m["name"] not in runs[side][i]["result"]["metrics"]
                            for side in runs for i in seeds):
            continue
        p = [runs["parent"][i]["result"]["metrics"][m["name"]]["value"] for i in seeds]
        c = [runs["change"][i]["result"]["metrics"][m["name"]]["value"] for i in seeds]
        if "bound" in m:
            v, wins = verdict(p, c, m["better"], m["bound"])
        else:
            v, wins = None, pairs_won(p, c, m["better"])
        rows.append({"metric": m["name"], "unit": m["unit"], "pairs": len(seeds),
                     "parent": quartiles(p), "change": quartiles(c),
                     "wins": wins, "verdict": v})
    failed = {side: sum(1 for r in runs[side].values()
                        if not r["result"].get("correct") or r["result"].get("failed"))
              for side in runs}
    return rows, failed


def print_table(rows, failed, out=None):
    out = out or sys.stdout
    fmt = lambda q: " / ".join(f"{x:,.1f}" for x in q)  # noqa: E731
    wm = max([16] + [len(r["metric"]) for r in rows])
    wq = max([30] + [len(fmt(r[side])) for r in rows for side in ("parent", "change")])
    print(f"{'metric':<{wm}} {'parent Q1 / median / Q3':>{wq}} "
          f"{'change Q1 / median / Q3':>{wq}} {'won':>6}  verdict", file=out)
    for r in rows:
        print(f"{r['metric']:<{wm}} {fmt(r['parent']):>{wq}} {fmt(r['change']):>{wq}} "
              f"{r['wins']:>2}/{r['pairs']:<3}  {r['verdict'] or '-'}", file=out)
    print(f"runs not correct or with failures: parent {failed['parent']}, "
          f"change {failed['change']}", file=out)


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab_pairs: run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--summarize", metavar="FILE")
    a = ap.parse_args(argv)

    bench_dir = a.change or os.getcwd()
    with open(os.path.join(bench_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)

    if a.summarize:
        with open(a.summarize) as f:
            records = [json.loads(ln) for ln in f if ln.strip()]
    else:
        if not (a.parent and a.change and a.workload and a.out):
            ap.error("--parent, --change, --workload and --out are required to run pairs")
        sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
        records = []
        with open(a.out, "a") as out:
            for i in range(a.pairs):
                seed = a.seed_base + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for rank, side in enumerate(order):
                    result = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
                    rec = {"workload": a.workload, "pair": i, "seed": seed, "side": side,
                           "first": rank == 0, "seconds": a.seconds, "trace": a.trace,
                           "result": result}
                    records.append(rec)
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {i} seed {seed} {side}: " + ", ".join(
                        f"{k}={v['value']:.1f}" for k, v in result["metrics"].items()),
                        file=sys.stderr)
    # records written before --trace existed are untraced
    for w, t in sorted({(r["workload"], r.get("trace", 0)) for r in records}):
        print(f"workload {w}" + (" (traced: per-layer metrics, no verdict)" if t else ""))
        group = [r for r in records if r["workload"] == w and r.get("trace", 0) == t]
        print_table(*summarize(group, bench["per_layer" if t else "end_to_end"]))


if __name__ == "__main__":
    main()
