#!/usr/bin/env python3
"""Run the benchmark alternately in two checkouts and compare them pair by
pair.

Pair i runs `benchmark/run.py --workload W --seed S --seconds T` once in
each checkout, with seed S the i-th of `--seeds`; even pairs run the
parent first, odd pairs the change. Each finished run is appended to a
ledger (one JSON object a line: side, seed, pair, exit code, report path),
so an interrupted series keeps its runs and `--ledger L --analyze` reports
a series again without running anything.

For each gated metric of the change's `BENCHMARK.json` it prints both
sides' medians, the parent's interquartile range as a share of its median
next to the metric's bound, and how many pairs the change won (ties count
for neither side). Below that it prints each op's median latency per side
from the runs' `raw.json`, pass 1 (cold) apart from later passes (warm).
It reads only what runs write and changes nothing in either checkout.

Usage:
  python3 tools/ab_pairs.py --parent DIR --change DIR --workload W \\
      --seeds 201-210 [--seconds 24] --ledger FILE
  python3 tools/ab_pairs.py --ledger FILE --analyze [--bounds BENCHMARK.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(text):
    """`201-210` or `1,5,9` (or both, comma-separated) as a list."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    """One untraced run; (exit code, report path or None)."""
    r = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    report = None
    for line in r.stdout.splitlines():
        if line.startswith("{") and '"run_dir"' in line:
            report = os.path.join(json.loads(line)["run_dir"], "report.json")
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
    return r.returncode, report


def run_series(a):
    # a series appended to a ledger numbers its pairs after the ledger's
    start = len({e["pair"] for e in load(a.ledger) if e["workload"] == a.workload}
                ) if os.path.exists(a.ledger) else 0
    for i, seed in enumerate(seeds_of(a.seeds), start):
        sides = [("parent", a.parent), ("change", a.change)]
        for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
            code, report = run_once(checkout, a.workload, seed, a.seconds)
            entry = {"side": side, "seed": seed, "pair": i,
                     "workload": a.workload, "exit": code, "report": report}
            with open(a.ledger, "a") as f:
                f.write(json.dumps(entry) + "\n")
            print(f"pair {i} seed {seed} {side}: exit {code}", file=sys.stderr)


def load(ledger):
    with open(ledger) as f:
        return [json.loads(line) for line in f if line.strip()]


def iqr_share(values):
    """Interquartile range over the median (linear interpolation)."""
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def pairs_of(entries, workload):
    """{pair: {side: report dict}} of one workload, only pairs where both
    sides ran."""
    by = {}
    for e in entries:
        if (e["workload"] == workload and e["exit"] == 0 and e["report"]
                and os.path.exists(e["report"])):
            with open(e["report"]) as f:
                by.setdefault(e["pair"], {})[e["side"]] = json.load(f)
    return {p: s for p, s in sorted(by.items()) if len(s) == 2}


def metric_rows(pairs, bounds):
    """One row per gated metric: medians, parent IQR share, bound, wins."""
    rows = []
    for m in bounds:
        vals = [(s["parent"]["metrics"].get(m["name"], {}).get("value"),
                 s["change"]["metrics"].get(m["name"], {}).get("value"))
                for s in pairs.values()]
        vals = [(p, c) for p, c in vals if p is not None and c is not None]
        if not vals:
            continue
        par = [p for p, _ in vals]
        chg = [c for _, c in vals]
        sign = 1 if m["better"] == "higher" else -1
        wins = sum(1 for p, c in vals if sign * (c - p) > 0)
        rows.append({"metric": m["name"], "parent": statistics.median(par),
                     "change": statistics.median(chg),
                     "parent_iqr": iqr_share(par), "bound": m["bound"],
                     "wins": wins, "pairs": len(vals)})
    return rows


def op_rows(pairs):
    """{op: {(side, "cold"|"warm"): [latency_ms]}} from each run's raw.json."""
    ops = {}
    for sides in pairs.values():
        for side, report in sides.items():
            raw = os.path.join(report["run_dir"], "raw.json")
            if not os.path.exists(raw):
                continue
            with open(raw) as f:
                for o in json.load(f)["ops"]:
                    if o["status"] == "ok":
                        phase = "cold" if o["pass"] == 1 else "warm"
                        ops.setdefault(o["name"], {}).setdefault(
                            (side, phase), []).append(o["latency_ms"])
    return ops


def render(workload, pairs, bounds):
    lines = [f"{workload}: {len(pairs)} complete pairs",
             f"{'metric':<16} {'parent':>10} {'change':>10} {'delta':>8} "
             f"{'parent IQR':>10} {'bound':>6} {'wins':>7}"]
    for r in metric_rows(pairs, bounds):
        delta = (r["change"] - r["parent"]) / r["parent"] if r["parent"] else 0.0
        lines.append(f"{r['metric']:<16} {r['parent']:>10.4g} {r['change']:>10.4g} "
                     f"{delta:>+8.1%} {r['parent_iqr']:>10.1%} {r['bound']:>6.0%} "
                     f"{r['wins']:>3}/{r['pairs']:<3}")
    ops = op_rows(pairs)
    if ops:
        lines.append("")
        lines.append(f"{'op median ms':<32} {'parent cold':>11} {'change cold':>11} "
                     f"{'parent warm':>11} {'change warm':>11}")
        for name in sorted(ops):
            cells = []
            for key in (("parent", "cold"), ("change", "cold"),
                        ("parent", "warm"), ("change", "warm")):
                v = ops[name].get(key)
                cells.append(f"{statistics.median(v):>8.0f} ({len(v)})" if v
                             else f"{'-':>11}")
            lines.append(f"{name:<32} " + " ".join(f"{c:>11}" for c in cells))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--analyze", action="store_true",
                    help="report the ledger's runs without running any")
    ap.add_argument("--bounds", help="BENCHMARK.json (default: the change's)")
    a = ap.parse_args(argv)
    if not a.analyze:
        if not (a.parent and a.change and a.workload and a.seeds):
            ap.error("--parent, --change, --workload and --seeds are needed to run")
        run_series(a)
    bounds_path = a.bounds or os.path.join(a.change or ".", "BENCHMARK.json")
    with open(bounds_path) as f:
        bounds = json.load(f)["end_to_end"]
    entries = load(a.ledger)
    for w in sorted({e["workload"] for e in entries}):
        print(render(w, pairs_of(entries, w), bounds))
    return 0


if __name__ == "__main__":
    sys.exit(main())
