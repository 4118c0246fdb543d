#!/usr/bin/env python3
"""Compare two checkouts on one perfbench workload over interleaved pairs.

Usage:
    python3 tools/ab_pairs.py --parent DIR --change DIR --workload W \
        --seeds 1-10 [--seconds 14] [--trace 0|1] [--out FILE]

For every seed it runs `python3 perfbench/run.py` once in each checkout,
one after the other; the side that goes first alternates from seed to seed,
so a drift in host load falls on both sides alike. Each run's last stdout
line is its JSON result. Then it prints, per metric of the change's
BENCHMARK.json (`end_to_end`, or `per_layer` with --trace 1): the median and
interquartile range (q3 - q1) of each side, the change's delta of medians in
%, and in how many pairs the change was better (by the metric's `better`
direction; equal values are counted apart).
Each side's median steal, other processes' busy share and own CPU
utilization (perfbench's `telemetry:` line) close the table. --out writes
every run as one JSON line. Standard library only; perfbench/ is only run.
Runs take about a minute each: 10 seeds are about 20 minutes.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

TELEMETRY = re.compile(r"telemetry: steal=([\d.]+) other_busy=([\d.]+) own_util=([\d.]+)")


def seeds(spec):
    """'1-10' or '1,4,7' (or a mix) as a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def iqr(xs):
    """q3 - q1 of `xs` (0 for fewer than two values)."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def run(checkout, a, seed):
    """One perfbench run: (metrics or None, telemetry tuple or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        print(f"  {checkout} seed {seed}: no result (exit {p.returncode})\n"
              + p.stderr[-2000:], file=sys.stderr)
        return None, None
    if not res.get("correct", False) or p.returncode != 0:
        print(f"  {checkout} seed {seed}: correct={res.get('correct')} failed={res.get('failed')}",
              file=sys.stderr)
    tel = TELEMETRY.search(p.stdout + p.stderr)
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    return metrics, tuple(float(x) for x in tel.groups()) if tel else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    got = {"parent": [], "change": []}      # per seed: metrics dict or None
    tel = {"parent": [], "change": []}
    out = open(a.out, "w") if a.out else None
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            m, t = run(sides[side], a, seed)
            got[side].append(m)
            if t:
                tel[side].append(t)
            if out:
                out.write(json.dumps({"side": side, "seed": seed, "first": order[0],
                                      "metrics": m, "telemetry": t}) + "\n")
                out.flush()
            print(f"seed {seed} {side}: {'ok' if m else 'FAILED'}"
                  + (f" steal={t[0]:.4f}" if t else ""), file=sys.stderr)

    pairs = [(p, c) for p, c in zip(got["parent"], got["change"]) if p and c]
    print(f"{a.workload}: {len(pairs)} pairs, trace={a.trace}")
    print(f"{'metric':42} {'parent':>11} {'iqr':>9} {'change':>11} {'iqr':>9} {'delta':>8}"
          f" {'won':>6} {'tied':>5}")
    for m in wanted:
        name, lower = m["name"], m["better"] == "lower"
        vals = [(p[name], c[name]) for p, c in pairs if name in p and name in c]
        if not vals:
            continue
        ps, cs = [v[0] for v in vals], [v[1] for v in vals]
        mp, mc = statistics.median(ps), statistics.median(cs)
        delta = (mc - mp) / mp * 100 if mp else float("nan")
        won = sum(1 for p, c in vals if (c < p if lower else c > p))
        tied = sum(1 for p, c in vals if c == p)
        print(f"{name:42} {mp:11.5g} {iqr(ps):9.3g} {mc:11.5g} {iqr(cs):9.3g} {delta:+7.1f}%"
              f" {won:3}/{len(vals):<2} {tied:5}")
    for side in ("parent", "change"):
        if tel[side]:
            s, o, u = (statistics.median(t[k] for t in tel[side]) for k in range(3))
            print(f"{side} telemetry (median of {len(tel[side])}): steal={s:.4f} "
                  f"other_busy={o:.4f} own_util={u:.4f}; max steal "
                  f"{max(t[0] for t in tel[side]):.4f}")


if __name__ == "__main__":
    main()
