#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts (parent and change).

Usage:
  python3 tools/perf_pairs.py --parent DIR --change DIR \\
      --workload daily_drops --seeds 1-8 [--seconds 16]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, alternating which side runs
first (even pair index: parent first). perfbench is only called, never
edited; each checkout builds and runs its own copy. Prints one line per
run, then per end-to-end metric each side's median and quartiles, the
change/parent ratio of the medians and the pairs the change won, with the
direction and bound taken from the change checkout's BENCHMARK.json. The
last line is the same summary as one JSON object. Exits 1 when any run
reports failed > 0, is not correct, or prints no result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    """'1-8' or '1,3,5' or '2-4,9' -> list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its result object, or None when it
    printed no result line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, spec):
    """pairs: [(seed, parent_result, change_result)]; spec: metric name ->
    {"better": "lower"|"higher", "bound": float}. Returns one dict per
    metric present in every run."""
    names = [n for n in spec
             if all(n in r["metrics"] for _, a, b in pairs for r in (a, b))]
    rows = []
    for n in names:
        par = [a["metrics"][n]["value"] for _, a, _ in pairs]
        chg = [b["metrics"][n]["value"] for _, _, b in pairs]
        lower = spec[n]["better"] == "lower"
        wins = sum(1 for x, y in zip(par, chg) if (y < x if lower else y > x))
        mp, mc = statistics.median(par), statistics.median(chg)
        rows.append({
            "metric": n, "better": spec[n]["better"], "bound": spec[n]["bound"],
            "parent_median": mp, "parent_iqr": quartiles(par),
            "change_median": mc, "change_iqr": quartiles(chg),
            "ratio": mc / mp if mp else None,
            "change_wins": wins, "pairs": len(pairs)})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-8 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=16)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    pairs, bad = [], []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            r = run_once(checkout, a.workload, seed, a.seconds)
            got[side] = r
            if r is None or r.get("failed", 1) > 0 or not r.get("correct"):
                bad.append(f"{side} seed={seed}")
            vals = " ".join(f"{k}={v['value']:.4g}"
                            for k, v in (r or {}).get("metrics", {}).items())
            print(f"[pair {i + 1}] seed={seed} {side}: "
                  f"failed={(r or {}).get('failed')} {vals}", flush=True)
        if got["parent"] and got["change"]:
            pairs.append((seed, got["parent"], got["change"]))

    rows = summarize(pairs, spec) if pairs else []
    print(f"{a.workload}: {len(pairs)} pairs, parent -> change "
          "(median [q1-q3]; ratio = change/parent; wins = pairs the change won)")
    for r in rows:
        print(f"  {r['metric']:<18} {r['parent_median']:.4g} "
              f"[{r['parent_iqr'][0]:.4g}-{r['parent_iqr'][1]:.4g}] -> "
              f"{r['change_median']:.4g} "
              f"[{r['change_iqr'][0]:.4g}-{r['change_iqr'][1]:.4g}]  "
              f"ratio {r['ratio']:.3f}  wins {r['change_wins']}/{r['pairs']}  "
              f"({r['better']} is better, bound {r['bound']})")
    if bad:
        print("failed runs: " + ", ".join(bad))
    print(json.dumps({"workload": a.workload, "pairs": len(pairs),
                      "failed_runs": bad, "metrics": rows}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
