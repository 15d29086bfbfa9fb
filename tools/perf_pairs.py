#!/usr/bin/env python3
"""Paired perfbench runs of two checkouts (parent and change).

Usage:
  python3 tools/perf_pairs.py --parent DIR --change DIR \\
      --workload daily_drops --seeds 1-8 [--seconds 16] [--phases]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, alternating which side runs
first (even pair index: parent first). perfbench is only called, never
edited; each checkout builds and runs its own copy. Prints one line per
run, then per end-to-end metric each side's median and quartiles, the
change/parent ratio of the medians and the pairs the change won, with the
direction and bound taken from the change checkout's BENCHMARK.json. The
last line is the same summary as one JSON object. Exits 1 when any run
reports failed > 0, is not correct, or prints no result.

--phases: with SPARK_GRAFT_TIMING=1 set in the environment (the runs
inherit it), the engine prints `[timing] <sec> s  <label>` lines; after
each run they are read from the checkout's
.bench_build/last/<workload>/jvm.log, and each label's per-run total is
summarized per side (median over runs), so a gain can be named by the
phase that moved. A label's table path is cut to its last two components
(silver/orders) and its `dirs=<read>/<live>` token is summed separately;
a `v=<n>` token (the version a commit claimed) is dropped, so every
commit of a table shares one key per `attempts=<k>` (retries show as k > 1).
"""
import argparse
import json
import os
import re
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


TIMING = re.compile(r"^\[timing\]\s+([0-9.]+) s\s+(.+)$")
DIRS = re.compile(r"^dirs=(\d+)/(\d+)$")
VERSION = re.compile(r"^v=\d+$")


def phase_key(label):
    """'migrate-probe /w/runs/x/silver/orders dirs=0/7' ->
    ('migrate-probe silver/orders', (0, 7)); dirs is None without a token."""
    words, dirs = [], None
    for w in label.split():
        m = DIRS.match(w)
        if VERSION.match(w):
            continue
        if m:
            dirs = (int(m.group(1)), int(m.group(2)))
        else:
            words.append("/".join(w.rstrip("/").split("/")[-2:]) if "/" in w else w)
    return " ".join(words), dirs


def read_phases(text):
    """One run's log text -> {key: {"s", "n", "read", "live"}}: seconds and
    lines per phase key, plus the summed dirs tokens (None when absent)."""
    out = {}
    for line in text.splitlines():
        m = TIMING.match(line.strip())
        if not m:
            continue
        key, dirs = phase_key(m.group(2))
        e = out.setdefault(key, {"s": 0.0, "n": 0, "read": None, "live": None})
        e["s"] += float(m.group(1))
        e["n"] += 1
        if dirs:
            e["read"] = (e["read"] or 0) + dirs[0]
            e["live"] = (e["live"] or 0) + dirs[1]
    return out


def summarize_phases(runs):
    """runs: [(parent_phases, change_phases)] from read_phases. Returns one
    row per key seen in any run; a key a run lacks counts as 0 s there."""
    keys = sorted({k for pair in runs for side in pair for k in side})
    rows = []
    for k in keys:
        row = {"phase": k}
        for i, side in enumerate(("parent", "change")):
            es = [pair[i].get(k, {"s": 0.0, "n": 0, "read": None, "live": None})
                  for pair in runs]
            row[side + "_s"] = statistics.median(e["s"] for e in es)
            row[side + "_n"] = statistics.median(e["n"] for e in es)
            reads = [e["read"] for e in es if e["read"] is not None]
            row[side + "_dirs"] = (
                (statistics.median(reads),
                 statistics.median(e["live"] for e in es if e["live"] is not None))
                if reads else None)
        rows.append(row)
    return rows


def last_log(checkout, workload):
    p = os.path.join(checkout, ".bench_build", "last", workload, "jvm.log")
    try:
        with open(p) as f:
            return f.read()
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-8 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--phases", action="store_true",
                    help="summarize [timing] phases (runs need SPARK_GRAFT_TIMING=1)")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    pairs, bad, phases = [], [], []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got, timed = {}, {}
        for side, checkout in order:
            r = run_once(checkout, a.workload, seed, a.seconds)
            got[side] = r
            if a.phases:
                timed[side] = read_phases(last_log(checkout, a.workload))
            if r is None or r.get("failed", 1) > 0 or not r.get("correct"):
                bad.append(f"{side} seed={seed}")
            vals = " ".join(f"{k}={v['value']:.4g}"
                            for k, v in (r or {}).get("metrics", {}).items())
            print(f"[pair {i + 1}] seed={seed} {side}: "
                  f"failed={(r or {}).get('failed')} {vals}", flush=True)
        if got["parent"] and got["change"]:
            pairs.append((seed, got["parent"], got["change"]))
            if a.phases:
                phases.append((timed["parent"], timed["change"]))

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
    prows = summarize_phases(phases) if phases else []
    if a.phases:
        if not prows:
            print("phases: no [timing] lines in the runs' jvm.log — "
                  "set SPARK_GRAFT_TIMING=1")
        else:
            print("phases: per-run total s, median over runs, parent -> change "
                  "(lines per run; dirs = summed read/live)")

        def dirs(d):
            return f" dirs {d[0]:g}/{d[1]:g}" if d else ""
        for r in prows:
            print(f"  {r['phase']:<40} {r['parent_s']:.3f} (n={r['parent_n']:g}"
                  f"{dirs(r['parent_dirs'])}) -> {r['change_s']:.3f} "
                  f"(n={r['change_n']:g}{dirs(r['change_dirs'])})")
    if bad:
        print("failed runs: " + ", ".join(bad))
    out = {"workload": a.workload, "pairs": len(pairs),
           "failed_runs": bad, "metrics": rows}
    if a.phases:
        out["phases"] = prows
    print(json.dumps(out))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
