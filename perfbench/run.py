#!/usr/bin/env python3
"""Benchmark of the engine's medallion flow (bronze drops → validated silver
→ reads) plus the hot catalog entries, end to end and per layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload daily_drops --seed 1 --seconds 20 --trace 0

The first run builds the engine and the benchmark together with sbt (see
perfbench/build.sbt) into .bench_build/; later runs reuse the build while the
sources are unchanged. Each run starts one JVM that runs one workload as a
closed loop with one client, checks every output against the seeded
generator's expectation, and writes a result file. This script then checks
the catalog entries' results against their DuckDB oracle SQL and prints, as
its last line, one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per layer with --trace 1). Failed ops are listed
by name on the lines before it, and the exit code is then 1.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("daily_drops", "bulk_load")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every build input, so an unchanged tree skips the build."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            old_fp, cp = f.read().split("\n", 1)
        if old_fp == fp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark with sbt")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp)
    return cp


def git_head():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def canon(rows):
    out = []
    for row in rows:
        out.append("|".join("NaN" if isinstance(v, float) and math.isnan(v)
                            else repr(v) if isinstance(v, float) else str(v) for v in row))
    return out


def oracle_failures(oracle, data_dir, out_dir):
    """Hash-compare each catalog entry's result with its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    bad = []
    for name, sql in sorted(oracle.items()):
        res = os.path.join(out_dir, name)
        if not os.path.isdir(res):
            continue  # the timed op already failed and is counted
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{res}/*.parquet')")
            exp = con.sql(sql)
            gc, ec = sorted(got.columns), sorted(exp.columns)
            if gc != ec:
                bad.append(f"{name}: oracle columns {ec} != {gc}")
                continue
            g = canon(con.sql(f"SELECT {', '.join(gc)} FROM got ORDER BY ALL").fetchall())
            e = canon(con.sql(f"SELECT {', '.join(ec)} FROM exp ORDER BY ALL").fetchall())
            if hashlib.sha256("\n".join(g).encode()).digest() != \
                    hashlib.sha256("\n".join(e).encode()).digest():
                bad.append(f"{name}: result differs from the oracle ({len(g)} vs {len(e)} rows)")
        except Exception as ex:  # a broken oracle run is a failed check too
            bad.append(f"{name}: oracle check raised {str(ex)[:200]}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-throw", help="make the first op of this kind throw (self-test)")
    ap.add_argument("--inject-mismatch", help="fail the first check of this kind (self-test)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from the root of a checkout")
        return 2
    cp = build()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    jvm_log = os.path.join(work, "jvm.log")
    # a fixed, pre-touched heap: peak RSS then reads the same heap on every
    # run, plus what the program holds outside it
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", result,
              "--data", os.path.join(HERE, "data"), "--git-head", git_head()])
    if a.inject_throw:
        cmd += ["--inject-throw", a.inject_throw]
    if a.inject_mismatch:
        cmd += ["--inject-mismatch", a.inject_mismatch]
    try:
        with open(jvm_log, "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                    timeout=170).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result):
            with open(jvm_log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            log(f"benchmark JVM failed ({rc})")
            return 1
        with open(result) as f:
            r = json.load(f)
        failed_ops = list(r["failed_ops"])
        attempted, failed = r["attempted"], r["failed"]
        bad = oracle_failures(r["catalog_oracle"], os.path.join(work, "catalog_in"),
                              os.path.join(work, "catalog_out"))
        failed_ops += [f"catalog oracle {b}" for b in bad]
        failed += len(bad)
    finally:
        # keep the last run's result, spans and log; drop its tables
        keep = os.path.join(BUILD, "last", a.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "spans.jsonl", "jvm.log"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), keep)
        shutil.rmtree(work, ignore_errors=True)

    d = r["detail"]
    def tail(t):
        return f"p{t['percentile']:.1f} of n={t['n']}" if t["percentile"] else f"n={t['n']}"
    log(f"{a.workload} seed={a.seed}: {d['cycles']} cycles in {d['loop_s']:.1f} s; "
        f"read tail {tail(d['read_tail'])}; drop tail {tail(d['drop_tail'])}; "
        f"env {json.dumps(r['env'])}")
    log(f"setup phases {json.dumps(d['setup_phases'])}")
    if a.trace:
        log("self time shares " + json.dumps(
            {k: round(v["value"], 4) for k, v in r["metrics"].items()
             if k.startswith(("self.", "trace."))}))
    for name in failed_ops:
        print(f"FAILED {name}")
    print(json.dumps({"correct": not failed_ops, "attempted": attempted, "failed": failed,
                      "metrics": r["metrics"]}))
    return 1 if failed_ops else 0


if __name__ == "__main__":
    sys.exit(main())
