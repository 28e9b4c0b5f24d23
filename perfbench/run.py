#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the harness from source, runs
one workload, checks its outputs and prints one JSON result as the last line.

Run from the repository root:

    python3 perfbench/run.py --workload tdb_read --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("tdb_read", "query_mix")
# A seed held out from tuning, for re-checking a later claim on fresh inputs.
HOLDOUT_SEED = 90210
# Seconds the workload process may take once the build is done.
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, log_path, timeout):
    """Run cmd in its own process group, logging to log_path; kill the whole
    group on timeout and wait for it. Returns the exit code (None on
    timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_fingerprint(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench", "build.sbt")]
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirnames, names in os.walk(os.path.join(root, base)):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, bench):
    """Compile the engine and the harness with sbt once per source state;
    returns the runtime classpath."""
    target = os.path.join(bench, "target")
    os.makedirs(target, exist_ok=True)
    stamp = os.path.join(target, "perfbench-classpath.json")
    fp = source_fingerprint(root)
    try:
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log = os.path.join(target, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], bench, log, 850)
    lines = [l.strip() for l in open(log, errors="replace") if l.strip()]
    cp = next((l for l in reversed(lines)
               if "perfbench" in l and "classes" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        die(f"build failed (exit {rc}):\n{tail(log)}", 3)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def oracle_check(oracle):
    """Compare every query_mix row's output with its oracle SQL in DuckDB,
    canonicalized like tools/local_verify.py: columns sorted by name,
    values compared as strings, row for row. Returns the failures."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    events = os.path.join(oracle["events"], "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
    failures = []
    for row in oracle["rows"]:
        try:
            parts = sorted(glob.glob(os.path.join(row["out"], "*.parquet")))
            got = pd.concat([pd.read_parquet(p) for p in parts])
            got = got[sorted(got.columns)].reset_index(drop=True)
            want = con.execute(row["sql"]).df()
            want = want[sorted(want.columns)].reset_index(drop=True)
            if list(got.columns) != list(want.columns):
                failures.append(f"oracle {row['name']}: columns {list(got.columns)} "
                                f"vs {list(want.columns)}")
            elif got.astype(str).values.tolist() != want.astype(str).values.tolist():
                failures.append(f"oracle {row['name']}: {len(got)} rows differ from "
                                f"the oracle's {len(want)}")
        except Exception as e:  # a broken row is a failed check, not a crash
            failures.append(f"oracle {row['name']}: {type(e).__name__}: {e}")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        die(f"run from the repository root (BENCHMARK.json: {e})")
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"the engine's sources are missing ({need}); nothing to benchmark")

    classpath = build(root, bench)
    started = time.time()

    work = os.path.join(bench, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out])
    budget = JVM_TIMEOUT_S - (time.time() - started)
    log = os.path.join(work, "jvm.log")
    rc = run_group(cmd, root, log, max(30, budget))
    if rc != 0 or not os.path.exists(out):
        die(f"workload process exited with {rc}:\n{tail(log)}", 4)
    with open(out) as f:
        res = json.load(f)

    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if res.get("oracle"):
        bad = oracle_check(res["oracle"])
        attempted += len(res["oracle"]["rows"])
        failed += len(bad)
        failures += bad
    # wrong results count as failed ops, oracle mismatches included
    fail_ratio = failed / attempted

    e2e_names = [m["name"] for m in spec["end_to_end"]]
    layer_names = [m["name"] for m in spec["per_layer"]]
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    declared = layer_names if args.trace else e2e_names
    if sorted(metrics) != sorted(declared):
        die(f"metrics {sorted(set(metrics) ^ set(declared))} do not match BENCHMARK.json", 5)
    if res["unmeasured"]:
        die(f"metrics the workload measures came out empty: {res['unmeasured']}", 5)
    why = {w["name"]: w["why"] for w in spec["workloads"]}.get(args.workload, "")

    env = dict(res["env"], git_commit=git_commit(root), seed=args.seed,
               holdout_seed=HOLDOUT_SEED, why=why)
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"rounds={res['rounds']} samples={json.dumps(res['samples'])}")
    print(f"# env {json.dumps(env, sort_keys=True)}")
    print(f"# timings_s {json.dumps(res['timings_s'])}")
    for group in ("end_to_end", "figures"):
        for name, m in sorted(res[group].items()):
            print(f"{name} {m['value']} {m['unit']}")
    print(f"fail_ratio {fail_ratio} ratio")
    if failures:
        print(f"# {failed} of {attempted} ops failed:")
        for f_ in failures:
            print(f"#   {f_}")
    correct = failed == 0 and not failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
