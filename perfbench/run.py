#!/usr/bin/env python3
"""graft benchmark: PipelineMain through its exactly-once sinks, and the
query library, on seeded inputs.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: pipeline, query_mix (see
perfbench/DESIGN.md). The first run builds the engine and the harness
with sbt into .bench_build/ (later runs reuse the build while the
sources are unchanged). Each run prints its full record, then as its
last line one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")
WORKLOADS = ["pipeline", "query_mix"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# the module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout."""
    files = []
    for base in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src"]:
        p = os.path.join(ROOT, base)
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it either way. Returns (returncode or None, elapsed)."""
    t0 = time.time()
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, time.time() - t0
    finally:
        try:  # leftovers of a finished group (e.g. forked helpers)
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, time.time() - t0


def build():
    stamp = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_TMPDIR"] = os.path.join(BUILD, "tmp")  # read by the root build.sbt
    os.makedirs(env["SPARK_GRAFT_TMPDIR"], exist_ok=True)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's global settings and server files under the checkout, not $HOME
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}").strip()
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building engine and harness (sbt)", file=sys.stderr)
    with open(log, "w") as out:
        rc, secs = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed (rc={rc}, {secs:.0f}s)", 1)
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: build done in {secs:.0f}s", file=sys.stderr)


def java_cmd(args, work, result):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-Xms3g", "-Xmx3g", *opens, f"-Djava.io.tmpdir={tmp}",
            "-Duser.language=en", "-Duser.country=US", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(work, "data"), "--result", result]


def canon(df):
    """Columns by name, rows by value: tools/oracle_check.py's canonical form."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_compare(spec):
    """tools/oracle_check.py's exact compare of each query's Spark output
    against its DuckDB oracle over the same tables; queries without an
    oracle must return rows. Returns (attempted, failures)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    sf, out = spec["sf_dir"], spec["out_dir"]
    for name in sorted(os.listdir(sf)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{sf}/{name}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for q in spec["queries"]:
        try:
            got = pd.read_parquet(os.path.join(out, q))
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            failures.append(f"{q}: no output ({e})")
            continue
        if q not in oracle:
            if len(got) == 0:
                failures.append(f"{q}: no rows")
            continue
        try:
            g, x = canon(got), canon(con.execute(oracle[q]).fetchdf())
        except Exception as e:  # noqa: BLE001
            failures.append(f"{q}: oracle error {e}")
            continue
        if list(g.columns) != list(x.columns) or len(g) != len(x):
            failures.append(f"{q}: shape {list(g.columns)}x{len(g)} vs {list(x.columns)}x{len(x)}")
            continue
        for c in g.columns:
            a, b = g[c], x[c]
            try:
                bad = ~((a == b) | (a.isna() & b.isna()))
            except Exception:  # noqa: BLE001
                bad = pd.Series([True] * len(a))
            if bad.any():
                failures.append(f"{q}: column {c} differs in {int(bad.sum())} rows")
                break
    return len(spec["queries"]), failures


def expected_metrics(trace):
    """name -> unit of the metrics BENCHMARK.json lists for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft/PipelineMain.scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    build()

    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    env = dict(os.environ)
    cpus = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_CPUS"] = cpus
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    env.pop("SPARK_GRAFT_TMPDIR", None)
    log = os.path.join(work, "java.log")
    with open(log, "w") as out:
        rc, secs = run_bounded(java_cmd(args, work, result_file), RUN_TIMEOUT_S, cwd=ROOT,
                               env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(result_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"run failed (rc={rc}, {secs:.0f}s); log kept at {log}", 1)
    with open(result_file) as f:
        res = json.load(f)
    record = res["record"]

    spec = record["samples"].get("oracle_check")
    if spec is not None:
        n, failures = oracle_compare(spec)
        res["attempted"] += n
        res["failed"] += len(failures)
        record["failures"] += failures
        res["correct"] = res["failed"] == 0

    want = expected_metrics(args.trace == 1)
    if want is not None:
        bad = [m for m, unit in want.items()
               if res["metrics"].get(m, {}).get("unit") != unit
               or not isinstance(res["metrics"][m].get("value"), (int, float))]
        if bad:
            die(f"harness did not produce metrics {bad} as numbers in BENCHMARK.json's units", 1)
        res["metrics"] = {m: res["metrics"][m] for m in want}

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace == 1:
        shutil.copy(record["span_file"], stem + "-spans.json")
        record["span_file"] = stem + "-spans.json"
    record["wall_s"] = round(secs, 3)
    with open(stem + ".json", "w") as f:
        json.dump(res, f, indent=1)
    shutil.copy(log, stem + ".log")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": record}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
