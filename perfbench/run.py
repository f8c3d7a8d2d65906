#!/usr/bin/env python3
"""The graft benchmark: run one workload once and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The program and the benchmark's
code are compiled on first use (see build.py); one JVM then runs the
workload on local[N] (N = min(4, cores)): set-up, whole rounds until
--seconds have passed, then the output checks. The analytics query
results are compared with their DuckDB oracle SQL here, after the JVM
exits. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The line before it is a report stamped with seed, cores, heap, Spark
version and operation counts; it is also written to
.bench_build/perfbench/reports/.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["tabular", "curate"]
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, args):
    bench = os.path.dirname(os.path.abspath(__file__))
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(bench, 'log4j2.properties')}",
        "-Dspark.callstack.depth=400",
        "-Duser.timezone=UTC",
    ]
    return ["java"] + opts + ["-cp", classpath, "perfbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--work", work]


def canon(df):
    df = df[sorted(df.columns)]
    s = df.astype(str)
    return s.sort_values(by=list(s.columns)).reset_index(drop=True)


def oracle_problems(out_dir):
    """Compare each analytics result with its oracle SQL run by DuckDB,
    canonically (columns sorted, values as strings, rows sorted)."""
    import duckdb
    import pandas as pd
    spec = json.load(open(os.path.join(out_dir, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ["region", "nation", "customer", "orders", "lineitem", "events"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['tables']}/{t}.parquet/*.parquet')")
    problems = []
    for name, sql in sorted(spec["oracle_sql"].items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            problems.append(f"analytics: {name} wrote no result")
            continue
        a = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        b = canon(con.execute(sql).df())
        if list(a.columns) != list(b.columns) or len(a) != len(b) or not a.equals(b):
            problems.append(f"analytics: {name} differs from its oracle "
                            f"({len(a)} vs {len(b)} rows, columns {list(a.columns)} vs {list(b.columns)})")
    return problems


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"[perfbench] build failed: {e}\n")
        return 2

    work = os.path.abspath(os.path.join(
        build.OUT_ROOT, "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        proc = subprocess.Popen(jvm_command(classpath, work, args), stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s; stopped\n")
            return 1
        lines = out.splitlines()
        report = next((json.loads(x.split(" ", 1)[1]) for x in reversed(lines)
                       if x.startswith("PERFBENCH_REPORT ")), None)
        result = next((json.loads(x.split(" ", 1)[1]) for x in reversed(lines)
                       if x.startswith("PERFBENCH_RESULT ")), None)
        if proc.returncode != 0 or report is None or result is None:
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            sys.stderr.write(f"[perfbench] JVM exited with {proc.returncode} and no result\n")
            return 1
        if args.workload == "tabular":
            extra = oracle_problems(os.path.join(work, "oracle_out"))
            report["problems"] = report["problems"] + extra
            result["correct"] = result["correct"] and not extra
        for p in report["problems"]:
            sys.stderr.write(f"[perfbench] check failed: {p}\n")
        reports = os.path.join(build.OUT_ROOT, "reports")
        os.makedirs(reports, exist_ok=True)
        name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
        if os.path.exists(os.path.join(work, "trace.json")):
            shutil.move(os.path.join(work, "trace.json"), os.path.join(reports, name + "-trace.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report["correct"] = result["correct"]
    with open(os.path.join(reports, name + ".json"), "w") as fh:
        json.dump({"report": report, "result": result}, fh, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
