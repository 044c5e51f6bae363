#!/usr/bin/env python3
"""Repository benchmark: builds the program and the harness from source,
runs one workload in one JVM, checks its outputs, and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: concepts-jdbc-full and
queries-graph (see perfbench/README.md). The last
line of standard output is one JSON object with the keys correct,
attempted, failed and metrics; the exit code is 0 only when every check
passed. Build outputs, work files and run reports go to .bench_build/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("concepts-jdbc-full", "queries-graph")
HARNESS_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
XMX = "2g"
# a small fixed initial heap that grows only when the live data needs it
# (GCTimeRatio=1: no growth to save collection time), as in a deployment
# with constrained memory, so that peak_rss_mb follows what the workload
# keeps and not the collector's timing (see perfbench/README.md)
XMS = "256m"
# Spark 4 on JDK 17 outside spark-submit needs these (as in ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root, bench):
    """Hash of every input of the build, so an unchanged tree skips it."""
    h = hashlib.sha256()
    files = [bench / "build.sbt", bench / "project" / "build.properties"]
    for base in (root / "src" / "main", bench / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, bench, out):
    """Compile program + harness with sbt; returns the runtime classpath."""
    stamp = source_stamp(root, bench)
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's sockets and scratch files inside the checkout
    (out / "tmp").mkdir(exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={out / 'tmp'}"
                       " -Dsbt.server.autostart=false -XX:-UsePerfData").strip()
    log = out / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=bench, env=env, stdout=f, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l and os.pathsep in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def run_harness(cp, args, cores, work, result, log):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java)] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{XMS}", f"-Xmx{XMX}", "-XX:GCTimeRatio=1", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dderby.system.durability=test", f"-Dderby.stream.error.file={work / 'derby.log'}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--work", str(work), "--result", str(result)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def family(dtype):
    s = str(dtype)
    for k in ("int", "float", "bool"):
        if k in s:
            return k
    return "float" if "double" in s else s


def oracle_failures(work):
    """Each query's first-pass result against its DuckDB oracle over the
    same generated tables (columns by name, rows order-insensitive,
    doubles to 9 places)."""
    import duckdb
    con = duckdb.connect()
    for t in (work / "tpch").iterdir():
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}/*.parquet'")
    out = []
    for name, sql in sorted(json.loads((work / "oracle_sql.json").read_text()).items()):
        got = con.execute(f"SELECT * FROM '{work / 'results' / name}/*.parquet'").fetchdf()
        exp = con.execute(sql).fetchdf()
        got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            out.append(f"{name}: columns {list(got.columns)} != oracle {list(exp.columns)}")
        elif [family(t) for t in got.dtypes] != [family(t) for t in exp.dtypes]:
            out.append(f"{name}: column types differ from the oracle")
        elif len(got) != len(exp):
            out.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        else:
            key = lambda df: sorted((tuple(norm(v) for v in r) for r in df.itertuples(index=False)), key=str)
            if key(got) != key(exp):
                out.append(f"{name}: values differ from the oracle")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    bench = Path(__file__).resolve().parent
    if not (root / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {root}/src/main/scala: run from the repository root")
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    cp = build(root, bench, out)

    cores = min(4, os.cpu_count() or 1)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = out / "work" / f"{tag}-{os.getpid()}"
    reports = out / "reports"
    reports.mkdir(exist_ok=True)
    result, log = reports / f"{tag}.json", reports / f"{tag}.log"
    result.unlink(missing_ok=True)
    t0 = time.monotonic()
    try:
        code = run_harness(cp, args, cores, work, result, log)
        if code != 0 or not result.exists():
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            fail(f"harness {'timed out' if code is None else f'exited {code}'} (log: {log})")
        res = json.loads(result.read_text())
        rep = res["report"]
        if args.workload == "queries-graph":
            bad = oracle_failures(work)
            if bad:
                rep["failures"] += bad
                res["failed"] += len(bad)
                res["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["report"] = rep
    result.write_text(json.dumps(res, indent=1))
    inp = ", ".join(f"{k}={v}" for k, v in sorted(rep["inputs"].items()))
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"({time.monotonic() - t0:.1f} s wall)")
    print(f"  inputs: {inp}")
    print(f"  {rep['master']}, nproc {rep['nproc']}, shuffle partitions "
          f"{rep['shuffle_partitions']}, Xmx {rep['xmx_mb']} MB, Spark {rep['spark_version']}")
    print(f"  load average {rep['loadavg_start']} -> {rep['loadavg_end']}; "
          f"{rep['warmup_iterations_excluded']} warm-up iteration(s) excluded; "
          f"{len(rep['iterations'])} measured, {len(rep['traced_iterations'])} traced")
    for k, m in res["metrics"].items():
        print(f"  {k:40s} {m['value']:14.6g} {m['unit']}")
    ff = res["failed"] / max(res["attempted"], 1)
    print(f"  {'failed_frac':40s} {ff:14.6g} ratio ({res['failed']} of {res['attempted']} calls)")
    for f in rep["failures"]:
        print(f"  FAILED: {f}")
    print(f"  report: {result}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
