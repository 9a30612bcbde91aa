#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload olap-mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine together
with the harness (perfbench/build.sbt, offline sbt) and caches the build
under perfbench/target; later runs start the JVM directly from the saved
classpath. Each run generates its inputs from the seed (gen.py) into a
directory of its own, gives the JVM its own java.io.tmpdir, checks every
result, deletes the directory, and prints one JSON object as the last
line of stdout. Workloads and metrics are listed in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

START = time.monotonic()
DEADLINE_S = 170  # every run must end within 180 s
BUILD_DEADLINE_S = 850  # a first run also builds, and may take 900 s
SF = 0.01  # input scale: 60k lineitem rows, 1.9 MB of parquet
# sun.management is exported for the JIT compiler threads' CPU times, and
# their number fixed so none retires mid-run (see Cpu in Main.scala)
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
            "--add-exports", "java.management/sun.management=ALL-UNNAMED"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every file the build reads, to tell when to rebuild."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(root, base))):
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for f in ("build.sbt", "perfbench/build.sbt", "perfbench/project/build.properties"):
        h.update(open(os.path.join(root, f), "rb").read())
    return h.hexdigest()


def build(root):
    """Compile the engine and harness once per source state; return the classpath."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                     open(os.path.join(root, "build.sbt")).read())
    if not jars:
        fail("build.sbt names no unmanagedBase jar directory")
    if os.path.exists(cp_file):
        os.remove(cp_file)  # so a failed build cannot pass for a good one
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.jars={jars.group(1)}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, "target-build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                         HERE, env, out, BUILD_DEADLINE_S)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    os.remove(log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def run_bounded(cmd, cwd, env, out, deadline_s):
    """Run cmd in its own process group; kill the group at the deadline
    (counted from this script's start) and always wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline_s - (time.monotonic() - START)))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_errors(root, data, results, oracle_sql):
    """{query: error} for each query whose first result differs from DuckDB
    running its oracle SQL, compared as tools/verify_local.py compares."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    import pandas as pd
    import verify_local as vl
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in vl.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    errors = {}
    for name, sql in sorted(oracle_sql.items()):
        out = os.path.join(results, name)
        try:
            rel = con.sql(sql)
            types = dict(zip(rel.columns, [str(t) for t in rel.types]))
            err = vl.compare(name, pd.read_parquet(out), rel.fetchdf(), types, vl.spark_types(out))
        except Exception as e:  # an oracle that cannot run is a failed check too
            err = f"oracle error: {e}"
        if err:
            errors[name] = err
    con.close()
    return errors


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("no engine sources under src/main/scala/graft; run from the repository root")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classpath = build(root)

    import gen

    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, tmp = os.path.join(run_dir, "data"), os.path.join(run_dir, "tmp")
    os.makedirs(data)
    os.makedirs(tmp)
    try:
        gen.write(data, a.seed, SF)
        log = os.path.join(run_dir, "jvm.log")
        with open(log, "w") as out:
            rc = run_bounded(
                ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                                       "graft.perfbench.Main", "--workload", a.workload,
                                       "--seed", str(a.seed), "--seconds", str(a.seconds),
                                       "--trace", str(a.trace), "--data", data, "--run", run_dir,
                                       "--conf", os.path.join(HERE, "session.conf")],
                run_dir, dict(os.environ), out, DEADLINE_S)
        res_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            sys.stderr.write(open(log).read()[-6000:])
            fail(f"benchmark JVM failed (exit {rc})")
        sys.stderr.write("".join(l for l in open(log) if l.startswith("perfbench:")))
        res = json.load(open(res_file))
        failures = list(res["failures"])
        for name, err in oracle_errors(root, data, os.path.join(run_dir, "results"),
                                       res["oracle_sql"]).items():
            failures.append(f"{name}: result differs from its DuckDB oracle: {err}")
        failed = res["failed"] + len(failures) - len(res["failures"])
        metrics = dict(res["metrics"])
        # what the engine left in the run's own java.io.tmpdir
        metrics["tmp.leak_mb"] = tree_bytes(tmp) / 1048576.0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"perfbench: CORRECTNESS FAILURE in {a.workload}: {f}", file=sys.stderr)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"harness did not report {', '.join(missing)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
