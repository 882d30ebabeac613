#!/usr/bin/env python3
"""Benchmark launcher for the graft KG engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the root of a checkout. The first call compiles the engine and the
harness with sbt (perfbench/build.sbt) and caches the resulting classpath
and JVM options under perfbench/target, keyed by a hash of every source and
build file; later calls start `java` directly, with build.sbt's JVM options
and a fixed heap cap (HEAP). Each run gets its own scratch directory under
perfbench/.work, deleted when the run ends.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["build_gazetteer", "build_vendor_skew", "serve_increment_lookup", "analytics_sf001"]
RUN_TIMEOUT_S = 170
SBT_OPTS = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
# appended after build.sbt's options (whose -Xmx8g it overrides), so that
# runs sharing a machine stay small; the same on every run and every host
HEAP = "-Xmx4g"
# build.sbt reads these when it loads; the launch options are its defaults
BUILD_ENV_KNOBS = ("SPARK_DRIVER_MEM", "GRAFT_EXTRA_JAVA_OPTS")


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key():
    """Hash of everything the build reads."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True) if os.path.isfile(p)]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def launch_spec():
    """(classpath, jvm options), building first when the sources changed."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources next to {HERE} (expected build.sbt and src/main/scala/graft)")
    key = source_key()
    spec = os.path.join(HERE, "target", "launch.txt")
    key_file = os.path.join(HERE, "target", "launch.key")
    if not (os.path.isfile(spec) and os.path.isfile(key_file) and open(key_file).read() == key):
        env = {k: v for k, v in os.environ.items() if k not in BUILD_ENV_KNOBS}
        env["COURSIER_MODE"] = "offline"
        opts = SBT_OPTS + ([f"-Dsbt.repository.config={SBT_REPOS}"] if os.path.isfile(SBT_REPOS) else [])
        env["SBT_OPTS"] = " ".join(opts)
        print("[perfbench] building engine and harness (sbt launchSpec)", flush=True)
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=600)
        if r.returncode != 0 or not os.path.isfile(spec):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        with open(key_file, "w") as f:
            f.write(key)
        print(f"[perfbench] built in {time.time() - t0:.1f} s", flush=True)
    lines = open(spec).read().split("\n")
    return lines[0], [l for l in lines[1:] if l]


def norm(df):
    """scripts/check_oracle.py's comparison rules: columns sorted by name,
    strings as str, floats rounded to 9 digits, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith(("datetime", "date")):
            df[c] = df[c].astype(str)
    try:
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    except Exception:
        df = df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def check_analytics(work):
    """Each query's output against its oracle: DuckDB over the same tables
    for the SQL-checked queries, the harness's replay for the others.
    Returns the names of the outputs that differ."""
    import duckdb
    con = duckdb.connect()
    for d in glob.glob(os.path.join(work, "sf", "*.parquet")):
        name = os.path.basename(d)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    wrong = []
    for out in sorted(glob.glob(os.path.join(work, "out", "*"))):
        q = os.path.basename(out)
        got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
        if q in sql:
            want = con.execute(sql[q]).df()
        else:
            want = con.execute(f"SELECT * FROM read_parquet('{work}/expected/{q}/*.parquet')").df()
        a, b = norm(got), norm(want)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b) and a.astype(str).equals(b.astype(str))
        print(f"[perfbench] check {q}: {'ok' if ok else 'MISMATCH'} ({len(a)} rows, oracle {len(b)})")
        if not ok:
            wrong.append(q)
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="every input tiny: a check that runs in seconds")
    a = ap.parse_args()

    cp, jvm_opts = launch_spec()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark"))
    cmd = (["java"] + jvm_opts + [HEAP] +
           [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work] + (["--tiny"] if a.tiny else []))
    result = None
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                 text=True, start_new_session=True)
            deadline = time.time() + RUN_TIMEOUT_S
            try:
                for line in p.stdout:
                    if line.startswith("PERFBENCH_RESULT "):
                        result = json.loads(line[len("PERFBENCH_RESULT "):])
                    else:
                        print(line, end="", flush=True)
                    if time.time() > deadline:
                        raise subprocess.TimeoutExpired(cmd, RUN_TIMEOUT_S)
                p.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s")
        if p.returncode != 0 or result is None:
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            fail(f"JVM exited with {p.returncode}")
        if a.workload == "analytics_sf001":
            wrong = check_analytics(work)
            print(f"[perfbench] oracle checks: 10 attempted, {len(wrong)} failed")
            result["attempted"] += 10
            result["failed"] += len(wrong)
            result["correct"] = result["correct"] and not wrong
        if a.trace:
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(HERE, ".work", f"trace-{a.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
