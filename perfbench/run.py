#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --count-vs-noop

Run from the repository root. Builds the program and the benchmark code
in perfbench/ from source (sbt, output under $CARGO_TARGET_DIR or
.bench_build), runs one workload in a fresh JVM over the tables in
perfbench/data/, checks every distinct operation against DuckDB and
prints, as the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full run record (calibration,
tail percentile, workload counters) is written to <build>/runs/.
"""

import argparse
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")  # lineitem 60k rows
JVM_HEAP = "3g"
RUN_LIMIT_S = 170  # a run (after the build) must end within this

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """Compiles once per source state; returns the runtime classpath."""
    stamp = os.path.join(bdir, "build.stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building (sbt) ...")
    opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    env = dict(os.environ, SBT_OPTS=opts.strip())
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dbench.target={os.path.join(bdir, 'sbt')}",
           f"-Dbench.sparkJars={spark_jars()}",
           f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}",
           "export Runtime/fullClasspathAsJars"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if ln.strip() and not ln.startswith("[") and os.pathsep in ln]
    if not cp:
        fail("build printed no classpath")
    cp = cp[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def check_data():
    """The tables must be the committed ones, byte for byte."""
    sums = os.path.join(DATA, "SHA256SUMS")
    if not os.path.exists(sums):
        fail(f"no tables at {DATA}")
    with open(sums) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    fail(f"{name} differs from its checksum")


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline, stdout=sys.stderr):
    """Runs perfbench.Main in its own process group; every process it
    leaves behind (engine subprocesses) is stopped and reaped."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, stdout=stdout, env=env,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc.pid)
    return code


def stop_group(pgid):
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


# ---- DuckDB oracle checks ------------------------------------------------


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    return v


def sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return (1, f"{float(v):.6e}")
    if isinstance(v, tuple):
        return (2, tuple(sort_key(x) for x in v))
    return (3, repr(v))


def close(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if a == b or (isinstance(a, float) and isinstance(b, float)
                      and math.isnan(a) and math.isnan(b)):
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want):
    """Rows compared as multisets; numbers within a relative 1e-9."""
    got = sorted((norm(r) for r in got), key=sort_key)
    want = sorted((norm(r) for r in want), key=sort_key)
    if len(got) != len(want):
        raise ValueError(f"{len(got)} rows, oracle {len(want)}")
    for a, b in zip(got, want):
        if not close(a, b):
            raise ValueError(f"row {a}, oracle {b}")


def run_checks(rec):
    """Checks every distinct operation of the run against DuckDB over the
    same parquet files (federation off). Returns the failed checks."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for ddl in rec["oracle_views"]:
        con.execute(ddl)
    bad = []
    with open(rec["checks_file"]) as fh:
        checks = [json.loads(line) for line in fh]
    for c in checks:
        c["runs"] = rec["check_runs"].get(c["key"], 0)
        try:
            if "error" in c:
                raise ValueError(c["error"])
            want = con.sql(c["oracle_sql"])
            if "dir" in c:  # a gate: columns matched by name
                cols = sorted(want.columns)
                got = pq.read_table(c["dir"])
                if sorted(got.column_names) != cols:
                    raise ValueError(f"columns {got.column_names}, "
                                     f"oracle {want.columns}")
                same_rows([tuple(r[k] for k in cols)
                           for r in got.select(cols).to_pylist()],
                          want.select(*[f'"{k}"' for k in cols]).fetchall())
            else:           # rows in select order
                same_rows(c["rows"], want.fetchall())
        except Exception as e:  # a wrong or unreadable result is a failure
            log(f"check {c['template']}: WRONG: {e}")
            bad.append(c)
    return bad


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--count-vs-noop", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    check_data()
    data = DATA
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp = build(bdir)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    if args.self_test or args.count_vs_noop:
        mode = "--self-test" if args.self_test else "--count-vs-noop"
        code = run_jvm(cp, [mode, "--data", data, "--work", work,
                            "--cpus", str(cpus())], work,
                       time.time() + 900, stdout=sys.stdout)
        sys.exit(0 if code == 0 else 1)
    if not args.workload:
        fail("--workload is required")

    out = os.path.join(work, "record.json")
    pin = None
    with open(os.path.join(HERE, "calibration.json")) as fh:
        pin = json.load(fh).get(str(cpus()))
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--work", work, "--out", out,
                "--cpus", str(cpus())]
    if pin:
        jvm_args += ["--pin", str(pin)]
    code = run_jvm(cp, jvm_args, work, deadline)
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {code}", 1)
    with open(out) as fh:
        rec = json.load(fh)

    t_checks = time.time()
    bad = run_checks(rec)
    rec["oracle_check_s"] = time.time() - t_checks
    # a check that raised in the JVM already counts in rec["failed"]
    failed = rec["failed"] + sum(c["runs"] for c in bad if "error" not in c)
    metrics = rec["layers"] if args.trace else rec["e2e"]
    want = expected_metrics(args.trace)
    if want is not None and {k: v["unit"] for k, v in metrics.items()} != want:
        fail("metric names or units differ from BENCHMARK.json", 1)

    runs = os.path.join(bdir, "runs")
    os.makedirs(runs, exist_ok=True)
    rec["wrong"] = sorted(c["template"] for c in bad)
    stem = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    spans = rec.pop("spans", None)
    if spans is not None:
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
    with open(stem + ".json", "w") as fh:
        json.dump(rec, fh, indent=1)
    summary = {k: rec[k] for k in ("workload", "seed", "attempted", "failed",
                                   "distinct_ops", "passes", "tail",
                                   "calibration", "workload_metrics",
                                   "setup_s", "setup_phases_s",
                                   "verify_s", "timeline_s", "errors")}
    log("run record: " + json.dumps(summary))
    correct = failed == 0 and not bad
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
