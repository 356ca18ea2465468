#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ingest|serve --seed N \
        --seconds S --trace 0|1

Builds the engine sources together with the harness in perfbench/
(sbt, offline) into .bench_build/ on first use, then runs one workload
in one JVM and prints its result JSON as the last line of stdout. For
`serve` it first writes the seeded registry tables (tables.py) and
afterwards checks the registry queries' results against DuckDB.
Progress and Spark logs go to stderr. The span trace of a traced run
is written to .bench_build/traces/.
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

# The generator and the oracle check are imported from the checkout;
# leave no bytecode caches behind in it.
sys.dont_write_bytecode = True
import tables  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
WORKLOADS = ("ingest", "serve")
RUN_LIMIT_S = 160
# Scale of the registry tables, in the test tables' units
# (sf 0.02: 120k lineitem rows, 20k events, 1,000 documents).
TABLES_SF = 0.02

# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties"),
              os.path.join(ROOT, "build.sbt")]
    for top in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout, or when this
    script is interrupted, kill the group and wait for it, so nothing
    outlives this script."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    """Compile with sbt once per source stamp; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    log(f"building harness + engine sources (stamp {stamp})")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "compile", "export Runtime/fullClasspath"],
        timeout=700, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    sys.stderr.write(out)
    if code != 0:
        raise SystemExit(f"build failed (sbt exit {code})")
    cp = [ln for ln in out.splitlines()
          if ln.startswith("/") and "scala-library" in ln]
    if not cp:
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    log(f"build took {time.time() - t0:.1f} s")
    return cp[-1].strip()


def heap_size():
    """RAM/2 clamped to 2..8 GiB (the repository's test-run rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def check_registry(work, result):
    """Compare each registry query's result with DuckDB running its
    oracle SQL over the same tables, canonicalised as
    tools/selfcheck.py does. A mismatch fails every registry op the run
    had counted as passed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from selfcheck import canon_df
    out = os.path.join(work, "registry")
    with open(os.path.join(out, "check.json")) as f:
        chk = json.load(f)
    con = duckdb.connect()
    for fn in sorted(os.listdir(chk["tables"])):
        con.sql(f"CREATE VIEW {fn[:-len('.parquet')]} AS SELECT * FROM "
                f"'{os.path.join(chk['tables'], fn)}'")
    bad = [name for name, sql in sorted(chk["oracle"].items())
           if canon_df(pd.read_parquet(os.path.join(out, name)))
           != canon_df(con.sql(sql).df())]
    log(f"registry results vs DuckDB: {len(chk['oracle']) - len(bad)}/"
        f"{len(chk['oracle'])} match" + (f"; differ: {bad}" if bad else ""))
    if bad:
        result["correct"] = False
        result["failed"] = min(result["attempted"],
                               result["failed"] + chk["ok_ops"])


def main():
    # SIGTERM unwinds like an exception, so run_bounded reaps the child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Graft.scala")):
        raise SystemExit("engine sources not found next to perfbench/")
    cp = build()

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work-dir", work, "--cores", str(cores)])
    if a.trace:
        cmd += ["--trace-out", os.path.join(
            traces, f"{a.workload}-seed{a.seed}.json")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    try:
        if a.workload == "serve":
            tables.generate(os.path.join(work, "tables"), a.seed, TABLES_SF)
            cmd += ["--tables", os.path.join(work, "tables")]
        code, out = run_bounded(cmd, timeout=RUN_LIMIT_S, cwd=work, env=env,
                                stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True)
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if code != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(out)
            raise SystemExit(f"workload run failed (exit {code})")
        for ln in lines[:-1]:
            print(ln, file=sys.stderr)
        result = json.loads(lines[-1])
        if a.workload == "serve":
            check_registry(work, result)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"workload run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
