#!/usr/bin/env python3
"""Repo benchmark: dump -> database latency and the near-dup query set.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_markup|etl_redirects --seed N \
      --seconds S --trace 0|1

Builds the program and the benchmark from source with sbt when the build
is missing or older than a source file, runs one measurement JVM
(perfbench.Main), checks the oracled query results against DuckDB, and
prints as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The line before it is the run's full record:
workload description, timing sample counts, failures. Records and traced
spans are also kept under perfbench/out/.

Extra options for the smoke test: --tiny (small inputs), --corrupt-model
(a deliberately wrong expected model), --dup-redirect-titles (etl_redirects
also gets redirect pages that share a title, which real dumps never have).
"""
import argparse
import json
import math
import os
import shutil
import signal
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# The JVM flags the program's own build passes to forked runs: Spark on
# JDK 17 outside spark-submit needs these packages opened.
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, env=None):
    """Runs cmd in its own process group, stdout captured, stderr passed
    through; kills the whole group on timeout and waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(HERE, "build.sbt")


def build():
    """sbt compile of the program (parent build) and the benchmark; the
    runtime classpath is cached until a source is newer."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    env.setdefault("COURSIER_MODE", "offline")
    log("building with sbt")
    t0 = time.time()
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, env)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"sbt build failed (exit {rc})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    log(f"built in {time.time() - t0:.1f} s")


def floats_eq(a, b):
    if math.isnan(a) and math.isnan(b):
        return True
    return struct.pack("<d", a) == struct.pack("<d", b)


def vals_eq(a, b):
    """Type-strict value equality; floats compare bit for bit."""
    if a is None or b is None:
        return a is None and b is None
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        return floats_eq(a, b)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(vals_eq(x, y) for x, y in zip(a, b))
    return a == b


def oracle_failures(work):
    """Each oracled query's Spark result on the checked corpus against
    DuckDB running the program's oracle SQL over the same tables: same columns,
    types, row order and values. Returns (checked queries, {query: reason})."""
    results = os.path.join(work, "check", "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    try:
        import duckdb
    except ImportError:
        return sorted(oracle), {q: "duckdb is not importable" for q in oracle}
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(work, 'check', 'tables', t + '.parquet')}/*.parquet'")
    bad = {}
    for q, sql in sorted(oracle.items()):
        if not os.path.isdir(os.path.join(results, q)):
            continue  # the query failed in the JVM and is counted there
        try:
            got = con.execute(f"SELECT * FROM '{os.path.join(results, q)}/*.parquet'")
            gcols = [(d[0], str(d[1])) for d in got.description]
            grows = got.fetchall()
            want = con.execute(sql)
            wcols = [(d[0], str(d[1])) for d in want.description]
            wrows = want.fetchall()
        except Exception as e:  # a query the oracle cannot run is unchecked
            bad[q] = f"oracle error: {e}"
            continue
        if sorted(gcols) != sorted(wcols):
            bad[q] = f"columns spark={sorted(gcols)} duckdb={sorted(wcols)}"
            continue
        gi = [[c for c, _ in gcols].index(c) for c, _ in sorted(gcols)]
        wi = [[c for c, _ in wcols].index(c) for c, _ in sorted(wcols)]
        if len(grows) != len(wrows):
            bad[q] = f"rows spark={len(grows)} duckdb={len(wrows)}"
            continue
        for n, (g, w) in enumerate(zip(grows, wrows)):
            if not vals_eq([g[i] for i in gi], [w[i] for i in wi]):
                bad[q] = f"row {n} differs"
                break
    return sorted(oracle), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-model", action="store_true")
    ap.add_argument("--dup-redirect-titles", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("the program's sources are not beside perfbench/")
    build()

    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    outdir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    record_path = os.path.join(outdir, f"{tag}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-Xms3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", record_path]
    for flag in ("tiny", "corrupt_model", "dup_redirect_titles"):
        if getattr(a, flag):
            cmd.append("--" + flag.replace("_", "-"))
    try:
        t0 = time.time()
        rc, out = run_group(cmd, ROOT, RUN_TIMEOUT_S)
        log(f"measurement JVM: {time.time() - t0:.1f} s")
        sys.stderr.write(out)
        rec = json.loads(out.strip().splitlines()[-1])
        if rc != 0 or "error" in rec:
            raise SystemExit(f"benchmark JVM failed (exit {rc}): {rec.get('error')}")
        t0 = time.time()
        checked, bad = oracle_failures(work) \
            if os.path.isdir(os.path.join(work, "check", "results")) else ([], {})
        log(f"oracle check: {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = int(rec["failed"])
    for q, why in bad.items():
        failed += int(rec["query_ops"][q])
        rec["failures"].append(f"{q}: {why}")
    rec["oracle_checked"] = checked
    rec["failed"] = failed
    rec["failed_frac"] = failed / rec["attempted"]

    # a metric without a value (no timed iteration succeeded) is left out
    # and makes the run incorrect
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = rec.get(m["name"])
        if isinstance(v, dict):  # a timing: its median
            v = v.get("median")
        if isinstance(v, (int, float)) and not math.isnan(v):
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        else:
            rec["failures"].append(f"metric {m['name']} was not measured")
    with open(record_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({"record": rec}))
    print(json.dumps({"correct": failed == 0 and len(metrics) == len(wanted),
                      "attempted": int(rec["attempted"]), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
