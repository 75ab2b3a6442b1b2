#!/usr/bin/env python3
"""Layer benchmark launcher.

    python3 layerbench/run.py --workload <hourly_refresh|dashboard|catalog> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 layerbench/run.py --selftest [--seed <n>]

Run from the repository root. The first run builds the program from
src/main/scala and the benchmark from layerbench/src with the Scala compiler
that ships among the Spark jars, into .bench_build/. Each run is one JVM
(local[4]); its last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`.

Builds are kept per source stamp, so two versions of the program built in
one checkout do not rebuild each other. The first run of a workload on a
build also records the JVM's class-data archive of that workload as its JVM
exits; every later run of that workload on that build maps it.

For `catalog` the query outputs are compared here with the DuckDB oracles of
SparkEntry.oracleSql.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
BENCH_SRC = os.path.join(ROOT, "layerbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170
# the options build.sbt passes to every forked JVM
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_JARS_DIR, else build.sbt's unmanagedBase."""
    env = os.environ.get("SPARK_JARS_DIR")
    if env:
        return env
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        die("no build.sbt: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        die("cannot find the Spark jars named by build.sbt (set SPARK_JARS_DIR)")
    return m.group(1)


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_to(name, srcs, stamp, classpath, jars):
    """Compile `srcs` into the jar .bench_build/<name>-<stamp>.jar unless it
    exists (the JVM's class-data archive accepts jars only)."""
    out = os.path.join(BUILD, f"{name}-{stamp[:16]}")
    path = out + ".jar"
    if os.path.isfile(path):
        return path
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    t0 = time.time()
    r = subprocess.run(cmd + ["@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compiling {name} failed")
    with zipfile.ZipFile(path + ".tmp", "w") as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, tmp))
    os.replace(path + ".tmp", path)
    shutil.rmtree(tmp)
    print(f"layerbench: built {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return path


def build():
    """The run's class path and the stamp of the benchmark build."""
    if not os.path.isdir(MAIN_SRC) or not os.path.isdir(BENCH_SRC):
        die("program or benchmark sources missing: run from a full checkout")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    main_srcs = sources(MAIN_SRC)
    bench_srcs = sources(BENCH_SRC)
    if not main_srcs:
        die("no program sources under src/main/scala")
    main_stamp = digest(main_srcs)
    bench_stamp = digest(bench_srcs, main_stamp)
    main = compile_to("main", main_srcs, main_stamp, None, jars)
    bench = compile_to("bench", bench_srcs, bench_stamp, main, jars)
    return [bench, main, os.path.join(jars, "*")], bench_stamp[:16]


def archive(stamp, workload):
    return os.path.join(BUILD, f"classes-{workload}-{stamp}.jsa")


def archive_flags(stamp, workload):
    """Map the workload's class-data archive (JDK AppCDS), which takes 5-15 s
    of class loading off a cold JVM; when this build has none yet, record
    it as this JVM exits instead (that run's set-up loads every class itself
    and the dump adds about 30 s after its result)."""
    path = archive(stamp, workload)
    if os.path.isfile(path):
        return [f"-XX:SharedArchiveFile={path}", "-Xlog:cds=off"]
    return [f"-XX:ArchiveClassesAtExit={path}.tmp", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def keep_archive(stamp, workload):
    path = archive(stamp, workload)
    if os.path.isfile(path + ".tmp"):
        os.replace(path + ".tmp", path)


def run_jvm(cp, stamp, workload, seed, seconds, trace, work, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap whose pages are touched at start: the timed rounds
    # neither resize the heap nor fault in fresh memory
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.sources.parallelPartitionDiscovery.threshold=4096"]
    if "--selftest" not in extra:
        cmd += archive_flags(stamp, workload)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(cp), "layerbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--dir", work, *extra]
    log = open(os.path.join(BUILD, f"{workload}.log"), "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
    # a JVM that records the class archive may take longer (the first run
    # in a checkout is allowed 900 s, building included)
    limit = RUN_LIMIT_S if os.path.isfile(archive(stamp, workload)) else 3 * RUN_LIMIT_S
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"{workload} did not finish within {limit} s")
    finally:
        log.close()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        die(f"{workload} JVM exited with {proc.returncode}; see .bench_build/{workload}.log")
    keep_archive(stamp, workload)
    return json.loads(lines[-1])


# ─────────────────────────────── catalog oracles ──

def oracle_sql(cp, stamp):
    """SparkEntry.oracleSql of the built program, as JSON, via a tiny JVM."""
    path = os.path.join(BUILD, f"oracle_sql-{stamp}.json")
    if os.path.isfile(path):
        return json.load(open(path))
    r = subprocess.run(["java", "-Xmx512m", "-cp", ":".join(cp), "layerbench.OracleSql", path + ".tmp"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:])
        die("cannot read SparkEntry.oracleSql")
    os.replace(path + ".tmp", path)
    return json.load(open(path))


def oracles(cp, stamp, data, queries):
    """A DuckDB connection over the tables in `data` holding each query's
    oracle result as the table oracle_<query>."""
    import duckdb
    sqls = oracle_sql(cp, stamp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data}/{t}/*.parquet')")
    for q in queries:
        con.execute(f"CREATE TEMP TABLE oracle_{q} AS {sqls[q]}")
    return con


def compare(con, q, got):
    """None when the parquet files `got` hold the same rows as the oracle of
    `q`, else a reason."""
    exp = f"oracle_{q}"
    src = f"read_parquet('{got}', hive_partitioning = false)"
    exp_cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {exp}").fetchall())
    got_cols = sorted(c[0] for c in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    if exp_cols != got_cols:
        return f"columns {got_cols} != oracle {exp_cols}"
    cols = ", ".join(f'"{c}"' for c in exp_cols)
    e, g = f"SELECT {cols} FROM {exp}", f"SELECT {cols} FROM {src}"
    n_e = con.execute(f"SELECT count(*) FROM ({e})").fetchone()[0]
    n_g = con.execute(f"SELECT count(*) FROM ({g})").fetchone()[0]
    if n_e != n_g:
        return f"{n_g} rows != oracle {n_e}"
    if n_e == 0:
        return "output and oracle are both empty: nothing is checked"
    diff = con.execute(f"SELECT count(*) FROM (({e}) EXCEPT ALL ({g}))").fetchone()[0]
    if diff:
        return f"{diff} rows differ from the oracle"
    return None


def check_catalog(cp, stamp, outputs):
    data, out = outputs["data"], outputs["outputs"]
    queries = sorted(os.listdir(out))
    con = oracles(cp, stamp, data, queries)
    errors = []
    for q in queries:
        for rd in sorted(os.listdir(os.path.join(out, q))):
            why = compare(con, q, os.path.join(out, q, rd, "*.parquet"))
            if why:
                errors.append(f"{q} {rd}: {why}")
    con.close()
    return errors


def selftest_catalog(cp, stamp, outputs):
    """The oracle comparison must reject an output with one value changed."""
    data, out = outputs["data"], outputs["outputs"]
    queries = sorted(os.listdir(out))
    con = oracles(cp, stamp, data, queries)
    errors = []
    for q in queries:
        src = os.path.join(out, q, "p0", "*.parquet")
        why = compare(con, q, src)
        if why:
            errors.append(f"{q}: unchanged output rejected: {why}")
            continue
        cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
        num = [c[0] for c in cols if c[1] in ("DOUBLE", "FLOAT", "BIGINT", "INTEGER")]
        if not num:
            errors.append(f"{q}: no numeric column to change")
            continue
        c = num[0]
        changed = os.path.join(out, q, "changed.parquet")
        con.execute(f"""COPY (SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN "{c}" + 1 ELSE "{c}" END AS "{c}")
                        FROM (SELECT *, row_number() OVER () AS rn
                        FROM read_parquet('{src}'))) TO '{changed}' (FORMAT PARQUET)""")
        why = compare(con, q, changed)
        print(f"[selftest] {q}: changed {c} -> {why or 'ACCEPTED'}", file=sys.stderr)
        if not why:
            errors.append(f"{q}: changed {c} passed the oracle comparison")
    con.close()
    return errors


# ─────────────────────────────── main ──

WORKLOADS = ("hourly_refresh", "dashboard", "catalog")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload not in WORKLOADS:
        die("--workload must be hourly_refresh, dashboard or catalog")
    cp, stamp = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            return selftest(cp, stamp, a, work)
        res = run_jvm(cp, stamp, a.workload, a.seed, a.seconds, a.trace == 1, os.path.join(work, "run"))
        errors = list(res.get("errors", []))
        if a.workload == "catalog":
            errors += check_catalog(cp, stamp, res["outputs"])
        for e in errors[:20]:
            print(f"layerbench: check failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": res["metrics"]}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(cp, stamp, a, work):
    workloads = [a.workload] if a.workload else list(WORKLOADS)
    bad = []
    for w in workloads:
        res = run_jvm(cp, stamp, w, a.seed, 1, False, os.path.join(work, w), extra=["--selftest"])
        errs = list(res.get("errors", []))
        with open(os.path.join(BUILD, f"{w}.log")) as log:
            sys.stderr.writelines(l for l in log if l.startswith("[selftest]"))
        if w == "catalog":
            errs += selftest_catalog(cp, stamp, res["outputs"])
        print(f"[selftest] {w}: {'ok' if not errs else 'FAILED'}", file=sys.stderr)
        bad += [f"{w}: {e}" for e in errs]
    for e in bad:
        print(f"layerbench: self-test: {e}", file=sys.stderr)
    print(json.dumps({"selftest": "ok" if not bad else "failed", "workloads": workloads}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
