#!/usr/bin/env python3
"""Runs one workload of the repository benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <ingest_sync|search_mix|curate_batch> \
        --seed <n> --seconds <s> --trace <0|1> [--record <file>] [--steps <n>]

The first run compiles the engine (src/main/scala) together with the
benchmark code (perfbench/src) with sbt, against the Spark jars of
SPARK_HOME (when unset, the installation of the first spark-submit on PATH
that has a jars directory); later runs reuse the build until a source
changes. The workload runs in one JVM at local[nproc]; this script then
replays each curation cell's DuckDB twin against the cell's output, checks
that the printed metric names and units are the ones BENCHMARK.json
declares, and prints the result as the last line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
WORK_ROOT = os.path.join(HERE, "work")
LOG_DIR = os.path.join(HERE, "out")
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 150
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    sys.exit(1)


def run_child(cmd, cwd, timeout, stdout, stderr):
    """Runs cmd in its own process group; kills the group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                              start_new_session=True, text=True)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        if _child.poll() is None:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
    code = _child.returncode
    _child = None
    return code, out


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first when sources changed."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            stamp, cp = fh.read().split("\n")[:2]
        if stamp == digest:
            return cp
    os.makedirs(LOG_DIR, exist_ok=True)
    if "SPARK_HOME" not in os.environ:
        # the first spark-submit on PATH that sits in a Spark installation
        homes = [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))
                 and os.path.isdir(os.path.join(os.path.dirname(d), "jars"))]
        if not homes:
            fail("set SPARK_HOME to the Spark installation the build compiles against")
        os.environ["SPARK_HOME"] = homes[0]
    log = os.path.join(LOG_DIR, "build.log")
    with open(log, "w") as fh:
        code, _ = run_child(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                            HERE, BUILD_TIMEOUT_S, fh, subprocess.STDOUT)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l.strip() for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code}); log in {log}")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(digest + "\n" + cps[-1] + "\n")
    return cps[-1]


def canon(rows):
    def c(v):
        return repr(v) if isinstance(v, float) else str(v)
    return sorted(tuple(c(v) for v in r) for r in rows)


def twin_check(con, entry):
    """Compares a cell's written output with its DuckDB twin: same column
    names, same rows (order-independent). Returns an error or None."""
    got_rel = con.sql(f"SELECT * FROM read_parquet('{entry['path']}/*.parquet')")
    cols = sorted(got_rel.columns)
    got = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols) + " FROM got_rel").fetchall()
    exp_rel = con.sql(entry["sql"])
    if sorted(exp_rel.columns) != cols:
        return f"columns {cols} != twin {sorted(exp_rel.columns)}"
    exp = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols)
                  + f" FROM ({entry['sql']})").fetchall()
    if canon(got) != canon(exp):
        return f"{len(got)} rows differ from the twin's {len(exp)}"
    return None


def oracle_checks(entries):
    import duckdb
    failures = []
    for e in entries:
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{e['tables']}/{t}.parquet/*.parquet')")
        t0 = time.time()
        err = twin_check(con, e)
        print(f"twin {e['cell']:32s} {'ok' if err is None else 'MISMATCH: ' + err}"
              f"  ({time.time() - t0:.1f} s)")
        if err is not None:
            failures.append(e["cell"])
    return failures


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="where a traced run writes its record")
    ap.add_argument("--steps", type=int, help="fixed step count instead of --seconds")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout", 2)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_child)

    cp = build()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(LOG_DIR, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    if a.steps:
        cmd += ["--steps", str(a.steps)]
    log = os.path.join(LOG_DIR, f"{a.workload}.log")
    try:
        with open(log, "w") as err:
            code, out = run_child(cmd, work, JVM_TIMEOUT_S, subprocess.PIPE, err)
        lines = out.strip().splitlines()
        if code != 0 or not lines or not lines[-1].startswith("{"):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            sys.stdout.write(out)
            fail(f"workload {a.workload} failed (JVM exit {code}); log in {log}")
        for line in lines[:-1]:
            print(line)
        res = json.loads(lines[-1])
        failures = list(res["failures"])
        oracle = res.get("oracle") or []
        if oracle:
            bad = oracle_checks(oracle)
            res["attempted"] += len(oracle)
            res["failed"] += len(bad)
            failures += [f"{c} differs from its DuckDB twin" for c in bad]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = declared_metrics(a.trace == 1)
    printed = {k: v["unit"] for k, v in res["metrics"].items()}
    if printed != declared:
        fail("printed metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(declared) - set(printed))}, "
             f"extra {sorted(set(printed) - set(declared))}, "
             f"unit changes {sorted(k for k in printed if k in declared and printed[k] != declared[k])}")
    for f in failures:
        print(f"FAILED: {f}")
    print(json.dumps({
        "correct": bool(res["correct"]) and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": res["metrics"],
    }))


if __name__ == "__main__":
    main()
