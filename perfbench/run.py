#!/usr/bin/env python3
"""CDC-chain benchmark: one seeded run of one workload.

Usage (from the repository root):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the JVM harness from source on first use (sbt, into
.bench_build/), runs the harness, checks the ops keys' outputs (traced
pgoutput run) against the DuckDB oracle, and prints one JSON line as the
last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
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


def sources():
    pats = [os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
            os.path.join(HERE, "src", "**", "*.scala"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    files = sorted(f for p in pats for f in glob.glob(p, recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scratch_env():
    """The environment for child processes, with temporary files kept
    under .bench_build/tmp."""
    env = dict(os.environ)
    env["TMPDIR"] = os.path.join(BUILD, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def build():
    """Compiles once per source state; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = sources()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    env = scratch_env()
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                f"-Djava.io.tmpdir={env['TMPDIR']}",
                                "-XX:-UsePerfData"]).strip()
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if l.endswith(".jar") and os.pathsep in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def run_jvm(cp, args, work, result):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=scratch_env(), stdout=fh,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness JVM exited with {rc}")
    with open(log) as fh:
        for line in fh:
            if "[perfbench]" in line:
                sys.stderr.write(line)
    with open(result) as fh:
        return json.load(fh)


def oracle_check(notes):
    """Compares each ops key's Spark output with its DuckDB oracle
    (columns by name, rows by all columns, floats within 1e-9).
    Returns (attempted, failed)."""
    import duckdb
    data, outs = notes["oracle_data"], notes["oracle_outputs"]
    sql = notes["oracle_sql"]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    failed = 0
    for key, q in sorted(sql.items()):
        why = None
        try:
            got = norm(con.execute(
                f"SELECT * FROM read_parquet('{outs}/{key}/*.parquet')").df())
            exp = norm(con.execute(q).df())
            if list(got.columns) != list(exp.columns):
                why = f"columns {list(got.columns)} != {list(exp.columns)}"
            elif len(got) != len(exp):
                why = f"rows {len(got)} != {len(exp)}"
            else:
                for c in got.columns:
                    a, b = got[c], exp[c]
                    if a.dtype.kind == "f" or b.dtype.kind == "f":
                        ok = (a.isna() & b.isna()) | \
                            ((a.astype(float) - b.astype(float)).abs() <= 1e-9)
                    else:
                        ok = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
                    if not ok.all():
                        why = f"column {c}: {int((~ok).sum())} values differ"
                        break
        except Exception as e:  # a key that throws counts as failed
            why = str(e)
        if why:
            failed += 1
            print(f"[perfbench] oracle mismatch {key}: {why}", file=sys.stderr)
    return len(sql), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    cp = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    try:
        res = run_jvm(cp, args, work, result)
        attempted, failed = res["attempted"], res["failed"]
        notes = res.get("notes", {})
        if "oracle_sql" in notes:
            a, f = oracle_check(notes)
            attempted, failed = attempted + a, failed + f
        spans = result + ".spans.json"
        if os.path.exists(spans):
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(
                traces, f"{args.workload}-{args.seed}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    got["error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name, unit = m["name"], m["unit"]
        if name in got:
            if got[name]["unit"] != unit:
                fail(f"{name}: unit {got[name]['unit']} != {unit}")
            v = got[name]["value"]
        elif args.trace:
            v = 0.0  # a layer this workload does not run
        else:
            fail(f"end-to-end metric {name} missing for {args.workload}")
        if not math.isfinite(v):
            fail(f"{name} is not finite")
        metrics[name] = {"value": v, "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
