#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the benchmark together with
the library sources under ``src/main/scala`` (sbt, offline; skipped when
the sources are unchanged since the last build), generates the seeded
inputs, runs the workload in one JVM, checks the outputs (DuckDB for the
results that have an oracle query) and prints a report followed by one
JSON result line. Everything it writes stays under ``perfbench/.work`` and
``perfbench/target``. See ``perfbench/README.md`` for the workloads and
metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
LIMIT_S = 170
ORACLE_LIMIT_S = 20
# Scale of the generated tables (TPC-H scale factor: 60k line items).
SF = 0.01
# Days of uploads the close ingests (11 stores, one file each); the first
# is ingested during set-up.
CLOSE_DAYS = 5

# The end-to-end metrics every workload reports, and which of the
# workload's own measurements each one is.
GENERIC = {
    "bi_dashboard": {"ops_per_s": "bi.qps", "latency_p50_ms": "bi.latency_p50_ms"},
    "nightly_close": {"ops_per_s": "close.ops_per_s", "latency_p50_ms": "close.wave_p50_ms"},
}

sys.path.insert(0, HERE)


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def left():
    return LIMIT_S - (time.time() - T0)


def source_digest():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"),
                               recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath (cached by digest)."""
    digest = source_digest()
    stamp = os.path.join(TARGET, "perfbench.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            d, cp = f.read().split("\n", 1)
        if d == digest:
            return cp.strip()
    env = dict(os.environ)
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=max(60, 880 - (time.time() - T0)))
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def java_pids():
    """Pids of running JVMs other than this process's children."""
    out = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(f"{d}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
            with open(f"{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if argv0.endswith(b"java") and ppid != os.getpid():
            out.append(int(d.rsplit("/", 1)[1]))
    return sorted(out)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{min(4, max(2, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "4g"


def run_jvm(cp, args, log):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class data sharing: the first run after a build dumps the classes it
    # loaded; later runs map them instead of loading Spark from its jars.
    cds = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    cmd = (["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Xmx{heap()}",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"))
        try:
            rc = proc.wait(timeout=max(5, left()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"workload did not finish in {LIMIT_S} s (log: {log})", 4)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        die(f"workload JVM exited with {rc}", 5)


def oracle_checks(checks, data_dir):
    """Compare each written Spark result with DuckDB running the oracle
    query on the same parquet tables. Returns the failure messages."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # write nothing under tools/
    from compare import norm  # the oracle gate's normalisation
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region nation customer supplier part orders lineitem events documents "
              "embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    fails = []
    for c in checks:
        files = sorted(glob.glob(os.path.join(c["path"], "*.parquet")))
        # an oracle query that cannot finish in time leaves the result
        # unverified, which counts as a failed check
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files])) if files else None
            exp = norm(con.execute(c["sql"]).df())
        except Exception as e:
            fails.append(f"{c['id']}: {type(e).__name__}: {e}")
            continue
        finally:
            timer.cancel()
        if got is None:
            if len(exp):
                fails.append(f"{c['id']}: no rows, oracle has {len(exp)}")
            continue
        if list(got.columns) != list(exp.columns):
            fails.append(f"{c['id']}: columns {list(got.columns)} vs {list(exp.columns)}")
            continue
        if len(got) != len(exp):
            fails.append(f"{c['id']}: {len(got)} rows vs oracle {len(exp)}")
            continue
        for col in got.columns:
            g, e = got[col], exp[col]
            if not (g.isna() == e.isna()).all():
                fails.append(f"{c['id']}: column {col} null mask differs")
                break
            g, e = g[~g.isna()], e[~e.isna()]
            if str(g.dtype).startswith("float") or str(e.dtype).startswith("float"):
                same = (g.astype(float).values == e.astype(float).values).all()
            else:
                same = (g.astype(str).values == e.astype(str).values).all()
            if not same:
                fails.append(f"{c['id']}: column {col} values differ")
                break
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(GENERIC))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(SRC):
        die(f"no library sources at {os.path.relpath(SRC, ROOT)}; run from a checkout", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jvms_before, load_before = java_pids(), os.getloadavg()
    cp = build()

    t_setup = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    import gen
    data = os.path.join(WORK, "data")
    sizes = gen.gen_tables(data, a.seed, SF)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", WORK,
            "--out", os.path.join(WORK, "result.json"),
            "--t0", str(int(t_setup * 1000)), "--cpus", str(len(os.sched_getaffinity(0)))]
    if a.workload == "nightly_close":
        up = gen.gen_uploads(os.path.join(WORK, "uploads"), a.seed, CLOSE_DAYS)
        plan = os.path.join(WORK, "uploads.tsv")
        with open(plan, "w") as f:
            f.write(f"{up['stores']}\t{up['rows_total']}\t{up['rows_bad']}\t{up['bytes']}\n")
            for w in up["waves"]:
                f.write(f"{w['day']}\t{w['dir']}\n")
        args += ["--uploads", plan]
    run_jvm(cp, args, os.path.join(WORK, "jvm.log"))

    with open(os.path.join(WORK, "result.json")) as f:
        res = json.load(f)
    fails = list(res["failures"]) + oracle_checks(res["oracle"], data)
    attempted = int(res["attempted"]) + len(res["oracle"])
    failed = len(fails)
    stamp = dict(res["stamp"])
    stamp.update({"commit": commit(), "source_sha1": source_digest(),
                  "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
                  "jvms_before": jvms_before, "jvms_after": java_pids(),
                  "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "sf": SF,
                  "tables": sizes})
    with open(os.path.join(WORK, "stamp.json"), "w") as f:
        json.dump(stamp, f)

    values = dict(res["metrics"])
    values.update(res["layers"])
    for generic, own in GENERIC[a.workload].items():
        values[generic] = values[own]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    for line in res["report"]:
        print(line)
    for name in sorted(values):
        print(f"  {name} = {values[name]}")
    print(f"stamp: {json.dumps(stamp)}")
    print(f"checks: {attempted} operations, {failed} failed, "
          f"{len(res['oracle'])} oracle comparisons")
    for msg in fails[:20]:
        print(f"  FAIL {msg}")
    if a.trace:
        last = os.path.join(HERE, "target", f"untraced-{a.workload}.json")
        print(f"tracing bookkeeping: {res['trace_bookkeeping_ms']:.2f} ms in the JVM")
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            for m in spec["end_to_end"]:
                n = m["name"]
                if base.get(n) and n in values:
                    print(f"tracing overhead on {n}: traced {values[n]:.4g} vs "
                          f"untraced {base[n]:.4g} ({values[n] / base[n] - 1:+.1%})")
        else:
            print("tracing overhead: no untraced run of this workload in this checkout yet")
    else:
        os.makedirs(TARGET, exist_ok=True)
        with open(os.path.join(TARGET, f"untraced-{a.workload}.json"), "w") as f:
            json.dump(values, f)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
