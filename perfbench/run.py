#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. The first run builds graft and the
benchmark program from source with sbt (offline); later runs reuse the
build while the sources are unchanged. The run's inputs come from
--seed, the JVM measures for --seconds, the outputs are checked, and the
last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0), or its
per-layer metrics from a traced run (--trace 1). A traced run also keeps
its spans and counters in perfbench/.work/trace-<workload>-s<seed>.json.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
WORK = os.path.join(HERE, ".work")
ORACLE_CACHE = os.path.join(HERE, ".cache", "oracle")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads: both builds' definitions and sources."""
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(d, f) for d in (HERE, ROOT)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark program; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("graft's build not found next to the benchmark (build.sbt)")
    fp = fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Compile/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if "scala-2.13" in ln and ln.strip().startswith("/")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, fh)
    return cp[-1]


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: runs are short, and C2 compile threads would compete with
    # Spark's task threads for the cores
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
           "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:  # also on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = [ln for ln in fh if ln.startswith("[perfbench]")]
        sys.stderr.write("".join(tail[-20:]))
        fail("benchmark JVM timed out" if code is None
             else f"benchmark JVM exited with {code}", 2 if code == 2 else 1)


def load_check_oracle():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_mismatches(work):
    """Compare each pack query's output with its DuckDB oracle, using
    tools/check_oracle.py's rules. Oracle answers are cached by the input
    files' and the SQL's content. Returns {query: reason} for every query
    that does not match.
    """
    import duckdb
    import pandas as pd
    check = load_check_oracle()
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, 'input', t)}.parquet')")
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    inputs = hashlib.sha256()
    for t in ("documents", "embeddings"):
        with open(os.path.join(work, "input", f"{t}.parquet"), "rb") as fh:
            inputs.update(hashlib.sha256(fh.read()).digest())
    bad = {}
    for q, sql in sorted(sqls.items()):
        files = sorted(
            os.path.join(out, q, f) for f in os.listdir(os.path.join(out, q))
            if f.endswith(".parquet")) if os.path.isdir(os.path.join(out, q)) else []
        if not files:
            bad[q] = "no output"
            continue
        key = hashlib.sha256(inputs.digest() + sql.encode()).hexdigest()[:24]
        cached = os.path.join(ORACLE_CACHE, f"{q}-{key}.pkl")
        if os.path.exists(cached):
            want = pd.read_pickle(cached)
        else:
            want = con.execute(sql).fetch_df()
            want.to_pickle(cached)
        got = con.execute("SELECT * FROM read_parquet(?)", [files]).fetch_df()
        err = check.compare(q, want, got)
        if err:
            bad[q] = err
    con.close()
    return bad


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]} | {"cdc_mor"}:
        fail(f"unknown workload {a.workload}")
    classpath = build()

    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "input"))
    try:
        if a.workload == "curation_pack":
            sys.dont_write_bytecode = True
            sys.path.insert(0, HERE)
            import gen_pack
            gen_pack.write(a.seed, os.path.join(work, "input"))
        result_file = os.path.join(work, "result.json")
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", work, "--out", result_file], work)
        with open(result_file) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res["notes"])
        if a.workload == "curation_pack":
            # every execution of a mismatching query produced that output
            for q, why in oracle_mismatches(work).items():
                failed += res["passes"]
                notes.append(f"{q}: oracle mismatch: {why}")
        for n in notes:
            print(f"[perfbench] {n}", file=sys.stderr)
        e2e = dict(res["end_to_end"])
        e2e["ok_rate"] = 1.0 - failed / attempted
        if a.trace:
            names, values = spec["per_layer"], res["per_layer"]
            with open(os.path.join(work, "spans.json")) as fh:
                spans = json.load(fh)
            with open(os.path.join(WORK, f"trace-{a.workload}-s{a.seed}.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                           "end_to_end_traced": e2e, "per_layer": values,
                           "session_s": res["session_s"],
                           "setup_after_session_s": res["setup_after_session_s"],
                           "notes": notes,
                           "spans": spans}, fh, indent=1)
        else:
            names, values = spec["end_to_end"], e2e
        metrics = {}
        for m in names:
            v = values.get(m["name"], 0.0)  # a span this workload does not run
            if v is None:
                fail(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
