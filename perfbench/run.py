#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (the
engine's sources plus perfbench/src) with sbt; later runs reuse the build
while the sources are unchanged. The JVM runs Spark as local[nproc] and
prints one PERFBENCH_RESULT line; this script checks the curation queries'
results against their DuckDB oracles, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer one (--trace 1). It exits non-zero when an output is wrong.

Extra options: --smoke (tiny inputs, for the benchmark's own tests),
--check-inputs (generate each input twice per seed and compare the bytes)
and --set NAME=VALUE (override a workloads.json parameter; the tests use it
to break the engine's configuration and see the checks fail).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
WORKLOADS = os.path.join(HERE, "workloads.json")
OUT = os.path.join(HERE, "out")
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# A fixed heap and young generation: with adaptive sizing the peak RSS of
# the same run varied by a quarter; fixed, it repeats within a few percent.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-Xmn768m"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness with sbt unless the sources are unchanged since
    the last build; return the runtime classpath."""
    if not os.path.isdir(ENGINE):
        fail(f"no engine sources at {os.path.relpath(ENGINE, ROOT)}; run from a checkout")
    want = source_hash()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if "perfbench" in ln and "classes" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(want + "\n" + cp)
    return cp


def java(cp, work, args):
    """Run the harness JVM; return its stdout. Work files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [exe, *JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--params", WORKLOADS, "--work", work, "--out", OUT] + args
    # Spark's scratch space follows SPARK_LOCAL_DIRS when it is set: keep it in `work`
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True)
    try:
        out, err = p.communicate(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail("harness timed out")
    sys.stderr.write("".join(ln + "\n" for ln in err.splitlines() if ln.startswith("perfbench:")))
    if p.returncode != 0:
        sys.stderr.write(err[-6000:])
        fail(f"harness exited with {p.returncode}")
    return out


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="first")
    return df.reset_index(drop=True)


def oracle_check(tables, results):
    """Each curation query's result against DuckDB running its oracle SQL on
    the same generated tables, compared as tools/check_oracle.py does.
    Returns the failures."""
    import duckdb
    import numpy as np
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS FROM read_parquet('{tables}/documents.parquet/*.parquet')")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            g = norm(con.sql(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df())
            w = norm(con.sql(sql).df())
            if list(g.columns) != list(w.columns) or len(g) != len(w):
                bad.append(f"{name}: shape {list(g.columns)}x{len(g)} != {list(w.columns)}x{len(w)}")
                continue
            for c in g.columns:
                a, b = g[c], w[c]
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    ok = np.isclose(a.astype(float).to_numpy(), b.astype(float).to_numpy(),
                                    rtol=1e-9, atol=1e-9, equal_nan=True).all()
                else:
                    ok = a.astype(str).equals(b.astype(str))
                if not ok:
                    bad.append(f"{name}: values differ in {c}")
                    break
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed query
            bad.append(f"{name}: {type(e).__name__}: {e}")
    return bad


def check_inputs(cp, args):
    """Same seed → byte-identical inputs; another seed → different ones."""
    with open(WORKLOADS) as fh:
        names = list(json.load(fh))
    ok = True
    for wl in names:
        digests = []
        for i, seed in enumerate((args.seed, args.seed, args.seed + 1)):
            work = os.path.join(HERE, "work", f"inputs-{wl}-{i}-{os.getpid()}")
            try:
                out = java(cp, work, ["--workload", wl, "--seed", str(seed), "--seconds",
                                      str(args.seconds), "--trace", "0", "--gen-only",
                                      os.path.join(work, "inputs")] + (["--smoke"] if args.smoke else []))
                digests.append([ln.split()[1] for ln in out.splitlines()
                                if ln.startswith("PERFBENCH_DIGEST")][0])
            finally:
                shutil.rmtree(work, ignore_errors=True)
        same, other = digests[0] == digests[1], digests[0] != digests[2]
        ok &= same and other
        print(f"{wl}: same seed identical={same}, other seed differs={other}", file=sys.stderr)
    print(json.dumps({"inputs_deterministic": ok}))
    sys.exit(0 if ok else 1)


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--check-inputs", action="store_true")
    ap.add_argument("--set", action="append", default=[], metavar="NAME=VALUE")
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_file) as fh:
        bench = json.load(fh)
    cp = build()
    if args.check_inputs:
        check_inputs(cp, args)
    with open(WORKLOADS) as fh:
        known = json.load(fh)
    if args.workload not in known:
        fail(f"unknown workload {args.workload}")

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        out = java(cp, work, ["--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace)]
                   + (["--smoke"] if args.smoke else [])
                   + [a for kv in args.set for a in ("--set", kv)])
        lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
        if not lines:
            fail("harness printed no result")
        rec = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        notes = list(rec["notes"])
        attempted, failed = rec["attempted"], rec["failed"]
        if "oracle_results" in rec:
            bad = oracle_check(rec["oracle_tables"], rec["oracle_results"])
            failed += len(bad)
            notes += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        rec["per_layer"]["failed_frac"] = failed / max(1, attempted)
        defs, values = bench["per_layer"], rec["per_layer"]
    else:
        defs, values = bench["end_to_end"], rec["end_to_end"]
    metrics = {}
    for m in defs:
        v = values.get(m["name"])
        if v is None:
            if not args.trace:
                notes.append(f"end-to-end metric {m['name']} was not measured")
                failed += 1
            v = 0.0  # a per-layer metric the workload's layers never reach
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    rec.update(attempted=attempted, failed=failed, notes=notes, wall_s=time.time() - started)
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"run-{tag}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    for n in notes:
        print(f"perfbench: {n}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
