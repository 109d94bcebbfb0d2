#!/usr/bin/env python3
"""Layer-budget benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload batch_scan --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

Builds the engine and the harness from source (once per source tree, with
sbt), generates the workload's tables from the seed, runs the harness JVM
(`graft.perfbench.Main`), checks the declared queries it dumped against the
DuckDB oracle, and prints every metric by name with its unit. The last line
of stdout is one JSON object: `correct`, `attempted`, `failed`, `metrics`
(the end-to-end metrics with `--trace 0`, the per-layer ones with
`--trace 1`). A traced run starts an untraced process of the same seed
first, for `trace.overhead_frac`. `--smoke` runs every workload once,
untraced and traced, on tables of the smallest scale (sf 0.001).

Everything is written under `.perfbench/` at the root of the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["batch_scan", "lakehouse_day"]
# table scale factor per workload (lineitem = 6M x sf rows; documents and
# embeddings have 500 rows at least)
SCALE = {"batch_scan": 0.05, "lakehouse_day": 0.01}
SMOKE_SCALE = 0.001
DEADLINE_S = 172  # a run (after the build) must end within this
STAMP = [""]  # hash of the sources the harness was built from
BUILD_TIMEOUT_S = 700
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    pats = ["build.sbt", "project/*.properties", "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*.scala"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)})
    return files


def build():
    """Compile engine + harness once per source tree; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the engine sources (build.sbt, src/main/scala) "
                         "are not beside the benchmark directory")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(OUT, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        STAMP[0] = stamp
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    log("perfbench: building engine and harness with sbt ...")
    logf = os.path.join(bdir, "sbt.log")
    with open(logf, "w") as lf:
        tmp = os.path.join(bdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.forcestart=false", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S,
            # sbt's launcher and every JVM it starts keep temporary files here
            env=dict(os.environ, TMPDIR=tmp,
                     JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    lines = open(logf).read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed (see .perfbench/build/sbt.log)")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    STAMP[0] = stamp
    return cps[-1]


def run_jvm(cp, workload, seed, seconds, trace, data, work, extra, deadline):
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xms3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--data", data, "--work", work, "--out", out] + extra
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=os.path.join(work, "tmp"))
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {workload} exceeded the {DEADLINE_S} s run limit")
    if rc != 0 or not os.path.exists(out):
        log("\n".join(open(logf).read().splitlines()[-40:]))
        raise SystemExit(f"perfbench: {workload} process failed (exit {rc})")
    return json.load(open(out))


def oracle_check(res, data, work):
    """Hash-compare each dumped declared query with its DuckDB oracle, using
    the canonical hash of tools/local_verify.py."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    import duckdb
    from local_verify import TABLES, canon
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(res["oracle_sql"].items()):
        got = con.execute(f"SELECT * FROM '{work}/oracle/{name}/*.parquet'")
        gcols = [c[0] for c in got.description]
        g = canon(got.fetchall(), gcols)
        exp = con.execute(sql)
        ecols = [c[0] for c in exp.description]
        e = canon(exp.fetchall(), ecols)
        if sorted(gcols) != sorted(ecols) or g != e:
            bad.append((name, f"oracle mismatch: {name} rows {g[1]} vs {e[1]}"))
    return bad


def history_check(res, workload, seed, sf):
    """Results and structural counters must repeat across runs of one seed
    on one build: compare with what earlier runs recorded, then record.
    Returns the keys (pass:index) of the executions that differ."""
    path = os.path.join(OUT, "history", STAMP[0], f"{workload}-{seed}-{sf}.json")
    old = json.load(open(path)) if os.path.exists(path) else {"digests": {}, "counters": {}}
    new = {"digests": {f"{d['pass']}:{d['index']}": [d["rows"], d["hash"]]
                       for d in res["digests"]},
           "counters": {f"{c['pass']}:{c['index']}": c["counters"] for c in res["counters"]}}
    bad = {key for kind in ("digests", "counters") for key in new[kind]
           if key in old[kind] and old[kind][key] != new[kind][key]}
    for kind in new:
        old[kind].update(new[kind])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(old, f)
    return sorted(bad)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def check(res, workload, seed, sf, data, work):
    """Failure messages and the set of failed units of one process: an
    execution (pass:index), the end-of-run checks, or an oracle query.
    A unit fails once however many of its checks fail."""
    failures = list(res["failures"])
    failed = set(res["failed_keys"])
    for m in res["repeat_mismatches"]:
        failures.append(f"structural counters of {m['op']} ({m['key']}) differ "
                        f"from its first measured execution")
        failed.add(m["key"])
    for key in history_check(res, workload, seed, sf):
        failures.append(f"result or counters of execution {key} differ from an "
                        f"earlier run of seed {seed}")
        failed.add(key)
    for name, msg in oracle_check(res, data, work):
        failures.append(msg)
        failed.add("oracle:" + name)
    return failures, len(failed)


def one(cp, workload, seed, seconds, trace, sf, extra):
    """One benchmark run: end-to-end metrics from an untraced process;
    with `trace`, per-layer ones from a traced process of the same seed
    started after it."""
    deadline = time.monotonic() + DEADLINE_S
    top = os.path.join(OUT, "run", workload)
    shutil.rmtree(top, ignore_errors=True)
    data = os.path.join(top, "data")
    t0 = time.monotonic()
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), data, str(seed), str(sf)],
                   check=True, stdin=subprocess.DEVNULL)
    gen_s = time.monotonic() - t0
    # a traced run reports no setup_s, so neither process repeats set-up;
    # the untraced reference dumps nothing for the oracle: its results
    # must equal the traced process's anyway
    reps = ["--setup-reps", "1"] if trace else []
    procs = [(False, run_jvm(cp, workload, seed, seconds, False, data, os.path.join(top, "plain"),
                             reps + (["--oracle", "0"] if trace else []) + extra, deadline))]
    if trace:
        procs.append((True, run_jvm(cp, workload, seed, seconds, True, data,
                                    os.path.join(top, "traced"), reps + extra, deadline)))
    failures, attempted, failed = [], 0, 0
    for traced, res in procs:
        f, n = check(res, workload, seed, sf, data,
                     os.path.join(top, "traced" if traced else "plain"))
        failures += f
        failed += n
        attempted += res["attempted"] + len(res["oracle_sql"])
    plain, res = procs[0][1], procs[-1][1]
    layers = dict(res["per_layer"])
    if trace:
        layers["ops_failed_frac"] = failed / attempted
        base = plain["end_to_end"]["warm_total_s"]
        layers["trace.overhead_frac"] = res["end_to_end"]["warm_total_s"] / base - 1 \
            if base > 0 else 0.0
    return dict(workload=workload, res=plain, e2e=dict(plain["end_to_end"]), layers=layers,
                gen_s=gen_s, failures=failures, attempted=attempted, failed=failed,
                correct=not failures)


def show(r, e2e_units, layer_units, trace):
    res = r["res"]
    print(f"== {r['workload']}: seed {res['seed']}, warm passes {res['warm_passes']}, "
          f"closed loop, 1 client, local[{os.cpu_count()}]")
    for k, v in sorted(res["inputs"].items()):
        print(f"   input {k} = {v:g}")
    print(f"   (input generation took {r['gen_s']:.3g} s, not part of setup_s)")
    for k in e2e_units:
        if k in r["e2e"]:
            print(f"   {k} = {r['e2e'][k]:.6g} {e2e_units[k]}")
    t = res["tail"]
    print(f"   op_tail_s is the slowest operation's warm median; p{t['percentile']:.1f} of the "
          f"{int(t['samples'])} warm samples is {t['value_s']:.6g} s")
    print(f"   ops_failed_frac = {r['failed'] / r['attempted']:.6g} ratio "
          f"({r['failed']} of {r['attempted']})")
    if trace:
        for k in layer_units:
            print(f"   {k} = {r['layers'].get(k, 0.0):.6g} {layer_units[k]}")
    for f in r["failures"]:
        print(f"   FAILED {f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    wls = WORKLOADS if a.workload == "all" or a.smoke else [a.workload]
    if any(w not in WORKLOADS for w in wls):
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    e2e_units, layer_units = bench_spec()
    cp = build()
    runs = []
    for w in wls:
        if a.smoke:
            runs.append(one(cp, w, a.seed, 0, True, SMOKE_SCALE,
                            ["--max-warm", "3"]))
        else:
            runs.append(one(cp, w, a.seed, a.seconds, a.trace == 1, SCALE[w], []))
    trace = a.trace == 1 or a.smoke
    for r in runs:
        show(r, e2e_units, layer_units, trace)
    last = runs[-1]
    units = layer_units if a.trace and not a.smoke else e2e_units
    src = last["layers"] if a.trace and not a.smoke else last["e2e"]
    print(json.dumps({
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {k: {"value": src.get(k, 0.0), "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
