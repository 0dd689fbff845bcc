#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload bus|ladder \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (`perfbench/build.sbt`) with sbt into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run generates its
input tables from the seed (`gen.py`), runs the JVM harness
(`Harness.scala`; twice for `bus`, pooling the two), checks every
output (batch results against their DuckDB oracle, bus events against
the send schedule) and prints, as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json untraced, or its
per-layer metrics traced. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Workload definitions. Batch workloads: scale factor of the generated
# tables, the queries of one pass (run in a seed-drawn order) and the
# nominal wall of a warm pass on 4 cores, which sets how many passes fill
# `--seconds`; the choice of queries is explained in NOTES.md. Bus: the
# low rate, the loop's measured drain rate, which sizes the overload
# backlogs, and the number of JVMs a run is split over (each measures
# its share of `--seconds`; one JVM's speed varies more than a run's
# bound allows, NOTES.md).
WORKLOADS = {
    "bus": {"low_eps": 5000, "plateau_eps": 150000, "jvms": 2},
    "ladder": {"sf": 0.001, "pass_s": 8.0,
               "queries": ["q339_lpa_modularity", "q333_stream_view_abandonment"]},
}
# metrics taken as the median of the samples of all of a run's JVMs
# together: name -> sample
POOLED = {"lat_p50_ms": "lat_p50_ms", "lat_p90_ms": "lat_p90_ms",
          "pass_s": "drain_s", "trace.pass_s": "drain_s", "peak_eps": "drain_eps"}
CORES = 4
# every harness JVM of a run, with the inputs and the check, must end
# within a fixed allowance for start-up, set-up and the check plus a
# multiple of the measured time, counted from the end of the build
RUN_LIMIT_BASE_S = 110
RUN_LIMIT_PER_S = 5
BUILD_TIMEOUT_S = 850
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ["src/main", "perfbench/src"]:
        for d, _, fs in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness with sbt once per source state; return
    the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                               stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def canon(df):
    """The oracle gate's canonical form: columns sorted by name, values
    stringified, rows sorted."""
    df = df[sorted(df.columns)]
    return sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))


def check_batch(data_dir, out_dir, queries):
    """Hash-match every query's parquet output against its DuckDB oracle;
    return the names that did not match."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracles = json.load(f)
    bad = []
    for q in queries:
        d = os.path.join(out_dir, "check", q)
        if not os.path.isdir(d):
            continue  # the harness already counted the failed query
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
            if q not in oracles:
                continue  # rows-only query: produced output, no oracle
            want = con.sql(oracles[q]).df()
            if sorted(got.columns) != sorted(want.columns) or canon(got) != canon(want):
                bad.append(q)
        except Exception as e:  # unreadable output or oracle error
            print(f"perfbench: check {q}: {e}", file=sys.stderr)
            bad.append(q)
    return bad


def run_jvm(root, cp, run_dir, args, seed, seconds, extra, deadline):
    timeout = deadline - time.monotonic()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dgraft.warehouse.dir=file:{os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + tmp,
            "-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
            "--out", os.path.join(run_dir, "out"), "--cores", str(CORES),
            "--src", os.path.join(root, "src/main/scala/graft")]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:  # on timeout the harness is killed and reaped
            if timeout <= 0:
                raise subprocess.TimeoutExpired(cmd, timeout)
            p = subprocess.run(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail("harness did not finish within the run's time limit")
    result = os.path.join(run_dir, "out", "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited with {p.returncode}")
    with open(result) as f:
        return json.load(f)


def merge(results):
    """One result from the run's JVMs: counts summed, every metric the
    median over the JVMs, except those in POOLED, which are medians of
    the samples of all JVMs together."""
    m = {k: statistics.median(r["metrics"][k] for r in results)
         for k in results[0]["metrics"]
         if all(k in r["metrics"] for r in results)}
    for k in ("lat_samples", "low_batches", "drain_batches"):
        if k in m:
            m[k] = sum(r["metrics"][k] for r in results)
    for name, key in POOLED.items():
        pooled = [v for r in results for v in r.get("samples", {}).get(key, [])]
        if pooled and name in m:
            m[name] = statistics.median(pooled)
    sites = {}
    for r in results:
        for site, n in r.get("unattributed_sites", {}).items():
            sites[site] = sites.get(site, 0) + int(n)
    return {"metrics": m,
            "attempted": sum(int(r["attempted"]) for r in results),
            "failed": sum(int(r["failed"]) for r in results),
            "errors": [e for r in results for e in r["errors"]],
            "unattributed_sites": sites}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["none", "drop-batch"], default="none",
                    help="fault for the benchmark's own tests: drop-batch "
                         "loses one bus micro-batch before its sink")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala/graft"))):
        fail("run from the root of a repository checkout (engine sources missing)")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json missing")
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}")
    wl = WORKLOADS[args.workload]

    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)
    deadline = time.monotonic() + RUN_LIMIT_BASE_S + RUN_LIMIT_PER_S * args.seconds

    run_dir = os.path.join(build_dir, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvms = wl.get("jvms", 1)
    extra = {k: v for k, v in wl.items() if k not in ("sf", "pass_s", "queries", "jvms")}
    queries = []
    data_dir = ""
    if "queries" in wl:
        data_dir = gen.generate(os.path.join(run_dir, "data"), wl["sf"], args.seed)
        queries = list(wl["queries"])
        random.Random(args.seed).shuffle(queries)
        extra["queries"] = ",".join(queries)
        extra["data"] = data_dir
        # a fixed pass count, so every run does the same work
        extra["passes"] = max(2, round(args.seconds / wl["pass_s"]))
    results = []
    for rep in range(jvms):
        jvm_extra = dict(extra)
        if args.inject == "drop-batch" and rep == 0:
            jvm_extra["drop_batch"] = 3
        # each JVM measures its share of the run, from its own seed
        results.append(run_jvm(root, cp, os.path.join(run_dir, f"jvm{rep}"), args,
                               args.seed * jvms + rep, args.seconds / jvms,
                               jvm_extra, deadline))
    res = merge(results)
    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    if queries:
        bad = check_batch(data_dir, os.path.join(run_dir, "jvm0", "out"), queries)
        failed += len(bad)
        errors += [f"{q}: output does not match its oracle" for q in bad]
    for e in errors:
        print(f"perfbench: FAIL {e}", file=sys.stderr)
    for site, n in res["unattributed_sites"].items():
        print(f"perfbench: {n} jobs unattributed at {site}", file=sys.stderr)

    m = res["metrics"]
    counts = [f"{k}={int(m[k])}" for k in ("passes", "lat_samples", "low_batches", "drain_batches") if k in m]
    print(f"perfbench: sample counts ({jvms} JVM): {', '.join(counts)}", file=sys.stderr)
    metrics = {}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    for spec_m in wanted:
        name = spec_m["name"]
        v = m.get(name)
        if v is None and args.trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None:
            fail(f"metric {name} not measured")
        metrics[name] = {"value": v, "unit": spec_m["unit"]}
    if args.trace:
        for rep in range(jvms):
            shutil.copy(os.path.join(run_dir, f"jvm{rep}", "out", "spans.jsonl"),
                        os.path.join(build_dir, f"spans-{args.workload}-{rep}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
