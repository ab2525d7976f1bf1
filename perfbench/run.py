#!/usr/bin/env python3
"""graft benchmark: two workloads, end-to-end and per-layer metrics.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload spine --seed 1 --seconds 25 --trace 0

Workloads (see perfbench/README.md):
  spine          Pipeline.prepare + Pipeline.analyzeMsa per protein on
                 generated GISAID-shaped inputs with planted truth; timed
                 warm passes after an untimed cold pass on a small input.
  headline_warm  every 6th SparkEntry.headline query at sf0.01, timed after
                 an untimed cold sweep; results are digest-checked.

The first run in a checkout builds graft and the benchmark with sbt into
.bench_build/. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: the end_to_end metrics named in
BENCHMARK.json with --trace 0, its per_layer metrics with --trace 1. --smoke 1 shrinks every input (used by
perfbench/test_smoke.py); --corrupt 1 damages one output on purpose.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
START = time.monotonic()
DEADLINE_S = 175          # a measuring run must end within 180 s
BUILD_DEADLINE_S = 880    # the first run in a checkout also builds

WORKLOADS = {"spine": None, "headline_warm": "sf0.01"}

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench {time.monotonic() - START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src")]
    tops += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, dirs, fs in os.walk(top):
                dirs[:] = sorted(x for x in dirs
                                 if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)]
            for f in ("build.properties", "plugins.sbt"):
                p = os.path.join(top, "project", f)
                if os.path.isfile(p):
                    files.append(p)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark with sbt")
    t0 = time.monotonic()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_DEADLINE_S - (time.monotonic() - START))
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed (rc={r.returncode}); see {BUILD}/build.log", 1)
    log(f"built in {time.monotonic() - t0:.1f} s")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work):
    """Runs one workload in a fresh JVM; returns its result.json."""
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    # one core stays free for the driver thread, JIT and GC
    cores = max(1, min(4, (os.cpu_count() or 2) - 1))
    java = shutil.which("java")
    if java is None:
        die("java not found", 1)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work,
            "--data", os.path.join(HERE, "data"),
            "--smoke", str(args.smoke), "--corrupt", str(args.corrupt)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log_path = os.path.join(work, "jvm.log")
    budget = DEADLINE_S - (time.monotonic() - START)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(budget, 5))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"workload timed out; see {log_path}", 1)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        die(f"workload failed (rc={rc}):\n{tail}", 1)
    with open(result) as f:
        return json.load(f)


def check_digests(res, sf):
    """Failures of kept query results against the committed digests."""
    if not res["checks"]:
        return []
    import canon
    with open(os.path.join(HERE, "expected", f"{sf}.json")) as f:
        expected = json.load(f)
    con = canon.connect(os.path.join(HERE, "data", sf))
    bad = []
    for c in res["checks"]:
        q = c["query"]
        want = expected.get(q)
        if want is None:
            bad.append(f"q:{q}: no expected digest")
            continue
        rows, dig = canon.digest(
            con, f"SELECT * FROM read_parquet('{c['path']}/*.parquet')")
        if rows != want["rows"]:
            bad.append(f"q:{q}: {rows} rows, expected {want['rows']}")
        elif want["check"] == "digest" and dig != want["digest"]:
            bad.append(f"q:{q}: digest differs from the oracle")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "build.sbt",
                 "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.trace}")
    res = run_jvm(cp, args, work)
    log("workload finished")

    failures = list(res["failures"])
    sf = WORKLOADS[args.workload]
    if sf:
        failures += check_digests(res, sf)
    for msg in failures:
        log(f"FAILED {msg}")
    for msg in res["codegen_failure_samples"]:
        log(f"codegen failure: {msg}")
    attempted = int(res["attempted"])
    failed = min(attempted, len({m.split(": ")[0] for m in failures}))
    layers = dict(res["layers"], **{"check.error_rate": failed / attempted})
    values = dict(res["e2e"]) if args.trace == 0 else layers
    wanted = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}
    missing = [m["name"] for m in spec["end_to_end"]
               if m["name"] not in res["e2e"]]
    if missing:
        die(f"workload reported no {', '.join(missing)}", 1)
    log(f"{args.workload}: notes {res['notes']}; op_tail_s is "
        f"p{layers['ops.tail_percentile']:.1f} of "
        f"{int(layers['ops.samples'])} samples")
    if args.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": res["spans"], "layers": res["layers"]}, f)
        log(f"spans written to {path}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
