#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 graftbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the engine and
the benchmark from source with sbt (offline) into the checkout; later
runs reuse the build while the sources are unchanged. Each run starts
one JVM with `local[3]` executor threads, runs the workload's set-up and
its fixed amount of timed work, checks the outputs, and prints as its
last stdout line:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 runs the same work
untraced and then traced, and prints the per-layer metrics. Spans of a
traced run are written to .bench_build/traces/. See README.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "graftbench.jsa")
THREADS = 3
WORKLOADS = ("relational", "cdc-stream", "curation-epochs")
# Read-only tables the relational and curation-epochs workloads read
# (sf0.01, and sf0.001 in the build's training run); cdc-stream
# generates its input from the seed.
TESTDATA = os.environ.get("GRAFTBENCH_TESTDATA",
                          os.path.expanduser("~/testdata"))
DEADLINE_S = 170  # every run, build excluded, ends within this
# Spark on JDK 17 outside spark-submit needs these opens (the list in
# org.apache.spark.launcher.JavaModuleOptions, as in the root build).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["graftbench/run.py", "build.sbt", "project/build.properties", "src/main",
             "graftbench/build.sbt", "graftbench/project/build.properties",
             "graftbench/src/main"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = env.get("SBT_OPTS") or " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g"])
    # sbt's global state (compiler bridge, server socket) stays in the
    # checkout; dependencies resolve from the offline cache.
    env["SBT_OPTS"] = sbt_opts + " " + " ".join([
        f"-Dsbt.global.base={BUILD}/sbt-global",
        f"-Dsbt.ivy.home={BUILD}/ivy", "-Dsbt.server.forcestart=false"])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export graftbench/Runtime/fullClasspathAsJars"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if ln.startswith(ROOT) and ".jar" in ln]
    if r.returncode != 0 or not cps:
        fail("build failed, see " + log + "\n" + "\n".join(lines[-20:]))
    train(cps[-1])
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cps[-1]}, fh)
    return cps[-1]


def train(classpath):
    """Record the class-data archive every run maps at start-up: one
    short JVM over every workload's code path on tiny inputs."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_dir = os.path.join(BUILD, "training")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        rec = run_jvm(classpath, "training", 0, 1, 0, run_dir,
                      [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                      time.time() + 600, record=False)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        fail("training run wrote no class-data archive")
    return rec


def run_jvm(classpath, workload, seed, seconds, trace, run_dir, jvm_opts,
            deadline, record=True):
    out = os.path.join(run_dir, "record.json")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dderby.system.home={run_dir}", *ADD_OPENS, *jvm_opts,
           "-cp", classpath, "graftbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--threads", str(THREADS), "--run-dir", run_dir,
           "--testdata", TESTDATA, "--out", out]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} ran past its deadline")
    if p.returncode != 0 or (record and not os.path.exists(out)):
        with open(log) as fh:
            tail = fh.read().splitlines()[-30:]
        fail(f"JVM exited {p.returncode}:\n" + "\n".join(tail))
    if record:
        with open(out) as fh:
            return json.load(fh)


def oracle_check(run_dir, data, deadline):
    """tools/check.py over the dumped results: one (name, ok) each."""
    oracle = os.path.join(run_dir, "oracle")
    if not os.path.isdir(oracle):
        return []
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"),
         data, oracle],
        capture_output=True, text=True, stdin=subprocess.DEVNULL,
        timeout=max(1, deadline - time.time()))
    res = []
    for ln in r.stdout.splitlines():
        if ln.startswith(("PASS ", "FAIL ")):
            res.append((ln.split()[1].rstrip(":"), ln.startswith("PASS")))
            if ln.startswith("FAIL"):
                print(f"graftbench: oracle {ln}", file=sys.stderr)
    if r.returncode != 0 and all(ok for _, ok in res):
        res.append(("check.py", False))
        print(r.stdout[-2000:] + r.stderr[-2000:], file=sys.stderr)
    return res


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(rec):
    lat = [ms for _, ms, ok in rec["ops"] if ok]
    return {"setup_s": metric(rec["setup_s"], "s"),
            "wall_s": metric(rec["wall_s"], "s"),
            "latency_p50_ms": metric(stats.percentile(lat, 50), "ms"),
            "events_per_s": metric(rec["items"] / rec["wall_s"], "1/s")}


def latency_shape(rec):
    """Sample count, and the tail percentile the samples support (the
    highest with ten or more samples beyond it) with its value."""
    lat = [ms for _, ms, ok in rec["ops"] if ok]
    p = stats.tail_percentile(len(lat))
    return {"samples": len(lat), "tail_percentile": p,
            "latency_tail_ms": stats.percentile(lat, p) if p else None}


# Layers of the spans a traced run records; self time is reported for
# each, 0 where a workload does not pass through the layer.
SPAN_LAYERS = ("operation", "catalog", "action", "plans", "scheduler",
               "curation", "sources", "streaming")


def per_layer(rec):
    tr = rec["trace"]
    m = {k: metric(v, u) for k, (v, u) in tr["metrics"].items()}
    self_ms = stats.self_times(tr["spans"])
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_ms"] = metric(self_ms.get(layer, 0.0), "ms")
    m["trace.wall_s"] = metric(tr["wall_s"], "s")
    m["trace.untraced_wall_s"] = metric(tr["untraced_wall_s"], "s")
    m["trace.overhead_s"] = metric(tr["wall_s"] - tr["untraced_wall_s"], "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} under {ROOT}: run from a spark-graft checkout")
    for sf in ("sf0.001", "sf0.01"):
        if not os.path.isdir(os.path.join(TESTDATA, sf)):
            fail(f"testdata {TESTDATA}/{sf} is missing")
    classpath = build()

    started = time.time()
    deadline = started + DEADLINE_S
    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        rec = run_jvm(classpath, args.workload, args.seed, args.seconds,
                      args.trace, run_dir,
                      [f"-XX:SharedArchiveFile={ARCHIVE}"], deadline)
        checks = [(n, ok) for n, ok, _ in rec["checks"]]
        checks += oracle_check(run_dir, rec["oracle_data"], deadline)
        if args.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces",
                                   f"{args.workload}-s{args.seed}.json"),
                      "w") as fh:
                json.dump(rec["trace"], fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = rec["attempted"] + (len(checks) - len(rec["checks"]))
    failed = rec["failed"] + sum(
        1 for _, ok in checks[len(rec["checks"]):] if not ok)
    by_name = {}
    for name, ms, _ in rec["ops"]:
        by_name.setdefault(name, []).append(ms)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "threads": THREADS, **latency_shape(rec),
                      "notes": rec["notes"],
                      "op_median_ms": {k: round(stats.percentile(v, 50), 1)
                                       for k, v in sorted(by_name.items())},
                      "ops_ms": [round(ms) for _, ms, _ in rec["ops"]],
                      "checks": checks,
                      "run_s": round(time.time() - started, 1)}),
          file=sys.stderr)
    metrics = per_layer(rec) if args.trace else end_to_end(rec)
    print(json.dumps({"correct": failed == 0 and all(ok for _, ok in checks),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
