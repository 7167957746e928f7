#!/usr/bin/env python3
"""Benchmark of the POS analytics engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine from
`src/main/scala` together with the benchmark's Scala sources
(`perfbench/build.sbt`) and caches the classpath under `.bench_build/`;
later runs reuse it until a source file changes.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: every end-to-end metric
of BENCHMARK.json with `--trace 0`, every per-layer metric with
`--trace 1`. The full record of the run (run context, checks, findings,
per-operation ledger, tracing overhead) is written to
`.bench_build/results/`; `perfbench/ledger.py` compares two of them.

Other modes: `--selftest` runs the benchmark's own tests, and
`--record-digests` (with `--workload query_light` or `query_heavy`)
rewrites that workload's entries in `perfbench/expected_digests.json`.
"""

import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pos_pipeline", "query_light", "query_heavy")
# a run of a workload BENCHMARK.json lists must end within 180 s;
# query_heavy, run by hand, takes about three minutes
RUN_LIMIT_S = 175
BY_HAND_LIMIT_S = 600
BUILD_LIMIT_S = 800
JVM_HEAP = "3g"
# per-layer metrics of the pipeline's own layers: a query workload never
# enters them, so there they read 0; every other per-layer metric must be
# reported by the run
PIPELINE_ONLY = (
    "Ingest.jobs", "TableStore.rows_written", "TableStore.bytes_written",
    "TableStore.files_written", "TableStore.live_versions",
    "TableStore.rewrite_ratio", "JdbcUpsertSink.rows_written",
    "JdbcUpsertSink.useful_ratio", "DailyLoadJob.rows")
NOT_ENTERED = {"query_light": PIPELINE_ONLY, "query_heavy": PIPELINE_ONLY}

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# the engine's build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a cached build is reused
    only for identical sources."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build once per source stamp; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the engine")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", "build.log")
    print("perfbench: building the engine and the benchmark (log: "
          f"{os.path.relpath(log, ROOT)})", file=sys.stderr)
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build did not finish within {BUILD_LIMIT_S} s", 1)
        out.write(proc.stdout)
    # sbt prefixes its log lines with "[level]"; `export` prints the
    # classpath bare
    cp = [l.strip() for l in proc.stdout.splitlines()
          if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        tail = "\n".join(proc.stdout.splitlines()[-30:])
        fail(f"build failed (exit {proc.returncode}):\n{tail}", 1)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
    return cp[-1]


def java_cmd(cp, work, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file in the system temp directory
    return [java, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", *opens,
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, main, *args]


def run_jvm(cmd, work, log, deadline):
    """Exit code of the JVM, or None when it ran past the deadline. The
    JVM is stopped and waited for on every way out, a signal included."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: keep its
    # shuffle and spill files inside the run's work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=err,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def log_tail(log, n=40):
    try:
        with open(log, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def java_processes():
    """Running `java` processes on the host (this run's JVM excluded:
    it is only counted while it runs)."""
    n = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as fh:
                n += fh.read().strip() == "java"
        except OSError:
            pass
    return n


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields)
    except OSError:
        return 0, 0


def run_context():
    steal, total = cpu_jiffies()
    return {"loadavg": list(os.getloadavg()), "java_processes": java_processes(),
            "cpus": os.cpu_count(), "steal_jiffies": steal,
            "cpu_jiffies": total, "time": time.time()}


def latest_result(workload, trace, seed):
    """Most recent saved record of `workload` with the given trace flag,
    preferring the same seed."""
    found = []
    for f in glob.glob(os.path.join(BUILD, "results", workload, "*.json")):
        try:
            with open(f) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        if rec.get("trace") == trace:
            found.append((rec.get("seed") == seed, rec["context"]["after"]["time"], rec))
    return max(found, key=lambda x: x[:2])[2] if found else None


def main():
    # a terminating signal unwinds through the `finally` blocks, which
    # stop the JVM and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources at {ROOT} (expected build.sbt and src/main/scala): "
             "run from a checkout of the repository")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail("BENCHMARK.json is missing from the repository root")
    with open(spec_file) as fh:
        spec = json.load(fh)

    cp = classpath()
    listed = {w["name"] for w in spec["workloads"]}
    limit = RUN_LIMIT_S if a.workload in listed or a.selftest else BY_HAND_LIMIT_S
    deadline = time.time() + limit
    work = os.path.join(BUILD, "work", f"{os.getpid()}")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)

    if a.selftest:
        log = os.path.join(logs, "selftest.log")
        try:
            code = run_jvm(java_cmd(cp, work, "perfbench.SelfTest", []), work, log, deadline)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(log_tail(log, 20), end="")
        sys.exit(0 if code == 0 else 1)

    if not a.workload:
        fail("--workload is required")
    record_file = os.path.join(work, "record.json")
    digests = os.path.join(HERE, "expected_digests.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cache", os.path.join(BUILD, "inputs"),
            "--out", record_file, "--digests", digests]
    if a.record_digests:
        args += ["--record-digests", digests]
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    before = run_context()
    try:
        code = run_jvm(java_cmd(cp, work, "perfbench.Main", args), work, log, deadline)
        if code is None:
            fail(f"run exceeded {limit} s and was stopped\n{log_tail(log)}", 1)
        if code != 0 or not os.path.exists(record_file):
            fail(f"benchmark JVM exited with {code}\n{log_tail(log)}", 1)
        with open(record_file) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    after = run_context()
    ticks = after["cpu_jiffies"] - before["cpu_jiffies"]
    rec["context"] = {
        "before": before, "after": after, "wall_s": time.time() - started,
        # CPU time the hypervisor gave to other guests during the run
        "steal_share": (after["steal_jiffies"] - before["steal_jiffies"]) / ticks
        if ticks > 0 else None}
    untraced = latest_result(a.workload, False, a.seed) if a.trace else None
    rec["trace_overhead"] = None if untraced is None else {
        "untraced_seed": untraced["seed"],
        **{k: v - untraced["e2e"][k] for k, v in rec["e2e"].items()
           if k in untraced["e2e"]}}
    out_dir = os.path.join(BUILD, "results", a.workload)
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S", time.gmtime())
    with open(os.path.join(out_dir, f"{stamp}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = dict(rec["layers"], **rec["setup"]) if a.trace else rec["e2e"]
    absent = NOT_ENTERED.get(a.workload, ()) if a.trace else ()
    missing = [m["name"] for m in wanted
               if m["name"] not in source and m["name"] not in absent]
    if missing:
        fail(f"the run did not report {', '.join(missing)}", 1)
    metrics = {m["name"]: {"value": source.get(m["name"], 0), "unit": m["unit"]}
               for m in wanted}
    for f in rec["findings"]:
        print(f"perfbench: finding: {f}", file=sys.stderr)
    for c in rec["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
