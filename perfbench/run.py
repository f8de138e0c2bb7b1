#!/usr/bin/env python3
"""Run one graft benchmark workload and print its one-line JSON result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
library and the harness with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Each run starts
one JVM (`perfbench.Main`), which sets up Spark, generates and stages the
seeded inputs, builds the workload's index, runs its fixed closed-loop
schedule and checks every output against the planted truth.

The last line of stdout is `{"correct", "attempted", "failed", "metrics"}`
with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). The full record, with the load average
at the start and end of the run, is kept under `.bench_build/results/`
for `perfbench/compare.py`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD = ".bench_build"
# the JVM always gets RUN_LIMIT_S once the build is done; a first run in a
# fresh checkout (build + run) must end within 900 s, so the build gets
# what is left of that after the run's limit and a margin
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 900 - RUN_LIMIT_S - 25

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint(root):
    """Digest of every input of the build (names, sizes, mtimes)."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s, log_path):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def build(root):
    """Compile library + harness once per source state; return the classpath."""
    out = os.path.join(root, BUILD)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    fp_file = os.path.join(out, "fingerprint.txt")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = source_fingerprint(root)
        if os.path.exists(cp_file) and os.path.exists(fp_file):
            with open(fp_file) as f:
                if f.read() == fp:
                    with open(cp_file) as c:
                        return c.read().strip()
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        log = os.path.join(out, "build.log")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
        try:
            code = run_bounded(cmd, os.path.join(root, "perfbench"), env, BUILD_LIMIT_S, log)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        if code != 0:
            fail(f"build failed (exit {code}); see {log}")
        with open(log, errors="replace") as f:
            lines = [l.strip() for l in f if l.strip()]
        cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
        if cp is None:
            fail(f"build printed no classpath; see {log}")
        with open(cp_file, "w") as c:
            c.write(cp)
        with open(fp_file, "w") as f:
            f.write(fp)
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_bounded kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    started = time.time()
    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload} (one of {', '.join(names)})")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    load_start = os.getloadavg()
    classpath = build(root)
    build_s = time.time() - started

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(root, BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", record_path])
    log = os.path.join(work, "jvm.log")
    try:
        code = run_bounded(cmd, root, dict(os.environ), RUN_LIMIT_S, log)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s; see {log}", 3)
    if code != 0 or not os.path.exists(record_path):
        fail(f"benchmark JVM exited {code}; see {log}", 3)
    load_end = os.getloadavg()

    with open(record_path) as f:
        record = json.load(f)
    record["load_avg_start"] = list(load_start)
    record["load_avg_end"] = list(load_end)
    record["build_wait_s"] = build_s
    results = os.path.join(root, BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}-{int(started)}.json"), "w") as f:
        json.dump(record, f, indent=1)

    source = record["per_layer"] if args.trace else record["end_to_end"]
    metrics = {}
    for m in wanted:
        value = source.get(m["name"])
        if value is None:
            fail(f"metric {m['name']} missing from the run record", 4)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(results, f"{tag}-{int(started)}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {args.workload} seed={args.seed} load_avg start={load_start[0]:.2f} "
          f"end={load_end[0]:.2f} reads={record['detail']['reads']} "
          f"writes={record['detail']['writes']} quality="
          + ",".join(f"{k}={v['value']:.4f}" for k, v in sorted(record["detail"]["quality"].items())))
    print(json.dumps({"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
