#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the harness and
the engine from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run works in its own directory
under .bench_run/ and deletes it at exit. The last line of standard output
is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it is the run's full record
(stamp, every metric, sample counts, per-query detail); it is also appended
to .bench_out/results.jsonl for perfbench/compare.py.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The testbed the batch workloads read (a copy of the sf0.01 tier of the
# engine's oracle testbed) and the digests their answers must match.
TESTBED = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.tsv")

# Heap of the benchmark JVM; part of every run's stamp.
HEAP = "2g"

# JVM flags of the benchmark JVM, also stamped. A run lasts well under a
# minute, too short for C2 to settle: with both JIT tiers the run-to-run
# spread of every timing was dominated by how far C2 had got, and C2's own
# compile threads took half the process CPU. C1 alone reaches its steady
# state within the cold pass. Gains that need C2 (vectorised loops, escape
# analysis) do not show here.
JVM_FLAGS = [f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1"]

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# The child process (sbt or the benchmark JVM) that a signal must take down.
CHILD = None


def on_signal(signum, _frame):
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    sys.exit(128 + signum)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for dirpath, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def source_paths():
    return [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")]


def sha_of(paths):
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source state; return the classpath."""
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_mtime(source_paths()):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait_or_kill(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file) as fh:
        return fh.read().strip()


def wait_or_kill(proc, timeout):
    global CHILD
    CHILD = proc
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def host_cpu_ticks():
    """The machine's CPU time by state (/proc/stat), or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def host_load(before, after):
    """Shares of the machine's CPU time over the run: busy (user + system),
    and stolen by the hypervisor for other tenants, which slows every timing
    of the run together."""
    if before is None or after is None:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy_frac": (d[0] + d[1] + d[2]) / total,
            "steal_frac": (d[7] if len(d) > 7 else 0) / total}


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    global CHILD
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(bench_json) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"), TESTBED):
        if not os.path.exists(p):
            fail(f"{os.path.relpath(p, ROOT)} not found: the benchmark needs the engine's sources")

    classpath = build()

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_run", run_id)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", TESTBED, "--work", work, "--digests", DIGESTS,
            "--trace-out", os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")]
    jvm_log = os.path.join(work, "jvm.log")
    ticks0 = host_cpu_ticks()
    t0 = time.monotonic()
    try:
        with open(jvm_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            CHILD = proc
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                stdout = ""
        lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            with open(jvm_log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"run failed (exit {proc.returncode})")
        record = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        record["host"] = host_load(ticks0, host_cpu_ticks())
        record["jvm_wall_s"] = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass

    record["stamp"].update({
        "jvm_flags": " ".join(JVM_FLAGS),
        "git_commit": git_commit(),
        "engine_sha": sha_of([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]),
        "bench_sha": sha_of([HERE + os.sep + p for p in ("run.py", "build.sbt", "src", "digests.tsv")]),
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    })
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in record["metrics"]]
    if missing:
        fail(f"the run did not measure {missing}")
    record["units"] = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    line = json.dumps(record, sort_keys=True)
    with open(os.path.join(out_dir, "results.jsonl"), "a") as fh:
        fh.write(line + "\n")
    print(line)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": record["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
