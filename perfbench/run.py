#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload browse|snapshot_mix|curate \\
        [--seed N] [--seconds S] [--trace 0|1]

--seconds defaults to BENCHMARK.json's run_seconds.

Builds the library and the benchmark from source (perfbench/build.py),
then runs the workload in its own JVM with one local Spark session. The
last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/README.md). The full
report of the run, and in a traced run its spans, are written under
<build dir>/perfbench-results. Exits non-zero when a step or an output
check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("browse", "snapshot_mix", "curate")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.exists(os.path.join(build.ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_seconds():
    """The measuring time BENCHMARK.json sets, so a run without --seconds
    measures what the benchmark measures."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measuring time (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds is None:
        a.seconds = run_seconds()

    jar, digest = build.build()
    jars = build.spark_jars()
    out = build.out_dir()
    work = os.path.join(out, "perfbench-work", f"{a.workload}-{os.getpid()}")
    results = os.path.join(out, "perfbench-results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"

    # no hsperfdata file in the system temp directory: the run writes
    # only inside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # class-data sharing: the first run in a checkout archives the classes
    # it loaded; later runs start from that archive. JVM messages about
    # the archive go to stderr, never to the result stream.
    jsa = os.path.join(out, "perfbench-classes.jsa")
    jsa_tmp = f"{jsa}.{os.getpid()}"
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    cmd += [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [f"-XX:ArchiveClassesAtExit={jsa_tmp}"]
    cmd += ["-Xmx3g",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.scratch.dir={work}/scratch",
            f"-Dderby.system.home={work}",
            "-cp", jar + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(out, "perfbench-data"), "--out", results]
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit(), PERFBENCH_SOURCE_HASH=digest)
    log_path = os.path.join(results, f"{tag}.stderr.log")
    last = ""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        deadline = time.monotonic() + JVM_TIMEOUT_S

        def kill(*_):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

        old_term = signal.signal(signal.SIGTERM, lambda *x: (kill(), sys.exit(1)))
        try:
            import selectors
            sel = selectors.DefaultSelector()
            sel.register(proc.stdout, selectors.EVENT_READ)
            while True:
                left = deadline - time.monotonic()
                if left <= 0:
                    sys.stderr.write(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S}s\n")
                    return 1
                if not sel.select(timeout=min(left, 1.0)):
                    continue
                line = proc.stdout.readline()
                if not line:
                    break
                if line.strip():
                    last = line.strip()
                sys.stdout.write(line)
                sys.stdout.flush()
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            # on every way out, SIGTERM included: the JVM's process group
            # is killed and reaped, and the work directory removed
            kill()
            proc.wait()
            signal.signal(signal.SIGTERM, old_term)
            shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(jsa_tmp):
        if proc.returncode == 0 and not os.path.exists(jsa):
            os.replace(jsa_tmp, jsa)
        else:
            os.remove(jsa_tmp)

    try:
        result = json.loads(last)
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except ValueError:
        ok = False
    if not ok:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"perfbench: {a.workload} printed no result (exit {proc.returncode})\n")
        return proc.returncode or 1
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
