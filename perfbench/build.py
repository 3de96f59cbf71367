#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources (perfbench/src) into one jar, with the
Scala compiler that ships in the Spark distribution.

    python3 perfbench/build.py          # prints the path of the jar

The output goes under $CARGO_TARGET_DIR (default .bench_build) of the
checkout. A stamp holding the hash of every source makes a rebuild of
unchanged sources a no-op.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that belongs to a distribution with a Scala
    compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler; set SPARK_HOME")


def out_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: src/main/scala is missing; run from a full checkout of graft")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if the sources changed; return (jar, source hash)."""
    srcs = sources()
    jars = spark_jars()
    digest = source_hash(srcs)
    out = out_dir()
    os.makedirs(out, exist_ok=True)
    jar = os.path.join(out, "perfbench-classes.jar")
    stamp = jar + ".stamp"
    with open(os.path.join(out, "perfbench-build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(jar) and os.path.exists(stamp) and open(stamp).read() == digest:
            return jar, digest
        classes = os.path.join(out, "perfbench-classes.tmp")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "perfbench-sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=840)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            raise SystemExit(f"perfbench: compilation failed (exit {r.returncode})")
        # one jar, so the JVM can keep a class-data-sharing archive of it
        # (run.py); an archive of the previous jar no longer applies
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for dirpath, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    p = os.path.join(dirpath, f)
                    z.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        os.replace(jar + ".tmp", jar)
        for stale in glob.glob(os.path.join(out, "perfbench-classes.jsa*")):
            os.remove(stale)
        with open(stamp, "w") as f:
            f.write(digest)
    return jar, digest


if __name__ == "__main__":
    print(build()[0])
