#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala, from
this checkout) and the benchmark harness (perfbench/src) with the Scala
compiler that ships in the Spark jar directory build.sbt names, into
.bench_build/.

A build is skipped when the digest of every compiled source is unchanged.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars_dir(root):
    """The Spark jar directory: $SPARK_JARS_DIR, else the one build.sbt names."""
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: build.sbt names no unmanagedBase; set SPARK_JARS_DIR")
    return m.group(1)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return engine, bench


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars_dir, out, classpath, files, log):
    compiler = [os.path.join(jars_dir, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", out, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        sys.exit(f"perfbench: compile failed ({out}), see {log}")


def build(root):
    """Compile what changed; return the runtime classpath entries."""
    engine, bench = sources(root)
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala")
    if not bench:
        sys.exit("perfbench: no harness sources under perfbench/src")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    jars_dir = spark_jars_dir(root)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        sys.exit(f"perfbench: no jars under {jars_dir}")
    engine_dir = os.path.join(out, "engine")
    bench_dir = os.path.join(out, "bench")
    resources = os.path.join(root, "src/main/resources")
    stamps = [
        (engine_dir, engine, jars),
        (bench_dir, bench, [engine_dir] + jars),
    ]
    rebuilt = False
    for target, files, cp in stamps:
        stamp = target + ".digest"
        want = digest(files, root)
        have = open(stamp).read() if os.path.exists(stamp) else ""
        if rebuilt or want != have or not os.path.isdir(target):
            scalac(jars_dir, target, cp, files, target + ".log")
            with open(stamp, "w") as f:
                f.write(want)
            rebuilt = True
    entries = [bench_dir, engine_dir]
    if os.path.isdir(resources):
        entries.append(resources)
    return entries + jars, digest(engine, root)


if __name__ == "__main__":
    cp, _ = build(os.getcwd())
    print(":".join(cp))
