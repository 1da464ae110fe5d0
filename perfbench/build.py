#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala`) together with the benchmark driver (`perfbench/scala`)
into `.bench_build/bench.jar`, with the Scala compiler and Spark jars of the
installed Spark distribution (`$SPARK_HOME/jars`, or that of the
`spark-submit` on the PATH).

The compile is skipped when a stamp of every source file matches the last
build. The classes go into a jar because the JVM's class-data-sharing
archive (see `cds_args`) accepts only jars on the class path. Run it alone
with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "bench.jar")
STAMP = os.path.join(BUILD, "bench.stamp")


def spark_jars():
    """`$SPARK_HOME/jars`, or the jars of the Spark whose `spark-submit` is
    on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on the PATH")
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def classpath():
    return f"{spark_jars()}/*{os.pathsep}{JAR}"


def cds_args(stamp_):
    """JVM flags for a class-data-sharing archive of this build: the first
    run dumps the classes it loaded (`ArchiveClassesAtExit`), later runs map
    them instead of loading them from 290 jars, which halves JVM and
    session start-up. Returns (flags, path to move into place after a
    clean exit, or None)."""
    final = os.path.join(BUILD, f"bench-{stamp_[:16]}.jsa")
    quiet = ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if os.path.exists(final):
        return [f"-XX:SharedArchiveFile={final}", *quiet], None
    tmp = f"{final}.{os.getpid()}.tmp"
    return [f"-XX:ArchiveClassesAtExit={tmp}", *quiet], (tmp, final)


def ensure(log=sys.stderr):
    """Compile if the sources changed; returns the source stamp."""
    main, bench = sources()
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"perfbench: no Spark jars at {spark_jars()}")
    want = stamp(main + bench)
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return want
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(main) + len(bench)} sources", file=log, flush=True)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(main + bench))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", f"{spark_jars()}/*", "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-8000:], file=log)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD, "bench-*.jsa*")):
        os.remove(old)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return want


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(ensure())
