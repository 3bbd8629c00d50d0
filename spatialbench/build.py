"""Build file of the spatial-join benchmark.

Compiles the library (`src/main/scala` of the checkout) and the benchmark
(`spatialbench/src`) with the Scala compiler that ships in Spark's jars
directory, packs each into a jar under `.bench_build/` at the checkout
root, then runs the benchmark's self-test once in a JVM that dumps the
classes it loaded into a class-data-sharing archive. Benchmark JVMs map that
archive instead of loading and verifying Spark's classes again, which
takes seconds off every run's cold start. A build is reused while no source
file changes. Run it alone with `python3 spatialbench/build.py`.
"""

import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase`
    the library's build.sbt compiles against, else pyspark's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        pass
    try:
        import pyspark  # noqa: F401 - only its location is used
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("spatialbench: no Spark jars directory with a Scala compiler found")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(d):
    out = []
    for dirpath, _, files in os.walk(d):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_classpath(jars):
    return sorted(glob.glob(os.path.join(jars, "*.jar")))


def scalac(jars, classpath, jar, files):
    """Compiles `files` against `classpath` into the jar file `jar`."""
    out = jar + ".classes"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(spark_classpath(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=840)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(out):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out)
    os.remove(argfile)


def up_to_date(target, want):
    f = target + ".stamp"
    return os.path.exists(target) and os.path.exists(f) and open(f).read().strip() == want


def mark(target, want):
    with open(target + ".stamp", "w") as fh:
        fh.write(want)


def jvm_command(classpath, archive=None, dump=None):
    """The benchmark JVM: Spark 4 on JDK 17 needs the --add-opens (as in the
    library's build.sbt); fixed heap and young generation with the
    throughput collector, as the library's own bench runs use."""
    opens = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]
    cds = []
    if dump:
        cds = [f"-XX:ArchiveClassesAtExit={dump}"]
    elif archive and os.path.exists(archive):
        cds = [f"-XX:SharedArchiveFile={archive}"]
    return ([java()] + opens + JVM_FLAGS + cds
            + ["-Xlog:disable", "-Xlog:all=warning:stderr",
               "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
               "-cp", os.pathsep.join(classpath), "spatialbench.Main"])


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [
    "-Xmx3g", "-Xms3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=512m",
    "-XX:-DontCompileHugeMethods", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
]
ARCHIVE = os.path.join(BUILD_DIR, "spatialbench.jsa")


def dump_archive(classpath, want):
    """Runs the self-test once, dumping the loaded classes into ARCHIVE. A
    failed dump only costs speed: runs then start without the archive."""
    train = os.path.join(BUILD_DIR, "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    print("spatialbench: running the self-test to dump the class archive", file=sys.stderr, flush=True)
    # the dump warns about every class it cannot archive: keep it quiet
    cmd = ([c for c in jvm_command(classpath, dump=ARCHIVE) if c != "-Xlog:all=warning:stderr"]
           + ["--self-test", "--out", os.path.join(train, "out"), "--data", os.path.join(train, "data")])
    cmd.insert(1, "-Djava.io.tmpdir=" + os.path.join(train, "tmp"))
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=600)
        if r.returncode != 0:
            print("spatialbench: self-test failed during the build", file=sys.stderr)
    except subprocess.TimeoutExpired:
        print("spatialbench: self-test timed out during the build", file=sys.stderr)
    shutil.rmtree(train, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        mark(ARCHIVE, want)


def build():
    """Builds when needed; returns the run-time classpath (a list of jars)."""
    jars = spark_jars()
    lib, bench = sources(LIB_SRC), sources(BENCH_SRC)
    if not lib:
        raise SystemExit("spatialbench: no library sources under src/main/scala")
    os.makedirs(BUILD_DIR, exist_ok=True)
    lib_jar, bench_jar = os.path.join(BUILD_DIR, "graft.jar"), os.path.join(BUILD_DIR, "spatialbench.jar")
    spark_cp = spark_classpath(jars)
    classpath = [bench_jar, lib_jar] + spark_cp
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        lib_stamp = stamp(lib, jars)
        if not up_to_date(lib_jar, lib_stamp):
            print(f"spatialbench: compiling the library ({len(lib)} files)", file=sys.stderr, flush=True)
            scalac(jars, spark_cp, lib_jar, lib)
            mark(lib_jar, lib_stamp)
        bench_stamp = stamp(bench, lib_stamp)
        if not up_to_date(bench_jar, bench_stamp):
            print(f"spatialbench: compiling the benchmark ({len(bench)} files)", file=sys.stderr, flush=True)
            scalac(jars, [lib_jar] + spark_cp, bench_jar, bench)
            mark(bench_jar, bench_stamp)
        if not up_to_date(ARCHIVE, bench_stamp):
            if os.path.exists(ARCHIVE):
                os.remove(ARCHIVE)
            dump_archive(classpath, bench_stamp)
    return classpath


if __name__ == "__main__":
    print(os.pathsep.join(build()))
