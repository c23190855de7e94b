"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark's own Scala files (perfbench/scala) with the
Scala compiler that ships in Spark's jars directory, packs the classes
into one jar, and dumps a class-data-sharing archive from a JVM that runs
one small unit of every workload; the archive halves each run's JVM
start.

    python3 perfbench/build.py        # prints the build directory

The build goes to .bench_build/build-<hash of every source file>, so a
checkout rebuilds only when a source changes.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

import gen

BUILD_DIR = ".bench_build"
JAR = "graft-perfbench.jar"
ARCHIVE = "classes.jsa"
# a fixed heap, as Spark launches its executors (-Xms = -Xmx)
HEAP = "4g"
GC = "-XX:+UseParallelGC"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory, $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    return os.path.join(home, "jars")


def main_sources(root):
    return sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))


def bench_sources(root):
    return sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))


def tree_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(out):
    return ":".join([os.path.join(out, JAR)] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def java(out, tmp_dir, *args, dump=False):
    """The JVM command line of a benchmark run (graft.perfbench.Main)."""
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", GC, f"-Djava.io.tmpdir={tmp_dir}"]
    jsa = os.path.join(out, ARCHIVE)
    if dump:
        cmd.append(f"-XX:ArchiveClassesAtExit={jsa}")
    elif os.path.exists(jsa):
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    return cmd + ["-cp", classpath(out), "graft.perfbench.Main"] + list(args)


def build(root):
    main = main_sources(root)
    if not main:
        raise BuildError("no graft sources under src/main/scala")
    srcs = main + bench_sources(root)
    out = os.path.join(root, BUILD_DIR, "build-" + tree_hash(root, srcs)[:16])
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    with open(os.path.join(root, BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one builder per checkout
        if not os.path.exists(os.path.join(out, ".complete")):
            compile_and_prime(root, srcs, out)
    return out


def compile_and_prime(root, srcs, out):
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars in {spark_jars()}")
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", ":".join(jars),
           "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(out, JAR), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    prime(root, out)
    open(os.path.join(out, ".complete"), "w").close()


def prime(root, out):
    """Runs one unit of every workload on tiny inputs in a JVM that dumps
    the classes it loaded into the build's class-data archive."""
    work = os.path.join(out, "prime")
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    gen.generate(data, 1, 0.001)
    os.makedirs(tmp)
    cmd = java(out, tmp, "--workload", "prime", "--seed", "1", "--seconds", "0", "--trace", "0",
               "--data", data, "--out", os.path.join(work, "out"), "--cores", "2",
               "--layers", os.path.join(root, "perfbench/layers.json"), dump=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("priming run failed:\n" + p.stdout[-4000:])


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
