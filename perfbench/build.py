"""Build file of the benchmark package.

Compiles graft's own sources (`src/main/scala`) and then the benchmark's
sources (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution's `jars/` directory (the same jars build.sbt compiles
against), into `.bench_build/` under the repository root. Each step is
skipped when the stamp of its inputs is unchanged, so only the first run
in a checkout pays for compilation: about 35 s on 4 cores, and at most
BUILD_BUDGET_S in all.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join("perfbench", "src")
DIGESTS = os.path.join("perfbench", "digests.tsv")
# both compiles together; a building run must end within 900 s
BUILD_BUDGET_S = 700


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one next to `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found; set JAVA_HOME")
    return exe


def sources(root, rel):
    return sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))


def stamp(root, files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_scala(root, srcs, out, classpath, log, deadline):
    """scalac `srcs` into `out`, atomically: a failed compile leaves no
    output directory behind."""
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(root, BUILD_DIR, "tmp"), exist_ok=True)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(root, BUILD_DIR, "tmp"),
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath, "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                            timeout=max(1.0, deadline - time.monotonic())).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as lf:
            raise BuildError("scalac failed:\n" + lf.read()[-4000:])
    os.rename(tmp, out)


def ensure_built(root):
    """Returns (classpath, benchmark stamp, seconds spent compiling),
    compiling what is stale. The benchmark stamp covers the benchmark's
    sources and digest table only, not graft's."""
    prog_srcs = sources(root, PROGRAM_SOURCES)
    bench_srcs = sources(root, BENCH_SOURCES)
    if not prog_srcs or not bench_srcs:
        raise BuildError("run from the repository root: %s and %s must hold Scala sources"
                         % (PROGRAM_SOURCES, BENCH_SOURCES))
    jars = os.path.join(spark_jars(), "*")
    compiler = os.path.basename(glob.glob(os.path.join(spark_jars(), "scala-compiler-*.jar"))[0])
    build = os.path.join(root, BUILD_DIR)
    os.makedirs(build, exist_ok=True)
    t0 = time.monotonic()
    deadline = t0 + BUILD_BUDGET_S
    compiled = False

    prog_stamp = stamp(root, prog_srcs, compiler)
    prog_out = os.path.join(build, "program-" + prog_stamp)
    if not os.path.isdir(prog_out):
        for old in glob.glob(os.path.join(build, "program-*")):
            shutil.rmtree(old, ignore_errors=True)
        compile_scala(root, prog_srcs, prog_out, jars, os.path.join(build, "program.log"), deadline)
        compiled = True

    bench_stamp = stamp(root, bench_srcs, prog_stamp)
    bench_out = os.path.join(build, "bench-" + bench_stamp)
    if not os.path.isdir(bench_out):
        for old in glob.glob(os.path.join(build, "bench-*")):
            shutil.rmtree(old, ignore_errors=True)
        compile_scala(root, bench_srcs, bench_out, os.pathsep.join([prog_out, jars]),
                      os.path.join(build, "bench.log"), deadline)
        compiled = True
    digests = os.path.join(root, DIGESTS)
    bench_only = stamp(root, bench_srcs + ([digests] if os.path.exists(digests) else []), compiler)
    return (os.pathsep.join([bench_out, prog_out, jars]), bench_only,
            time.monotonic() - t0 if compiled else 0.0)


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd())[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
