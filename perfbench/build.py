"""Build file of the benchmark: compiles the engine sources
(`src/main/scala`) together with the benchmark's own sources
(`perfbench/scala`) into one class directory, with the Scala compiler
and the Spark jars of the local Spark installation.

    python3 perfbench/build.py          # from the repository root

The class directory lives under the build directory (`$CARGO_TARGET_DIR`,
default `.bench_build`) and is rebuilt only when a source file changes.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jars directory of the Spark installation: `$SPARK_HOME/jars`,
    else the one next to `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    files = []
    for base in (engine, os.path.join(BENCH_DIR, "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            compiler = (glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                        glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                        glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
            if len(compiler) != 3:
                raise SystemExit("perfbench: the Spark jars lack the Scala 2.13 compiler")
            tmp = classes + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            argfile = os.path.join(out, "sources.txt")
            with open(argfile, "w") as fh:
                fh.write("\n".join(srcs) + "\n")
            cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
                   "-cp", os.pathsep.join(compiler),
                   "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                   "-classpath", os.path.join(jars, "*"), "@" + argfile]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                raise SystemExit("perfbench: compilation failed")
            with open(os.path.join(tmp, ".stamp"), "w") as fh:
                fh.write(stamp)
            shutil.rmtree(classes, ignore_errors=True)
            os.rename(tmp, classes)
    return os.pathsep.join([classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.getcwd()))
