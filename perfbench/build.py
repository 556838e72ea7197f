"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala`) and the benchmark's own
(`perfbench/src`) with the Scala compiler that ships with the Spark
distribution, against Spark's jars, so no build tool or network is needed.
Outputs go to `<build dir>/engine-<hash>` and `<build dir>/bench-<hash>`,
keyed by a hash of the sources: an unchanged tree is not recompiled.

    python3 perfbench/build.py [build dir]     # default: .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else the install `spark-submit` is from."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("Spark not found: set SPARK_HOME")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {home}")
    return jars


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError(f"no Scala sources under {root}")
    return found


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_into(out, files, classpath, jars):
    if os.path.exists(os.path.join(out, ".done")):
        return
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)


def build(build_dir):
    """Compile what changed; return the run classpath."""
    jars = spark_jars()
    engine_files = sources(ENGINE_SRC)
    bench_files = sources(BENCH_SRC)
    engine_key = digest(engine_files)
    engine = os.path.join(build_dir, "engine-" + engine_key)
    bench = os.path.join(build_dir, "bench-" + digest(bench_files, engine_key))
    os.makedirs(build_dir, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    compile_into(engine, engine_files, spark_cp, jars)
    compile_into(bench, bench_files, os.pathsep.join([engine, spark_cp]), jars)
    keep = {engine, bench}
    for old in glob.glob(os.path.join(build_dir, "engine-*")) + glob.glob(os.path.join(build_dir, "bench-*")):
        if old not in keep and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return os.pathsep.join([bench, engine, spark_cp])


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    try:
        print(build(os.path.abspath(target)))
    except BuildError as e:
        sys.exit(f"build: {e}")
