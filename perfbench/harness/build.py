"""Builds the engine and the benchmark from source with scalac.

Both compile against the Spark distribution's jars (which include
scala-compiler): the engine's sources into .bench_build/perfbench/engine.jar,
then the benchmark's against it into bench.jar. Each step is skipped when
a stamp of its inputs is unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
BENCH_SRC = "perfbench/src"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with scala-compiler "
                         "(set SPARK_HOME)")
    return jars


def sources(root, base):
    return sorted(glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(target, want):
    """True when `target` exists and was made from inputs stamped `want`."""
    st = target + ".stamp"
    return os.path.exists(target) and os.path.exists(st) and open(st).read() == want


def mark(target, want):
    with open(target + ".stamp", "w") as fh:
        fh.write(want)


def compile_jar(files, classpath, jar, want):
    if fresh(jar, want):
        return
    print(f"perfbench: compiling {len(files)} sources into {jar}", file=sys.stderr, flush=True)
    tmp = jar + ".tmp.jar"
    cp = os.pathsep.join(classpath)
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", classpath[-1],
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + files,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed with code {r.returncode}")
    os.replace(tmp, jar)
    mark(jar, want)


def ensure(root, out_dir):
    """Returns the benchmark's classpath, building whatever is stale."""
    engine = sources(root, ENGINE_SRC)
    bench = sources(root, BENCH_SRC)
    if not engine or not bench:
        raise SystemExit(f"perfbench: sources not found under {ENGINE_SRC} and "
                         f"{BENCH_SRC}; run from the repository root")
    spark = os.path.join(spark_jars(), "*")
    engine_jar = os.path.join(out_dir, "engine.jar")
    bench_jar = os.path.join(out_dir, "bench.jar")
    engine_stamp = stamp(engine)
    bench_stamp = stamp(bench, engine_stamp)
    compile_jar(engine, [spark], engine_jar, engine_stamp)
    compile_jar(bench, [engine_jar, spark], bench_jar, bench_stamp)
    return [engine_jar, bench_jar, spark]
