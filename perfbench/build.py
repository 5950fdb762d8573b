"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark client (`perfbench/scala`)
into one class directory with the Scala 2.13 compiler that ships in the
Spark distribution's jars, against those jars.

The output directory carries a stamp, the SHA-256 of every compiled source
file and of the compiler jar's name; a build whose stamp matches is reused.

    python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the Spark install whose
    `spark-submit` is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME (no spark-submit on the PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return engine, bench


def compiler_cp():
    jars = spark_jars()
    names = ["scala-compiler", "scala-library", "scala-reflect"]
    cp = []
    for n in names:
        hits = sorted(glob.glob(os.path.join(jars, f"{n}-2.13.*.jar")))
        if not hits:
            raise SystemExit(f"build: no {n} jar under {jars}")
        cp.append(hits[-1])
    return cp


def build(out=None, log=sys.stderr):
    """Compile if needed; returns the class directory."""
    out = out or build_dir()
    engine, bench = sources()
    if not engine:
        raise SystemExit(f"build: no engine sources under {ROOT}/src/main/scala")
    cp = compiler_cp()
    h = hashlib.sha256(os.path.basename(cp[0]).encode())
    for f in engine + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(engine + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(cp),
           "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(spark_jars(), "*"),
           "@" + argfile]
    print(f"build: compiling {len(engine)} engine + {len(bench)} benchmark sources",
          file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log, timeout=800)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
