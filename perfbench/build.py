"""Build file of the benchmark package: compiles the program (src/main/scala)
and the benchmark runner (perfbench/scala) with the Scala compiler that
ships among the Spark jars, the same jar set the program's build.sbt uses.

Outputs go to $CARGO_TARGET_DIR (default .bench_build) under the checkout:
  program.jar  the program's classes     bench.jar  the runner's classes
Each is rebuilt only when the hash of its sources changes. A rebuild drops
the class-data-sharing archive (app.jsa) that perfbench/run.py makes from
the jars on its first run.

Run: python3 perfbench/build.py   (from the root of the checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("spark-sql_") for j in jars):
        sys.exit(f"build: no Spark jars under {home}/jars (set SPARK_HOME)")
    return os.pathsep.join(jars)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(REPO, d)


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, srcs, classpath, jar):
    stamp = jar + ".stamp"
    digest = _digest(srcs, classpath)
    if os.path.exists(stamp) and os.path.exists(jar):
        with open(stamp) as fh:
            if fh.read() == digest:
                return
    out = jar[:-len(".jar")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print(f"build: compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-classpath", classpath, "-d", out, "-nowarn", *srcs]
    if subprocess.run(cmd).returncode != 0:
        sys.exit(f"build: {name} failed to compile")
    # a jar, not a directory: class-data sharing archives only jar entries
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(out)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), out))
    os.replace(tmp, jar)
    shutil.rmtree(out)
    if os.path.exists(cds_archive()):
        os.remove(cds_archive())
    with open(stamp, "w") as fh:
        fh.write(digest)


def cds_archive():
    return os.path.join(build_dir(), "app.jsa")


def build():
    """Compiles what changed; returns the runtime classpath."""
    base = build_dir()
    jars = spark_jars()
    program = os.path.join(base, "program.jar")
    bench = os.path.join(base, "bench.jar")
    srcs = _sources(os.path.join(REPO, "src", "main"))
    if not srcs:
        sys.exit("build: no program sources under src/main")
    _compile("program", srcs, jars, program)
    _compile("benchmark runner", _sources(os.path.join(HERE, "scala")),
             f"{program}{os.pathsep}{jars}", bench)
    return os.pathsep.join([bench, program, jars])


if __name__ == "__main__":
    print(build())
