"""Builds the program and the benchmark's JVM side from source.

The program (`src/main/scala`) and then the harness (`benchmark/scala`)
are compiled by the Scala compiler that ships in the Spark jars directory,
with no build server and no dependency download. Each lands in its own
`.bench_build/<program|harness>-<hash>` directory, keyed by a hash of its
sources, so a checkout builds once.

Usage: python3 benchmark/build.py   (prints the classpath)
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


def spark_home():
    """$SPARK_HOME, else the installation `spark-submit` belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(spark_home(), "jars")


class BuildError(Exception):
    pass


def scala_files(root):
    return sorted(glob.glob(os.path.join(root, "**/*.scala"), recursive=True))


def compiler_jars():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, name + "-2.13.*.jar")))
        if not found:
            raise BuildError(f"no {name} jar in {SPARK_JARS}")
        jars.append(found[-1])
    return jars


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def compile_into(name, srcs, classpath, jars):
    """Compiles `srcs` into .bench_build/<name>-<hash of srcs, classpath>
    unless that directory exists; returns it."""
    out = os.path.join(BUILD, f"{name}-{digest(srcs + jars)}-"
                       + hashlib.sha256(classpath.encode()).hexdigest()[:8])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, name + "-*")):
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.remove(old)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, name + "-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + BUILD,
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath,
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed on {name}:\n" + r.stdout[-4000:])
    os.replace(tmp, out)
    return out


def jar_of(classes):
    """The classes packed as a jar beside them: the JVM's class-data
    sharing archives classes from jars only."""
    jar = classes + ".jar"
    if not os.path.exists(jar):
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
        os.replace(jar + ".tmp", jar)
    return jar


def ensure():
    """Compiles what changed; returns the run classpath."""
    program = scala_files(os.path.join(ROOT, "src", "main", "scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    jars = compiler_jars()
    spark = os.path.join(SPARK_JARS, "*")
    cp = jar_of(compile_into("program", program, spark, jars)) + os.pathsep + spark
    bench = compile_into("harness", scala_files(os.path.join(HERE, "scala")), cp, jars)
    return jar_of(bench) + os.pathsep + cp


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
