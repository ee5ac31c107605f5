#!/usr/bin/env python3
"""The benchmark's build file: compiles the program and the benchmark.

The repository's `src/main/scala` and `perfbench/scala` are compiled in one
pass by the Scala compiler that ships in Spark's jar directory, against that
same directory: the Scala version and classpath `build.sbt` uses, with no
dependency resolution. The directory is `$SPARK_HOME/jars`, else the
`unmanagedBase` of `build.sbt`. Output goes to `.bench_build/<hash>/app.jar`,
where the hash covers every source file and this build file, so an unchanged
tree compiles once. A jar rather than a class directory, because the JVM
keeps a class-data archive (see run.py) only for a classpath of jars.

    python3 perfbench/build.py      # builds if needed, prints the build dir
"""
import fcntl
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        raise BuildError(f"no Scala {SCALA} compiler in {jars}; set SPARK_HOME")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"no program sources at {program}")
    return sorted(glob.glob(program + "/**/*.scala", recursive=True)
                  + glob.glob(HERE + "/scala/**/*.scala", recursive=True))


def jar(build_dir):
    return os.path.join(build_dir, "app.jar")


def ensure():
    """Returns the build directory, compiling first when it is missing."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256(SCALA.encode())
    with open(__file__, "rb") as fh:
        h.update(fh.read())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    build_dir = os.path.join(OUT, h.hexdigest()[:16])
    done = os.path.join(build_dir, "BUILD_OK")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isfile(done):
            compiler = [os.path.join(jars, f"scala-{j}-{SCALA}.jar")
                        for j in ("compiler", "library", "reflect")]
            cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                   "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
                   "-d", jar(build_dir), "-classpath", os.path.join(jars, "*")] + files
            proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                                  stderr=subprocess.STDOUT, text=True)
            if proc.returncode != 0:
                raise BuildError("compile failed:\n" + proc.stdout[-4000:])
            open(done, "w").close()
    return build_dir


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
