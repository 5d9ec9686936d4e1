"""Build file of the benchmark: compiles graft's sources together with the
benchmark's own Scala sources into one class directory.

It calls the Scala compiler that ships with the Spark distribution, so it
needs nothing beyond a JDK and Spark (`$SPARK_HOME`, else the distribution
whose `spark-submit` is on the PATH).
The output is reused while no source file changes.

    python3 perfbench/build.py            # prints the classpath
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
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution; set SPARK_HOME")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build():
    """Compile when any source changed; return the run classpath."""
    srcs = sources()
    res = os.path.join(ROOT, "src/main/resources")
    digest = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(res, "**/*"), recursive=True)):
        if os.path.isfile(f):
            digest.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    cp = classes + os.pathsep + os.path.join(spark_jars(), "*")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
