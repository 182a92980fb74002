"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (``perfbench/src``) against Spark's jars, with the
Scala compiler those jars ship, into ``<out>/classes``; then dumps
``SparkEntry.oracleSql`` to ``<out>/oracle_sql.json``.

The build is skipped when a stamp of every source file's content matches
the previous build. Usage: python3 perfbench/build.py [out_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# org.apache.spark.launcher.JavaModuleOptions lists.
JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    files = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(out):
    return os.path.join(out, "classes") + os.pathsep + spark_jars()


def java_cmd(out, heap, main, *args):
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData"] +
            JDK17_OPENS +
            ["-cp", classpath(out), main, *args])


def build(out):
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-d", classes, "-classpath", jars, f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:] +
                         r.stderr[-4000:])
    r = subprocess.run(java_cmd(out, "1g", "perfbench.OracleSql",
                                os.path.join(out, "oracle_sql.json")),
                       capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("oracle SQL dump failed:\n" + r.stderr[-4000:])
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(out, exist_ok=True)
    try:
        build(out)
    except BuildError as e:
        sys.exit(f"build failed: {e}")
