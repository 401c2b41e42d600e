"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala 2.13 compiler
against the Spark jars, packs them into .bench_build/perfbench.jar, and
records a class-data-sharing archive from one training JVM that runs every
workload at smoke size, so each benchmark JVM starts from the same
pre-parsed classes. Rebuilds only when a source file changed. Needs a JDK,
the Spark jars (SPARK_HOME, else the engine's sbt `unmanagedBase`) and a
scala-compiler 2.13 jar in the local coursier or sbt cache; it
downloads nothing.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SCALA_VERSION = "2.13.17"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
STAMP = os.path.join(BUILD, "build.stamp")
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def spark_jars():
    """SPARK_HOME's jars, else the jar directory the engine's own sbt build
    compiles against (its `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"perfbench: engine sources not found at {engine}; "
                 "run from the root of a full checkout")
    own = os.path.join(HERE, "src")
    return sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))


def compiler_classpath():
    """scala-compiler and scala-reflect jars of SCALA_VERSION from the
    local coursier or sbt caches."""
    home = os.path.expanduser("~")
    roots = [os.path.join(home, ".cache", "coursier"), os.path.join(home, ".sbt"),
             os.path.join(home, ".ivy2")]
    found = []
    for name in ("scala-compiler", "scala-reflect"):
        jar = f"{name}-{SCALA_VERSION}.jar"
        hits = [h for r in roots
                for h in glob.glob(os.path.join(r, "**", jar), recursive=True)]
        if not hits:
            sys.exit(f"perfbench: {jar} not found in {roots}")
        found.append(hits[0])
    return found


def java_cmd(work, archive_flag):
    """The JVM command line every benchmark JVM shares (the class-data
    archive is valid only for identical options and class path)."""
    cp = os.pathsep.join([JAR, os.path.join(spark_jars(), "*")])
    return (["java", "-Xmx2g", "-XX:-UsePerfData", archive_flag,
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
            [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", cp, "graft.perfbench.Main"])


def compile_jar(srcs, jars):
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    lib = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.pathsep.join(compiler_classpath() + lib),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(CLASSES):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))


def train_archive():
    work = os.path.join(BUILD, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    print("perfbench: recording the class-data archive", file=sys.stderr)
    cmd = java_cmd(work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + [
        "--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "1",
        "--work", work]
    try:
        rc = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=sys.stderr,
                            timeout=600).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        sys.exit("perfbench: the training run failed")


def build():
    """Compile and train if a source changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())   # the JVM options the archive depends on
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    for p in (STAMP, ARCHIVE):
        if os.path.exists(p):
            os.remove(p)
    compile_jar(srcs, jars)
    train_archive()
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
