"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's JVM client (`perfbench/scala`) with the Scala compiler that
ships in the Spark distribution's jars (the same jars the root build
compiles against), into `perfbench/.build/perfbench.jar`.
A digest of every source file is kept beside the jar, so a checkout
builds once and later runs reuse it. The first run after a build also
writes a class-data-sharing archive of the classes it loaded
(`share_flags`), which later runs map instead of loading those classes
one by one.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "sources.sha1")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the root build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit("Spark jars not found; set SPARK_HOME")
    return jars


def sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"no engine sources under {src}")
    return files + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def digest(files):
    h = hashlib.sha1()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def share_flags():
    """JVM flags that map the class-data-sharing archive, or, when there is
    none yet, write it when the JVM exits (archives need jars, hence the
    jar)."""
    if os.path.exists(ARCHIVE):
        return ["-XX:SharedArchiveFile=" + ARCHIVE, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return ["-XX:ArchiveClassesAtExit=" + ARCHIVE, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    files = sources()
    want = digest(files)
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-encoding", "UTF-8", "-nowarn", "-d", CLASSES, "-classpath", jars,
           "@" + argfile]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        raise SystemExit(f"compile failed ({res.returncode})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as jar:
        for d, _, names in os.walk(CLASSES):
            for n in sorted(names):
                jar.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), CLASSES))
    shutil.rmtree(CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    print(build())
