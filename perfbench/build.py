"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) into .bench_build/graft-bench.jar, then
archives the classes a session start loads for class-data sharing.

The program's build (build.sbt) takes its whole runtime classpath from the
Spark distribution's jar directory (its `unmanagedBase`) and has no other
main dependency, so this build compiles both source trees with the Scala
compiler that ships in those jars.  The class-data archive cuts every run's JVM start-up (about
12 s to 6 s to a first job on a 4-core host); a run without it works the
same, only slower to start.  A stamp over every source file makes a
rebuild happen only when a source changed.

Usage (from the root of a checkout):  python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
JAR = os.path.join(BUILD, "graft-bench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]
JVM_HEAP = "3g"
# what spark-submit would add on JDK 17 (as build.sbt's javaOptions)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    """The program's whole runtime classpath: the jar directory build.sbt
    names as `unmanagedBase`, else `$SPARK_HOME/jars`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("build: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def java_cmd(work, dump_archive=False):
    """The JVM command line every harness run uses, up to the main class."""
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log",
           f"-Dderby.system.home={work}/derby"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if dump_archive:
        cmd.append(f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    elif os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    return cmd + ["-cp", f"{JAR}:{spark_jars()}/*"]


def sources():
    found = []
    for root in SOURCE_ROOTS:
        if not os.path.isdir(root):
            raise SystemExit(f"build: no {root} here; run from the root of a checkout")
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256(spark_jars().encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    for f in (stamp_file, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    jars = f"{spark_jars()}/*"
    subprocess.run(["java", "-Xmx2g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", jars, "-d", classes] + files,
                   check=True, stdout=sys.stderr)
    subprocess.run(["jar", "cf", JAR, "-C", classes, "."], check=True)
    work = os.path.abspath(os.path.join(BUILD, "cds-work"))
    subprocess.run(java_cmd(work, dump_archive=True) + ["perfbench.Harness", "cds", work],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
