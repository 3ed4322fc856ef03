"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's Scala runner into one class directory, with the Scala compiler that
ships inside the Spark distribution (no build tool, no network).

    python3 perfbench/build.py

Prints the classpath to run the runner with. The build is skipped when a
stamp of every source file's path, size and mtime matches the last build.
A cold build compiles the whole engine (about 20 s on a 4-core machine).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "build")
BUILD_TIMEOUT_S = 700
# what spark-submit would add for Spark on JDK 17
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_home():
    """`SPARK_HOME`, else the distribution whose `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home


def spark_jars():
    home = spark_home()
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark distribution found at {home} (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("engine sources not found under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    jars = spark_jars()
    srcs = sources()
    stamp = hashlib.sha256("\n".join(
        f"{p}:{os.path.getsize(p)}:{os.path.getmtime(p)}" for p in srcs).encode()).hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    # compile next to the live class directory and swap it in whole, so a
    # build never leaves a half-written class directory behind
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", fresh, "-classpath", f"{jars}/*", *srcs],
        check=True, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_command(cp, main, tmp, heap="3g"):
    """The JVM command line that runs `main` from the build."""
    # no hsperfdata file: the JVM would write it to /tmp whatever the temp dir
    return ["java", "-XX:-UsePerfData", f"-Xmx{heap}",
            *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS],
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-cp", cp, main]


if __name__ == "__main__":
    print(build())
