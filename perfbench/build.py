"""Build file of the benchmark: compiles the engine's main sources and the
harness in `perfbench/scala` with the Scala compiler that ships in the
Spark jars directory, and gives the command line that launches the harness.

The jars directory is the one the repository's `build.sbt` names as its
`unmanagedBase`, or `$SPARK_HOME/jars` when SPARK_HOME is set. A build is
skipped when a stamp over every source file and the jar list matches.

Run it alone with `python3 perfbench/build.py` from the repository root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "build", "classes")
STAMP = os.path.join(WORK, "build", "stamp")

HEAP = "4g"

# what spark-submit adds on JDK 17 (the same list as the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jars_dir(root):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or run from the repository root")
    return m.group(1)


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no engine sources under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def stamp_of(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(root):
    """Compile if the sources changed; return the launch classpath."""
    jars = jars_dir(root)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars directory {jars} is missing")
    files = sources(root)
    stamp = stamp_of(files, jars)
    cp = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(WORK, "build", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", CLASSES, "-nowarn",
           "-d", CLASSES,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, tmpdir, main_args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", *opens,
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmpdir}",
             f"-Djava.io.tmpdir={tmpdir}",
             "-cp", cp, "perfbench.PerfBench"] + main_args)


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
