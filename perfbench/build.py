"""Build file of the benchmark package: compiles the engine's main sources
together with the harness in `perfbench/scala/` into one class directory.

The compiler is the Scala 2.13 compiler that ships among the Spark jars the
engine builds against (the `unmanagedBase` of the repository's `build.sbt`,
or `$SPARK_HOME/jars`), so a build needs no dependency resolution. Output is
keyed by a digest of every source file, so an unchanged checkout builds once.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def repo_sources():
    """The engine's main sources; raises BuildError outside a full checkout."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(main):
        raise BuildError(f"no engine sources: expected build.sbt and src/main/scala under {ROOT}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no .scala files under {main}")
    return files


def spark_jars():
    """Directory of the Spark (and Scala compiler) jars."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("Spark jars not found: set SPARK_HOME")


def classpath(jars):
    return os.path.join(jars, "*")


def build():
    """Compile if needed; returns the class directory."""
    sources = repo_sources() + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for path in sources:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    log = os.path.join(OUT, "build.log")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath(jars), "@" + argfile]
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise BuildError(f"scalac failed ({rc}):\n{tail}")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
