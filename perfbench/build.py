"""Build file of the benchmark package.

Compiles the engine (src/main/scala, src/main/java, src/main/resources)
and the benchmark (perfbench/src) into one class directory with the Scala
compiler that ships among Spark's jars; no dependency is resolved. A
stamp over every source lets later runs in the same checkout skip the
build.
"""

import hashlib
import os
import shutil
import subprocess
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found: set SPARK_HOME")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    return jars


def jdk_tool(name):
    """A JDK tool from $JAVA_HOME/bin, else from PATH."""
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / name) if home else name


def _files(root, sub, suffixes):
    base = root / sub
    return sorted(p for p in base.rglob("*") if p.is_file()
                  and (not suffixes or p.suffix in suffixes))


def build(root, out):
    """Builds into out/classes; returns the run classpath string."""
    root, out = Path(root), Path(out)
    if not (root / "src/main/scala").is_dir():
        raise BuildError("no engine sources (src/main/scala) in this directory")
    scala = (_files(root, "src/main/scala", {".scala"})
             + _files(root, "perfbench/src", {".scala"}))
    java = _files(root, "src/main/java", {".java"}) \
        if (root / "src/main/java").is_dir() else []
    resources = _files(root, "src/main/resources", None) \
        if (root / "src/main/resources").is_dir() else []
    jars = spark_jars()
    cp = f"{out / 'classes'}{os.pathsep}{jars / '*'}"

    digest = hashlib.sha256()
    for p in scala + java + resources:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    stamp = out / "stamp"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return cp

    classes = out / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    steps = [
        # scalac reads the Java sources for their signatures ...
        [jdk_tool("java"), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         "-cp", str(jars / "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes)]
        + [str(p) for p in scala + java],
    ]
    if java:
        # ... and javac compiles them against the Scala classes
        steps.append([jdk_tool("javac"), "-J-XX:-UsePerfData",
                      "-encoding", "UTF-8", "-nowarn",
                      "-d", str(classes), "-cp", cp] + [str(p) for p in java])
    for cmd in steps:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            raise BuildError(f"build step failed:\n{r.stdout[-4000:]}")
    res = root / "src/main/resources"
    for p in resources:
        dst = classes / p.relative_to(res)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    stamp.write_text(digest.hexdigest())
    return cp
