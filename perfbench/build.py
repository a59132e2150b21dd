"""Builds the program and the benchmark harness from source.

The program is every Scala/Java file under src/main, compiled with the Scala
compiler that ships with the Spark distribution whose jars build.sbt names as
`unmanagedBase` ($SPARK_HOME/jars overrides it); the harness is
perfbench/scala, compiled against it. Both land under the build directory and
are rebuilt only when a source file changes.

Usage: python3 perfbench/build.py   (prints the class path on success)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Class path entry for the Spark distribution's jars."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: no Spark jars (set SPARK_HOME or unmanagedBase in build.sbt)")
    return os.path.join(m.group(1), "*")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def _sources(root):
    out = []
    for ext in ("scala", "java"):
        out += glob.glob(os.path.join(root, "**", f"*.{ext}"), recursive=True)
    return sorted(out)


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, out, classpath, log):
    """Compiles Scala (and any Java) sources into `out`; output goes to `log`."""
    jars = spark_jars()
    os.makedirs(out, exist_ok=True)
    scala = [f for f in files if f.endswith(".scala")]
    java = [f for f in files if f.endswith(".java")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + scala + java
    with open(log, "w") as fh:
        subprocess.run(cmd, check=True, stdout=fh, stderr=subprocess.STDOUT)
        if java:
            subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-d", out,
                            "-cp", f"{out}:{classpath}"] + java,
                           check=True, stdout=fh, stderr=subprocess.STDOUT)


def _stage(name, files, classpath, root, key):
    """Compiles `files` into <root>/<name> unless the stamp matches `key`."""
    out = os.path.join(root, name)
    stamp = out + ".sha256"
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == key:
                return out
        os.remove(stamp)
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    _compile(files, out, classpath, out + ".log")
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def source_key():
    """Digest of every program and harness source file."""
    return _digest(_sources("src/main") + _sources(os.path.join(HERE, "scala")))


def build():
    """Returns the runtime class path (program + harness + Spark jars)."""
    program = _sources("src/main")
    if not program:
        raise SystemExit("build: no program sources under src/main "
                         "(run from the root of a checkout)")
    jars = spark_jars()
    root = build_dir()
    os.makedirs(root, exist_ok=True)
    prog_key = _digest(program)
    prog_out = _stage("program-classes", program, jars, root, prog_key)
    harness = _sources(os.path.join(HERE, "scala"))
    bench_out = _stage("bench-classes", harness, f"{prog_out}:{jars}", root,
                       prog_key + _digest(harness))
    return f"{bench_out}:{prog_out}:{jars}"


if __name__ == "__main__":
    try:
        print(build())
    except subprocess.CalledProcessError as e:
        sys.exit(f"build failed: {e}")
