"""Build file of the benchmark: compiles the program (`src/main`) and the
benchmark's own sources (`perfbench/src`) into one class directory with
the Scala compiler that ships among the Spark jars.

The Spark jar directory is the one the repository's `build.sbt` names as
`unmanagedBase`; `SPARK_HOME/jars` is the fallback. The build is skipped
when a stamp over every source file and the jar listing is unchanged.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    out = []
    for base, ext in (("src/main/scala", ".scala"), ("perfbench/src", ".scala"),
                      ("src/main/resources", "")):
        top = os.path.join(ROOT, base)
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(ext)]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Returns (class directory, Spark jar directory), compiling if needed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars()
    files = sources()
    key = stamp(files, jars)
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return classes, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out, "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("perfbench: compilation failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
