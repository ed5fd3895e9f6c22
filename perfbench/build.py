"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/src`) into `.bench_build/engine.jar` with
the Scala compiler that ships in the Spark distribution the engine builds
against (`unmanagedBase` in build.sbt, else `$SPARK_HOME/jars`). The
classes go into a jar, not a directory, so the JVM's class-data archive
(see run.py) can hold them.

Everything it writes stays under `.bench_build/`. A stamp of the source
digest skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jar directory the engine's own build declares."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: cannot find the Spark jars (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if stale; returns (engine jar, jars dir, source digest)."""
    srcs, jars = sources(), spark_jars()
    sha = digest(srcs)
    jar = os.path.join(OUT, "engine.jar")
    stamp = os.path.join(OUT, "engine.sha256")
    if os.path.isfile(stamp) and open(stamp).read() == sha and os.path.isfile(jar):
        return jar, jars, sha
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", n)]
    if len(compiler) != 3:
        raise SystemExit(f"build: Scala 2.13 compiler jars not found in {jars}")
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "engine-tmp.jar")
    if os.path.exists(tmp):
        os.remove(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: compile failed")
    os.replace(tmp, jar)
    # class-data archives are valid only for the jar they were dumped with
    shutil.rmtree(os.path.join(OUT, "cds"), ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(sha)
    return jar, jars, sha


if __name__ == "__main__":
    print(build()[0])
