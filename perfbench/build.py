"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark driver
(`perfbench/scala`) from source with the Scala 2.13 compiler that ships in
Spark's jar directory, into one jar under `.bench_build/`. A content hash of
every source file names the jar, so an existing build is reused only while
the sources are unchanged.

    python3 perfbench/build.py        # from the repository root
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


def spark_jars(root):
    """The Spark jar directory the repository's own build.sbt compiles against
    (its `unmanagedBase`); it also holds the Scala compiler."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: no unmanagedBase in build.sbt")
    return m.group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "scala")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory missing: {os.path.relpath(d, root)}")
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def build(root, log=sys.stderr):
    """Compile if any source changed; return the path of the jar."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    bdir = os.path.join(root, ".bench_build")
    jar = os.path.join(bdir, f"perfbench-{h.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    jars = spark_jars(root)
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            raise SystemExit(f"build: missing {j}")
    out = os.path.join(bdir, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for old in glob.glob(os.path.join(bdir, "perfbench-*.jar")) + \
            glob.glob(os.path.join(bdir, "perfbench-*.jsa")):
        os.remove(old)
    argfile = os.path.join(bdir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", out, "@" + argfile]
    print(f"build: compiling {len(srcs)} Scala sources", file=log)
    r = subprocess.run(cmd, cwd=root, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    # one jar, not a class directory: the JVM's class-data archive of a run
    # (see run.py) only accepts jars on the class path
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(out):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
