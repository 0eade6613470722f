"""The benchmark's build file: compiles Graft's main sources together
with the benchmark driver into one class directory.

It calls the Scala compiler that ships with Spark's jars directly (no
sbt), so a build reads only the sources, the Spark jars and the JDK,
and writes only under the build directory. A stamp of every source's
content skips the compile when nothing changed.

    python3 perfbench/build.py [build_dir]      # default: .bench_build
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars():
    """The jar directory Graft's own build.sbt compiles against
    (`unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def sources():
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + os.path.join(_spark_jars(), "*")


def stamp():
    """Digest of every source file's path and content."""
    digest = hashlib.sha256()
    for s in sources():
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    return digest.hexdigest()


def build(build_dir):
    """Compile if any source changed; returns the class directory."""
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0]) for s in srcs):
        raise SystemExit(f"build: no Graft sources under {SOURCE_DIRS[0]}")
    jars = _spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    stamp_now = stamp()
    out = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp_now:
        return out
    if os.path.exists(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {proc.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp_now)
    return out


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
    os.makedirs(d, exist_ok=True)
    print(build(d))
