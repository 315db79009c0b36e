"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark harness (`e2ebench/src`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/`.

    python3 e2ebench/build.py        # from the repository root

A build is skipped when the sources' hash matches the last build's.
Exits non-zero when the program sources are missing or do not compile.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

OUT = ".bench_build"


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    directory the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, out, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", out, "-classpath", classpath] + files
    subprocess.run(cmd, check=True)


def build():
    """Returns the classpath entries (class directories) of the built
    harness and program."""
    program = sources("src/main/scala")
    harness = sources("e2ebench/src")
    if not program:
        raise SystemExit("build: no program sources under src/main/scala")
    stamp_file = os.path.join(OUT, "stamp")
    stamp = digest(program + harness)
    classes, bench = os.path.join(OUT, "classes"), os.path.join(OUT, "harness")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        subprocess.run(["rm", "-rf", classes, bench, stamp_file], check=True)
        scalac(program, classes, f"{spark_jars()}/*")
        scalac(harness, bench, f"{classes}:{spark_jars()}/*")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return [os.path.abspath(bench), os.path.abspath(classes)]


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except subprocess.CalledProcessError as e:
        sys.exit(f"build failed: {e}")
