"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory (the sbt build's `unmanagedBase`), into a
build directory of the checkout.

    python3 perfbench/build.py          # build if sources changed

The build is skipped when a stamp of every source file's path and content
hash matches the last successful build.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: the `unmanagedBase` of the sbt build, so the
    benchmark compiles against exactly the jars the program is built with."""
    with open(os.path.join(REPO, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build_dir():
    """Where builds and runs put their files; CARGO_TARGET_DIR names the
    checkout's build directory when it is set."""
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(REPO, base)
    return os.path.join(base, "perfbench")


def sources():
    prog = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog, bench


def classpath(out):
    return os.path.join(spark_jars(), "*") + os.pathsep + os.path.join(out, "classes")


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compiles when needed; returns the classes directory. Raises on error."""
    prog, bench = sources()
    if not prog:
        raise RuntimeError("no program sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found at " + jars)
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    want = stamp(prog + bench)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(prog + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    print("perfbench: compiling %d sources" % (len(prog) + len(bench)), file=log)
    res = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if res.returncode != 0:
        raise RuntimeError("scalac failed with code %d" % res.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report any build failure
        print("perfbench build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
