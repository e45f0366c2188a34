"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`cdcbench/src`) with
the Scala compiler that ships among the Spark jars, into
`.bench_build/classes`. A build is reused while a hash of every source file
is unchanged.

Run: `python3 cdcbench/build.py` from the repository root.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_jars():
    """The Spark installation's jars (the Scala compiler ships among them):
    `$SPARK_HOME/jars`, else beside the `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home, "jars") if home else None


SPARK_JARS = _spark_jars()


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(root, "cdcbench", "src")]
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(root):
    return os.path.join(root, ".bench_build", "classes") + ":" + SPARK_JARS + "/*"


def build(root):
    """Compile if needed; returns the classes directory."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    srcs = sources(root)
    h = hashlib.sha1()
    for f in srcs:
        h.update(f[len(root):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    with open(os.path.join(out, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", SPARK_JARS + "/*", "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-20000:])
            raise SystemExit("build failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    build(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
