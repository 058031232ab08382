"""Build file of the benchmark package: compiles graft's main sources
(`src/main/scala` of the checkout) together with the harness under
`perfbench/src` into one class directory, with the Scala compiler and
the jars that ship with the Spark distribution (`$SPARK_HOME/jars`).

    python3 perfbench/build.py      # from the checkout root

The class directory is keyed by a hash of every source file, so a
changed source rebuilds and an unchanged one is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jars of the Spark distribution graft runs on."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: set SPARK_HOME to the Spark distribution")
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()


def sources(root):
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def compiler_jars():
    want = ("scala-compiler-", "scala-library-", "scala-reflect-")
    jars = [j for j in classpath() if os.path.basename(j).startswith(want)]
    if len(jars) != 3:
        raise SystemExit(f"build: scala compiler jars not found in {SPARK_JARS}")
    return jars


def build(root="."):
    """Returns the class directory, compiling first if needed."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        raise SystemExit("build: no graft sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    args = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler_jars()),
            "scala.tools.nsc.Main", "-nowarn", "-d", out,
            "-classpath", ":".join(classpath())] + srcs
    res = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build: compilation failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
