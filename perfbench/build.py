"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars,
into a directory keyed by a hash of every input, so an unchanged tree builds
once. Run from the repository root:

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

SOURCES = ["src/main/scala", "src/main/resources", "perfbench/src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("perfbench: Spark's jars not found; set SPARK_HOME")
    return jars


def build_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def inputs():
    for top in SOURCES:
        if not os.path.isdir(top):
            sys.exit(f"perfbench: {top} is missing; run from the repository root")
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile if needed; returns the classes directory."""
    h = hashlib.sha256()
    for path in list(inputs()) + [os.path.abspath(__file__)]:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = os.path.join(spark_jars(), "*")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [p for p in inputs() if p.endswith(".scala") and not p.startswith("src/main/resources")]
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala))
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compilation failed ({rc})")
    os.remove(argfile)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
