"""Build file of the benchmark: compiles the program's sources together with
the harness under perfbench/src into one class directory.

It calls the Scala compiler that ships with the Spark distribution directly
(no sbt, no downloads), against the same Spark jars the program builds with.
The output lives in $CARGO_TARGET_DIR if set, else .bench_build/, and is
reused while no source file changed.

    python3 perfbench/build.py          # build if stale, print the class dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler under {jars}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"program sources not found: {PROGRAM_SRC}")
    files = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if any source changed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".new"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={build_dir()}", "-cp", cp,
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                        "@" + argfile], capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit("compilation failed")
    subprocess.run(["rm", "-rf", out], check=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def classpath():
    return build() + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    print(build())
